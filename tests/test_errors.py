"""Error-message parity suite (test/query_test.rb:761-803, :1290-1335).

The reference asserts exact error SHAPES — a wrapper ``message`` plus a
``root_cause_message`` naming the precise diagnostic (syntax position,
missing object, unmatched function signature, lexical error, timeout).
This suite pins the same shapes on the engine's typed errors.
"""

import pytest

from mondrian_olap_spark.mdx import MdxError, execute_mdx
from mondrian_olap_spark.query import Query, QueryError
from mondrian_olap_spark.result import QueryTimeoutError


def test_invalid_mdx_statement_names_line_column_token(engine):
    """query_test.rb:766-772: "Syntax error at line 1, column 14, token
    'FROM'" root cause for a malformed statement."""
    with pytest.raises(MdxError) as ei:
        execute_mdx(engine, "SELECT [Measures].[Sum Qty] COLUMNS FROM [Sales]")
    rc = ei.value.root_cause_message
    assert rc.startswith("Syntax error at line 1, column ")
    assert "token 'COLUMNS'" in rc


@pytest.mark.parametrize(
    "formula, token",
    [
        ("[Measures].[Sum Qty] AND", "AND"),
        ("[Measures].[Sum Qty] +", "+"),
        ("1 +* 2", "*"),
        ("((([Measures].[Sum Qty]))", "("),
        ("CASE WHEN 1 = 1 THEN 1", "CASE"),
        ("IIf(1 = 1, 2)", "IIf"),
        ("CoalesceEmpty()", "CoalesceEmpty"),
        ("1 + AND (2)", "AND"),
        ("IIf(1 = 1, 2, 3).Name", "IIf"),
    ],
)
def test_malformed_formula_names_line_column_token(engine, formula, token):
    """A formula is parsed whole before it is lowered: a missing operand,
    a stray operator, an unclosed group or CASE and a wrong argument
    count raise MdxError naming the token, its line and its column — not
    a Spark ParseException, and a trailing AND is no longer dropped."""
    with pytest.raises(MdxError) as ei:
        execute_mdx(
            engine,
            "WITH MEMBER [Measures].[X] AS '" + formula.replace("'", "''")
            + "' SELECT [Measures].[X] ON COLUMNS FROM [Sales]",
        )
    rc = ei.value.root_cause_message
    assert rc.startswith("Syntax error at line 1, column ")
    assert rc.endswith(f", token '{token}'")


def test_unknown_measure_builder_root_cause(engine):
    """query_test.rb:774-781: "MDX object '[Measures].[Dummy]' not found
    in cube 'Sales'"."""
    with pytest.raises(QueryError) as ei:
        Query(engine).columns("[Measures].[Dummy]").execute()
    assert (
        ei.value.root_cause_message
        == "MDX object '[Measures].[Dummy]' not found in cube 'Sales'"
    )


def test_unknown_measure_in_formula_root_cause(engine):
    with pytest.raises(MdxError) as ei:
        execute_mdx(
            engine,
            "WITH MEMBER [Measures].[X] AS '[Measures].[Dummy] + 1' "
            "SELECT [Measures].[X] ON COLUMNS FROM [Sales]",
        )
    assert (
        ei.value.root_cause_message
        == "MDX object '[Measures].[Dummy]' not found in cube 'Sales'"
    )


def test_invalid_formula_unknown_function(engine):
    """query_test.rb:783-790: unknown function in a formula surfaces as
    "No function matches signature 'Dummy…'", not a raw Spark analysis
    stack."""
    with pytest.raises(QueryError) as ei:
        (
            Query(engine)
            .with_member("Dummy")
            .as_("Dummy(123)", output="dummy")
            .columns("[Measures].[Dummy]")
            .execute()
        )
    assert ei.value.root_cause_message.startswith(
        "No function matches signature 'Dummy"
    )


def test_lexical_error_root_cause(engine):
    """query_test.rb:792-800: a TokenMgrError-equivalent reports "Lexical
    error" with position."""
    with pytest.raises(MdxError) as ei:
        execute_mdx(engine, "SELECT ~~~ ON COLUMNS FROM [Sales]")
    assert "Lexical error at line 1, column 8" in ei.value.root_cause_message


def test_timeout_error_message(engine):
    """query_test.rb:1290-1335: a query exceeding its timeout raises a
    typed timeout error naming the limit; fast queries under a generous
    timeout succeed."""
    import time

    from mondrian_olap_spark.udf import register_scalar

    spark = engine.fact.sparkSession
    register_scalar(
        spark, "py_sleepy", lambda x: (time.sleep(2.0), float(x))[1]
    )
    q = (
        Query(engine)
        .with_member("Sleepy")
        .as_("py_sleepy(sum_qty)", output="sleepy")
        .columns("[Measures].[Sleepy]")
        .rows("[Customer].children")
    )
    with pytest.raises(QueryTimeoutError, match="timeout of 0.2"):
        q.execute(timeout=0.2).values
    # short query under a long timeout completes (query_test.rb:1333-1335)
    fast = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .execute(timeout=60)
    )
    v = fast.values
    while isinstance(v, list):
        v = v[0]
    assert v > 0


def test_error_message_and_root_cause_are_both_present(engine):
    """Both channels exist on every typed error (the reference's
    error.message + error.root_cause_message pair)."""
    with pytest.raises(QueryError) as ei:
        Query(engine).columns("[Measures].[Dummy]").execute()
    assert str(ei.value)  # wrapper message
    assert ei.value.root_cause_message  # precise diagnostic


def test_mdx_parser_fuzz_never_crashes(engine):
    """Robustness: arbitrary malformed MDX must surface as a TYPED error
    (MdxError/QueryError/ValueError/KeyError), never an unhandled crash
    (AttributeError/TypeError/IndexError/RecursionError) or a hang —
    the error-shape contract holds on garbage, not just on the curated
    negative cases above."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    tokens = st.sampled_from([
        "SELECT", "FROM", "WHERE", "WITH", "MEMBER", "SET", "AS", "ON",
        "COLUMNS", "ROWS", "NON", "EMPTY", "[Sales]", "[Measures].[Sum Qty]",
        "[Customer].[Region]", "{", "}", "(", ")", ",", ".", "'", '"',
        "Children", "Members", "CROSSJOIN", "FILTER", "ORDER", "0", "1.5",
        "+", "-", "*", "/", "]]", "[", "]", ";", "¤", "\\", "DRILLTHROUGH",
        # round-9 surface: set stats, time intelligence, set spellings
        "Median", "LinRegR2", "Percentile", "Rank", "CurrentMember",
        "Ytd", "PeriodsToDate", "LastPeriods", "ParallelPeriod",
        "VISUALTOTALS", "UNION", "INTERSECT", "ALL", "[Time].[Year]",
    ])

    @settings(max_examples=150, deadline=None)
    @given(st.lists(tokens, min_size=1, max_size=12).map(" ".join))
    def fuzz(text):
        try:
            r = execute_mdx(engine, text)
            # a parse that accidentally forms a valid query is fine —
            # force execution so lazy failures surface here too
            if hasattr(r, "df"):
                r.df.limit(1).collect()
        except (MdxError, QueryError, ValueError, KeyError):
            pass  # typed rejection — the contract

    fuzz()

def test_timeout_cancel_is_tag_scoped(engine, monkeypatch):
    """The watchdog cancels ONLY the timed-out query's own (tagged) jobs —
    ``cancelJobsWithTag`` replaces the old ``cancelAllJobs`` sweep, whose
    async processing could reap a LATER query's freshly-submitted job.
    Regression: a timed-out query immediately followed by ≥2 untimed
    queries in one session must leave them untouched."""
    import time

    from mondrian_olap_spark.udf import register_scalar

    spark = engine.fact.sparkSession
    sc = spark.sparkContext
    seen = {}
    real_cancel = sc.cancelJobsWithTag

    def spy(tag):
        seen["tag"] = tag
        return real_cancel(tag)

    def forbidden():
        raise AssertionError("cancelAllJobs must not be used by the watchdog")

    monkeypatch.setattr(sc, "cancelJobsWithTag", spy)
    monkeypatch.setattr(sc, "cancelAllJobs", forbidden)

    register_scalar(
        spark, "py_sleepy_tag", lambda x: (time.sleep(2.0), float(x))[1]
    )
    q = (
        Query(engine)
        .with_member("Sleepy")
        .as_("py_sleepy_tag(sum_qty)", output="sleepy")
        .columns("[Measures].[Sleepy]")
        .rows("[Customer].children")
    )
    with pytest.raises(QueryTimeoutError, match="timeout of 0.2"):
        q.execute(timeout=0.2).values
    assert seen["tag"].startswith("mos-timeout-")
    # subsequent untimed queries run clean in the same session — the old
    # async cancelAllJobs sweep used to shoot these down
    for _ in range(2):
        v = Query(engine).columns("[Measures].[Sum Qty]").execute().values
        while isinstance(v, list):
            v = v[0]
        assert v > 0


def test_collect_error_surfaces_unretried(engine, monkeypatch):
    """An error in the watched collect surfaces immediately — with
    tag-scoped cancellation there is no friendly fire to retry around."""
    DataFrame = type(engine.fact)  # the concrete (classic) DataFrame class
    calls = {"n": 0}

    def broken_collect(self):
        calls["n"] += 1
        raise RuntimeError("executor lost")

    monkeypatch.setattr(DataFrame, "collect", broken_collect)
    with pytest.raises(RuntimeError, match="executor lost"):
        Query(engine).columns("[Measures].[Sum Qty]").execute(timeout=60).values
    assert calls["n"] == 1
