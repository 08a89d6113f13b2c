"""Set-statistic functions in WITH MEMBER formula text.

Mirrors the reference's LinRegR2/LinRegVariance behavior matrix
(/root/reference/test/mondrian_test.rb:608-778, including NaN on NULL
input, 673-686/765-778) plus Median/Stdev/Correlation parity between the
formula-text path (mdx set-stat lowering → plan._attach_stat_scalar) and
the engine-API path (functions.stats.set_aggregate)."""

import math

import pytest

from mondrian_olap_spark.mdx import MdxError, MdxParser, execute_mdx
from mondrian_olap_spark.query import Query, QueryError

RANK = "Rank([Customer].CurrentMember, [Customer].[Region].Members)"
REGIONS = "[Customer].[Region].Members"


def one_row(engine, *members):
    cols = ", ".join(f"[Measures].[{m}]" for m in members)
    formulas = {
        "R2 Flat": f"LinRegR2({REGIONS}, {RANK}, CASE {RANK} WHEN 1 THEN 10 WHEN 2 THEN 30 WHEN 3 THEN 10 END)",
        "R2 Moderate": f"Round(LinRegR2({REGIONS}, {RANK}, CASE {RANK} WHEN 1 THEN 10 WHEN 2 THEN 30 WHEN 3 THEN 25 END), 2)",
        "R2 Perfect": f"LinRegR2({REGIONS}, {RANK}, {RANK} * 10)",
        "R2 Null": f"LinRegR2({REGIONS}, NULL, {RANK})",
        "Var Flat": f"Round(LinRegVariance({REGIONS}, CASE {RANK} WHEN 1 THEN 10 WHEN 2 THEN 30 WHEN 3 THEN 10 END, {RANK}), 2)",
        "Var Null": f"LinRegVariance({REGIONS}, NULL, {RANK})",
        "Slope Perfect": f"LinRegSlope({REGIONS}, {RANK} * 10, {RANK})",
        "Intercept Perfect": f"LinRegIntercept({REGIONS}, {RANK} * 10, {RANK})",
        "Point Perfect": f"LinRegPoint(4, {REGIONS}, {RANK} * 10, {RANK})",
    }
    with_txt = "WITH " + " ".join(
        f"MEMBER [Measures].[{m}] AS '{formulas[m]}'" for m in members
    )
    r = execute_mdx(
        engine, f"{with_txt} SELECT {{{cols}}} ON COLUMNS FROM [Sales]"
    )
    return r.df.collect()[0]


# ------------------------------------------------- reference NaN matrix
def test_linregr2_reference_matrix(engine):
    row = one_row(engine, "R2 Flat", "R2 Moderate", "R2 Perfect", "R2 Null")
    # mondrian_test.rb:609-686 expected values, verbatim
    assert row["r2_flat"] == 0.0
    assert row["r2_moderate"] == 0.52
    assert row["r2_perfect"] == 1.0
    assert math.isnan(row["r2_null"])


def test_linregvariance_reference_matrix(engine):
    row = one_row(engine, "Var Flat", "Var Null")
    # mondrian_test.rb:689-778: flat line → 266.67; NULL input → NaN
    assert row["var_flat"] == 266.67
    assert math.isnan(row["var_null"])


def test_linreg_slope_intercept_point(engine):
    row = one_row(
        engine, "Slope Perfect", "Intercept Perfect", "Point Perfect"
    )
    assert row["slope_perfect"] == 10.0
    assert row["intercept_perfect"] == 0.0
    assert row["point_perfect"] == 40.0  # 10·4 + 0


# --------------------------------------- parity vs the engine-API path
def test_median_stdev_formula_vs_api(engine, spark):
    from pyspark.sql import functions as F

    from mondrian_olap_spark.functions.stats import set_aggregate

    r = execute_mdx(
        engine,
        f"""
        WITH MEMBER [Measures].[Med] AS 'Median({REGIONS}, [Measures].[Sum Qty])'
        MEMBER [Measures].[Sd] AS 'Stdev({REGIONS}, [Measures].[Sum Qty])'
        SELECT {{[Measures].[Med], [Measures].[Sd]}} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    )
    got = {row["o_year"]: (row["med"], row["sd"]) for row in r.df.collect()}
    cells = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Time].[Year].Members", "[Customer].[Region].Members")
        .execute()
        .df
    )
    api = set_aggregate(
        cells,
        ["o_year"],
        [("med", "median", "sum_qty"), ("sd", "dstdev", "sum_qty")],
    )
    want = {row["o_year"]: (row["med"], row["sd"]) for row in api.collect()}
    assert set(got) == set(want)
    for y in want:
        assert got[y][0] == pytest.approx(want[y][0])
        assert got[y][1] == pytest.approx(want[y][1])


def test_count_set_folds_to_metadata_literal(engine):
    # Count(set) with IncludeEmpty (the MDX default) folds to a metadata
    # literal at translation time — no stat sub-plan at all
    q, _ = MdxParser(
        engine,
        f"""
        WITH MEMBER [Measures].[N] AS 'Count({REGIONS})'
        SELECT {{[Measures].[N]}} ON COLUMNS FROM [Sales]
        """,
    ).parse_statement()
    assert not q._stat_scalars
    row = q.execute().df.collect()[0]
    assert row["n"] == 5  # members exist whether or not fact rows do


def test_count_set_expr_counts_nonempty(engine):
    r = execute_mdx(
        engine,
        f"""
        WITH MEMBER [Measures].[N] AS 'Count({REGIONS}, [Measures].[Sum Qty])'
        SELECT {{[Measures].[N]}} ON COLUMNS FROM [Sales]
        """,
    )
    assert r.df.collect()[0]["n"] == 5


def test_literal_member_set_stat(engine):
    # {…} literal sets work too — stat over an enumerated member set
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[MaxTwo] AS
          'Max({[Customer].[ASIA], [Customer].[AFRICA]}, [Measures].[Sum Qty])'
        SELECT {[Measures].[MaxTwo]} ON COLUMNS FROM [Sales]
        """,
    )
    cells = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].children")
        .execute()
        .df.collect()
    )
    want = max(
        r["sum_qty"] for r in cells if r["region_name"] in ("ASIA", "AFRICA")
    )
    assert r.df.collect()[0]["max_two"] == want


def test_stat_scalar_under_totals(engine):
    # rollup totals rows recompute the statistic at the coarser grain
    q, _ = MdxParser(
        engine,
        f"""
        WITH MEMBER [Measures].[Med] AS 'Median({REGIONS}, [Measures].[Sum Qty])'
        SELECT {{[Measures].[Med]}} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    ).parse_statement()
    rows = q.totals("rollup").execute().df.collect()
    by_year = {r["o_year"]: r["med"] for r in rows}
    assert None in by_year  # grand-total row present
    # the total row's median is over region sums across ALL years —
    # not a re-aggregate of the per-year medians
    detail = [v for k, v in by_year.items() if k is not None]
    assert by_year[None] is not None
    assert by_year[None] != pytest.approx(sum(detail) / len(detail))


def test_dpercentile_is_type1_element(spark):
    """dpercentile returns an ACTUAL element (ceil(p·n)-th in order) via
    pure-integer index arithmetic — the hash-gateable alternative to the
    interpolated type-7 percentile (cross-engine quantile trap)."""
    from mondrian_olap_spark.functions.stats import set_aggregate

    df = spark.createDataFrame(
        [(1, float(v)) for v in [10, 20, 30, 40]], "g int, v double"
    )
    row = set_aggregate(
        df, ["g"],
        [("p50", "dpercentile", "v", 0.5), ("p90", "dpercentile", "v", 0.9)],
    ).collect()[0]
    # ceil(0.5·4)=2nd element, ceil(0.9·4)=4th element — elements, never
    # interpolations
    assert (row["p50"], row["p90"]) == (20.0, 40.0)


def test_named_set_as_stat_argument(engine):
    # WITH SET names splice their member lists into stat set arguments
    r = execute_mdx(
        engine,
        """
        WITH SET [TwoRegions] AS '{[Customer].[ASIA], [Customer].[AFRICA]}'
        MEMBER [Measures].[MaxTwo] AS 'Max([TwoRegions], [Measures].[Sum Qty])'
        SELECT {[Measures].[MaxTwo]} ON COLUMNS FROM [Sales]
        """,
    )
    lit = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[MaxTwo] AS
          'Max({[Customer].[ASIA], [Customer].[AFRICA]}, [Measures].[Sum Qty])'
        SELECT {[Measures].[MaxTwo]} ON COLUMNS FROM [Sales]
        """,
    )
    assert r.df.collect()[0]["max_two"] == lit.df.collect()[0]["max_two"]


# ----------------------------------------------------------- error paths
def test_sum_without_expr_is_an_error(engine):
    with pytest.raises(MdxError, match="Aggregate"):
        execute_mdx(
            engine,
            f"""
            WITH MEMBER [Measures].[S] AS 'Sum({REGIONS})'
            SELECT {{[Measures].[S]}} ON COLUMNS FROM [Sales]
            """,
        )


def test_strict_stat_requires_set(engine):
    with pytest.raises(MdxError, match="must be a set"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[S] AS 'Median([Measures].[Sum Qty], 2)'
            SELECT {[Measures].[S]} ON COLUMNS FROM [Sales]
            """,
        )


def test_foreign_rank_rejected(engine):
    with pytest.raises(MdxError, match="Rank"):
        execute_mdx(
            engine,
            f"""
            WITH MEMBER [Measures].[S] AS
              'Median({REGIONS}, Rank([Time].CurrentMember, [Time].[Year].Members))'
            SELECT {{[Measures].[S]}} ON COLUMNS FROM [Sales]
            """,
        )


def test_nested_scalar_taint_rejected(engine):
    # a stat expr referencing a member whose formula is itself a
    # tuple/Aggregate/stat scalar cannot lower (it would recurse)
    with pytest.raises(QueryError, match="nested scalar"):
        execute_mdx(
            engine,
            f"""
            WITH MEMBER [Measures].[Inner] AS 'Median({REGIONS}, [Measures].[Sum Qty])'
            MEMBER [Measures].[Outer] AS 'Median({REGIONS}, [Measures].[Inner])'
            SELECT {{[Measures].[Outer]}} ON COLUMNS FROM [Sales]
            """,
        )


def test_shared_set_shares_one_subaggregate(engine):
    # stats over the same set group into ONE sub-plan: the grid plan
    # contains exactly one broadcast-attach for the pair
    q, _ = MdxParser(
        engine,
        f"""
        WITH MEMBER [Measures].[A] AS 'Median({REGIONS}, [Measures].[Sum Qty])'
        MEMBER [Measures].[B] AS 'Stdev({REGIONS}, [Measures].[Sum Qty])'
        SELECT {{[Measures].[A], [Measures].[B]}} ON COLUMNS FROM [Sales]
        """,
    ).parse_statement()
    df = q.execute().df
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # one shared sub-aggregate → the per-measure stats appear in a single
    # Aggregate node, not two independent join branches
    import re as _re

    joins = len(_re.findall(r"(?i)\bjoin\b", plan))
    row = df.collect()[0]
    assert row["a"] is not None and row["b"] is not None
    # sanity: two independent attaches would need ≥2 joins/cross products
    assert joins <= 1, plan


def test_existing_count_is_contextual(engine):
    """Count(EXISTING set) binds to the cell's coordinates
    (jar!mondrian/olap/fun/ExistingFunDef): each region row counts ITS
    nations, while the plain Count repeats the global member count."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Ex Cnt] AS
               'Count(EXISTING [Customer].[Nation].Members)'
             MEMBER [Measures].[Plain Cnt] AS
               'Count([Customer].[Nation].Members, includeempty)'
        SELECT {[Measures].[Ex Cnt], [Measures].[Plain Cnt]} ON COLUMNS,
               [Customer].[Region].Members ON ROWS FROM [Sales]
        """,
    )
    rows = r.df.collect()
    assert len(rows) == 5
    assert all(row["plain_cnt"] == 25 for row in rows)
    assert all(row["ex_cnt"] == 5 for row in rows)


def test_existing_respects_slicer(engine):
    """The EXISTING evaluation context includes the slicer: nations with
    no Q1-1995 fact rows drop out of their region's count."""
    sliced = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Ex Cnt] AS
               'Count(EXISTING [Customer].[Nation].Members)'
        SELECT {[Measures].[Ex Cnt]} ON COLUMNS,
               [Customer].[Region].Members ON ROWS
        FROM [Sales] WHERE [Time].[1995].[Q1]
        """,
    ).df.collect()
    assert {row["region_name"] for row in sliced} == {
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"
    }
    assert all(row["ex_cnt"] <= 5 for row in sliced)
    assert any(row["ex_cnt"] < 5 for row in sliced)  # sf0.001 sparsity


def test_existing_stat_per_cell(engine):
    """Max(EXISTING set, expr) takes the per-cell maximum over the cell's
    own members — it must never exceed the cell's total and must differ
    across regions (a context override would repeat one global value)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Top N Qty] AS
               'Max(EXISTING [Customer].[Nation].Members, [Measures].[Sum Qty])'
        SELECT {[Measures].[Sum Qty], [Measures].[Top N Qty]} ON COLUMNS,
               [Customer].[Region].Members ON ROWS FROM [Sales]
        """,
    )
    rows = r.df.collect()
    assert all(row["top_n_qty"] <= row["sum_qty"] for row in rows)
    assert len({row["top_n_qty"] for row in rows}) > 1


def test_existing_requires_set(engine):
    with pytest.raises(MdxError, match="EXISTING takes a set"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[X] AS 'Count(EXISTING 1 + 2)'
            SELECT {[Measures].[X]} ON COLUMNS FROM [Sales]
            """,
        )


def test_generate_measure_path_written_order(engine):
    """Measure-path Generate concatenates in the set's WRITTEN order
    (Mondrian iteration order, test/mondrian_test.rb:491-517): an
    explicit out-of-hierarchy-order list must come back as written, and
    match the per-member values of the hierarchy-ordered spelling."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[W] AS
          'Generate({[Customer].[EUROPE], [Customer].[AFRICA]},
                    Cast(Cast([Measures].[Sum Qty] AS bigint) AS String),
                    "|")'
        MEMBER [Measures].[H] AS
          'Generate({[Customer].[AFRICA], [Customer].[EUROPE]},
                    Cast(Cast([Measures].[Sum Qty] AS bigint) AS String),
                    "|")'
        SELECT {[Measures].[W], [Measures].[H]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    e, a = row["h"].split("|")[1], row["h"].split("|")[0]
    assert row["w"] == f"{e}|{a}"
    assert row["w"] != row["h"]


def test_filter_set_argument_in_stats(engine):
    """Filter(set, cond) as a set-statistic argument (FilterFunDef inside
    an evaluator call): the condition filters the sub-aggregate rows
    before the collapse — Count/Sum over the qualifying members only."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[N] AS
          'Count(Filter([Customer].[Nation].Members,
                        [Measures].[Sum Qty] > 9000))'
        MEMBER [Measures].[S] AS
          'Sum(Filter([Customer].[Nation].Members,
                      [Measures].[Sum Qty] > 9000), [Measures].[Sum Qty])'
        SELECT {[Measures].[N], [Measures].[S]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    base = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Customer].[Nation].Members ON ROWS FROM [Sales]",
    ).df.collect()
    big = [x["sum_qty"] for x in base if x["sum_qty"] > 9000]
    assert row["n"] == len(big)
    assert row["s"] == sum(big)


def test_filter_with_existing_composes(engine):
    """Count(EXISTING Filter(set, cond)) — per-cell count of qualifying
    members under the cell's coordinates."""
    rows = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[C] AS
          'Count(EXISTING Filter([Customer].[Nation].Members,
                                 [Measures].[Sum Qty] > 3000))'
        SELECT {[Measures].[C]} ON COLUMNS,
               [Customer].[Region].Members ON ROWS FROM [Sales]
        """,
    ).df.collect()
    assert len(rows) == 5
    assert len({r["c"] for r in rows}) > 1 or all(r["c"] <= 5 for r in rows)


def test_filter_stat_distinct_conditions_never_share(engine):
    """Two stats over the same set with DIFFERENT filter conditions must
    not share one sub-aggregate (the group key includes the condition)."""
    row = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[A] AS
          'Count(Filter([Customer].[Nation].Members, [Measures].[Sum Qty] > 9000))'
        MEMBER [Measures].[B] AS
          'Count(Filter([Customer].[Nation].Members, [Measures].[Sum Qty] > 3000))'
        SELECT {[Measures].[A], [Measures].[B]} ON COLUMNS FROM [Sales]
        """,
    ).df.collect()[0]
    assert row["b"] > row["a"]


def test_rank_inside_filter_condition(engine):
    """Rank(CurrentMember, set) inside a Filter(set, cond) argument: the
    condition filter applies AFTER the __setrank join so the rank column
    resolves (round-11 review fix)."""
    row = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[C] AS
          'Count(Filter([Customer].[Nation].Members,
            Rank([Customer].CurrentMember,
                 [Customer].[Nation].Members) <= 3))'
        SELECT {[Measures].[C]} ON COLUMNS FROM [Sales]
        """,
    ).df.collect()[0]
    assert row["c"] == 3


def test_named_filter_set_as_stat_argument(engine):
    """A WITH SET defined as FILTER(...) splices into set statistics like
    an inline Filter(set, cond) argument — base members + the condition
    folded into the sub-aggregate row filter; bare and bracketed
    references both resolve."""
    for ref in ("BigNations", "[BigNations]"):
        row = execute_mdx(
            engine,
            "WITH SET BigNations AS "
            "'Filter([Customer].[Nation].Members, [Measures].[Sum Qty] > 9000)' "
            f"MEMBER [Measures].[N] AS 'Count({ref})' "
            f"MEMBER [Measures].[S] AS 'Sum({ref}, [Measures].[Sum Qty])' "
            "SELECT {[Measures].[N], [Measures].[S]} ON COLUMNS FROM [Sales]",
        ).df.collect()[0]
        inline = execute_mdx(
            engine,
            "WITH MEMBER [Measures].[N] AS "
            "'Count(Filter([Customer].[Nation].Members, [Measures].[Sum Qty] > 9000))' "
            "SELECT {[Measures].[N]} ON COLUMNS FROM [Sales]",
        ).df.collect()[0]
        assert row["n"] == inline["n"] and row["n"] > 0


def test_int_units_rejects_compound_expressions(spark):
    """The integer-unit moment path fires ONLY on a single top-level
    decimal cast — a compound expression (quotient/sum of casts) must
    fall through to the generic double path instead of being silently
    rounded to the last cast's scale (round-12 review finding)."""
    from mondrian_olap_spark.functions.stats import _int_units

    assert _int_units("CAST(l_extendedprice AS DECIMAL(12,2))") is not None
    assert _int_units(
        "CAST(CAST(x AS DECIMAL(10,4)) AS DECIMAL(12,2))"
    ) is not None
    assert _int_units(
        "CAST(a AS DECIMAL(12,2)) / CAST(b AS DECIMAL(12,2))"
    ) is None
    assert _int_units(
        "CAST(a AS DECIMAL(12,2)) * CAST(b AS DECIMAL(12,4))"
    ) is None
    assert _int_units("sum_qty") is None


@pytest.mark.parametrize(
    "a, b, expected",
    [
        ('IIF("X" = "x", 1, 0)', 'IIF("x" = "x", 1, 0)', (0, 1)),
        ('IIF("a b" = "ab", 1, 0)', 'IIF("ab" = "ab", 1, 0)', (0, 1)),
        ('IIF("ab" = "ab", 1, 0)', 'IIF("a b" = "ab", 1, 0)', (1, 0)),
    ],
)
def test_statistics_differing_in_a_literal_stay_apart(engine, a, b, expected):
    """Two set statistics whose expressions differ only inside a string
    literal — its case or its blanks — are two scalars, in either
    definition order."""
    s = "{[Customer].[ASIA], [Customer].[EUROPE]}"
    row = execute_mdx(
        engine,
        f"""
        WITH MEMBER [Measures].[a] AS 'Max({s}, {a})'
             MEMBER [Measures].[b] AS 'Max({s}, {b})'
        SELECT {{[Measures].[a], [Measures].[b]}} ON COLUMNS FROM [Sales]
        """,
    ).df.collect()[0]
    assert (row["a"], row["b"]) == expected


def test_aggregate_expr_shares_the_sum_statistic(engine):
    """Aggregate(set, expr) is Sum(set, expr): both intern to one
    ``sum`` set statistic, which shares its sub-aggregate and its one
    broadcast attach with a Median over the same set."""
    s = "{[Customer].[ASIA], [Customer].[EUROPE]}"
    q, _ = MdxParser(
        engine,
        f"""
        WITH MEMBER [Measures].[A] AS 'Aggregate({s}, [Measures].[Sum Qty] * 2)'
        MEMBER [Measures].[S] AS 'Sum({s}, [Measures].[Sum Qty] * 2)'
        MEMBER [Measures].[M] AS 'Median({s}, [Measures].[Sum Qty])'
        SELECT {{[Measures].[A], [Measures].[S], [Measures].[M]}} ON COLUMNS,
        [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    ).parse_statement()
    df = q.execute().df
    rows = df.collect()
    assert rows and all(r["a"] is not None for r in rows)
    assert all(r["a"] == r["s"] for r in rows)
    exprs = {c.name: c.expression for c in q._with}
    assert exprs["A"] == exprs["S"] == "__setstat0"
    assert [sp[:2] for sp in q._stat_scalars] == [
        ("__setstat0", "sum"), ("__setstat1", "median"),
    ]
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join LeftOuter") == 1, plan


#: member names holding every character the set grammar gives a meaning
#: to outside a ``[...]`` segment: braces, ``*``, ``,``, parentheses, a
#: quote and a ``]`` (written ``]]``)
_ODD_NAMES = ["A}B", "{C*D", "E,F(G)", "H'I", "J]K"]


def test_odd_member_names_read_alike_everywhere(spark):
    """One set of odd member names reads the same members on an axis, in
    a measure Aggregate (both the implicit-measure and the ``*``
    crossjoin form), in a dimension Aggregate, in Sum and in Median —
    every reader is the axis grammar, so a ``}`` or a ``,`` inside a
    name never ends the set — and the cells equal DuckDB over the same
    rows."""
    import duckdb

    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure
    from mondrian_olap_spark.star import CubeEngine

    rows = [
        (name, float(v))
        for i, name in enumerate(_ODD_NAMES + ["plain"])
        for v in (i + 1, 10 * (i + 1) + 3)
    ]
    fact = spark.createDataFrame(rows, "nm string, v double")
    cube = Cube(
        name="Q",
        fact="fact",
        dimensions=(
            Dimension(name="Odd", levels=(Level("Name", "nm", output="nm"),)),
        ),
        measures=(Measure("V", "v", "sum", output="v_sum"),),
    )
    eng = CubeEngine(cube, {"fact": fact})
    s = "{" + ", ".join(
        "[Odd].[" + n.replace("]", "]]") + "]" for n in _ODD_NAMES
    ) + "}"
    quoted = s.replace("'", "''")  # inside a '...' formula string

    con = duckdb.connect()
    con.execute("CREATE TABLE t (nm VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    per_member = dict(
        con.execute(
            "SELECT nm, sum(v) FROM t WHERE list_contains(?, nm) GROUP BY nm",
            [_ODD_NAMES],
        ).fetchall()
    )
    total, median = con.execute(
        "SELECT sum(s), median(s) FROM (SELECT sum(v) AS s FROM t "
        "WHERE list_contains(?, nm) GROUP BY nm)",
        [_ODD_NAMES],
    ).fetchone()
    con.close()

    axis = execute_mdx(
        eng, f"SELECT [Measures].[V] ON COLUMNS, {s} ON ROWS FROM [Q]"
    ).df.collect()
    assert {r["nm"]: r["v_sum"] for r in axis} == per_member

    row = execute_mdx(
        eng,
        f"""
        WITH MEMBER [Measures].[Agg] AS 'Aggregate({quoted})'
             MEMBER [Measures].[AggX] AS
               'Aggregate({quoted} * {{[Measures].[V]}})'
             MEMBER [Measures].[Tot] AS 'Sum({quoted}, [Measures].[V])'
             MEMBER [Measures].[Med] AS 'Median({quoted}, [Measures].[V])'
        SELECT {{[Measures].[Agg], [Measures].[AggX], [Measures].[Tot],
                 [Measures].[Med]}} ON COLUMNS FROM [Q]
        """,
    ).df.collect()[0]
    assert row["agg"] == row["agg_x"] == row["tot"] == total
    assert row["med"] == median

    dim = execute_mdx(
        eng,
        f"""
        WITH MEMBER [Odd].[Odd ones] AS 'Aggregate({quoted})'
        SELECT [Measures].[V] ON COLUMNS, {{[Odd].[Odd ones]}} ON ROWS
        FROM [Q]
        """,
    ).df.collect()
    assert [(r["nm"], r["v_sum"]) for r in dim] == [("Odd ones", total)]


def test_descendants_set_equals_its_braced_spelling(engine, duck):
    """A set function that reduces to a member list — here Descendants —
    is a statistic's set like the braced list of the same members."""
    nations = [
        n
        for (n,) in duck.execute(
            "SELECT n_name FROM nation JOIN region ON n_regionkey = "
            "r_regionkey WHERE r_name = 'ASIA' ORDER BY n_name"
        ).fetchall()
    ]
    braced = "{" + ", ".join(
        f"[Customer].[ASIA].[{n}]" for n in nations
    ) + "}"
    row = execute_mdx(
        engine,
        f"""
        WITH MEMBER [Measures].[D] AS
          'Median(Descendants([Customer].[ASIA], [Customer].[Nation]),
                  [Measures].[Sum Qty])'
             MEMBER [Measures].[B] AS 'Median({braced}, [Measures].[Sum Qty])'
        SELECT {{[Measures].[D], [Measures].[B]}} ON COLUMNS FROM [Sales]
        """,
    ).df.collect()[0]
    assert row["d"] is not None and row["d"] == row["b"]


@pytest.mark.parametrize(
    "stat",
    [
        "Median([Customer].CurrentMember.Children, [Measures].[Sum Qty])",
        "Median([Customer].CurrentMember.Siblings, [Measures].[Sum Qty])",
        "Median(Descendants([Customer].CurrentMember, [Customer].[Nation]), "
        "[Measures].[Sum Qty])",
    ],
)
def test_current_member_set_is_not_a_fixed_set(engine, stat):
    """A set that moves with the current member cannot be read once, at
    parse time: a strict statistic says it needs a set, a generic one
    passes the call through as SQL, never folding a count of it."""
    with pytest.raises(MdxError, match="must be a set"):
        execute_mdx(
            engine,
            f"""
            WITH MEMBER [Measures].[S] AS '{stat}'
            SELECT {{[Measures].[S]}} ON COLUMNS,
                   [Customer].[Region].Members ON ROWS FROM [Sales]
            """,
        )
    parser = MdxParser(engine, "SELECT FROM [Sales]")
    count = "Count(Descendants([Time].CurrentMember, [Time].[Month]))"
    assert parser.translate_expression_text(count) != "0"
    assert not parser.q._stat_scalars


def test_aggregate_of_a_current_member_set_raises(engine):
    for body in (
        "Aggregate({[Customer].CurrentMember})",
        "Aggregate([Customer].CurrentMember.Children, [Measures].[Sum Qty])",
    ):
        with pytest.raises(MdxError, match="depends on the current member"):
            execute_mdx(
                engine,
                f"""
                WITH MEMBER [Measures].[S] AS '{body}'
                SELECT {{[Measures].[S]}} ON COLUMNS FROM [Sales]
                """,
            )


def test_count_of_an_unknown_member_names_it(engine):
    with pytest.raises(MdxError, match=r"Count: \[Bogus\]\.\[X\]"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[S] AS 'Count({[Bogus].[X]})'
            SELECT {[Measures].[S]} ON COLUMNS FROM [Sales]
            """,
        )
