"""MDX string entry point + to_mdx golden tests.

Mirrors the reference's golden-MDX builder tests (query_test.rb:394-732,
whitespace-normalized assert_like) and error-path tests (:761-803)."""

import re

import pytest

from mondrian_olap_spark.mdx import MdxError, MdxParser, execute_mdx
from mondrian_olap_spark.query import Query


def like(a: str, b: str) -> bool:
    """Whitespace-normalized comparison (test/test_helper.rb:12-18)."""
    norm = lambda s: re.sub(r"\s+", " ", s).strip()
    return norm(a) == norm(b)


def rows_of(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------- execution
def test_canonical_select(engine):
    r = execute_mdx(
        engine,
        """
        SELECT {[Measures].[Sum Qty], [Measures].[Sum Price]} ON COLUMNS,
               [Customer].children ON ROWS
        FROM [Sales]
        WHERE ([Time].[1995].[Q1])
        """,
    )
    b = (
        Query(engine)
        .columns("[Measures].[Sum Qty]", "[Measures].[Sum Price]")
        .rows("[Customer].children")
        .where("[Time].[1995].[Q1]")
        .execute()
    )
    assert rows_of(r.df) == rows_of(b.df)


def test_crossjoin_and_filter(engine):
    r = execute_mdx(
        engine,
        """
        SELECT [Measures].[Sum Price] ON COLUMNS,
               FILTER(CROSSJOIN([ReturnFlag].children, [LineStatus].children),
                      [Measures].[Sum Price] > 1000) ON ROWS
        FROM [Sales]
        """,
    )
    b = (
        Query(engine)
        .columns("[Measures].[Sum Price]")
        .rows("[ReturnFlag].children")
        .crossjoin("[LineStatus].children")
        .filter("sum_price > 1000")
        .execute()
    )
    assert rows_of(r.df) == rows_of(b.df)


def test_topcount_order(engine):
    r = execute_mdx(
        engine,
        """
        SELECT [Measures].[Sum Price] ON COLUMNS,
               TOPCOUNT([Customer].[Nation].Members, 5, [Measures].[Sum Price]) ON ROWS
        FROM [Sales]
        """,
    )
    assert r.df.count() == 5


def test_with_member_solve_order(engine):
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Double Qty] AS '[Measures].[Sum Qty] * 2', SOLVE_ORDER = 1
        SELECT {[Measures].[Sum Qty], [Measures].[Double Qty]} ON COLUMNS,
               [ReturnFlag].children ON ROWS
        FROM [Sales]
        """,
    )
    for row in r.df.collect():
        assert row["double_qty"] == row["sum_qty"] * 2


def test_where_tuple_and_in_set(engine):
    r = execute_mdx(
        engine,
        """
        SELECT [Measures].[Count Order] ON COLUMNS, [ReturnFlag].children ON ROWS
        FROM [Sales] WHERE ([Customer].[ASIA], [Customer].[EUROPE])
        """,
    )
    b = (
        Query(engine)
        .columns("[Measures].[Count Order]")
        .rows("[ReturnFlag].children")
        .where("[Customer].[ASIA]", "[Customer].[EUROPE]")
        .execute()
    )
    assert rows_of(r.df) == rows_of(b.df)


def test_parameters(engine):
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Scaled] AS
          '[Measures].[Sum Qty] * Parameter("factor", NUMERIC, 2)'
        SELECT {[Measures].[Sum Qty], [Measures].[Scaled]} ON COLUMNS
        FROM [Sales]
        """,
        parameters={"factor": 10},
    )
    row = r.df.collect()[0]
    assert row["scaled"] == row["sum_qty"] * 10


def test_parameter_default(engine):
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Scaled] AS
          '[Measures].[Sum Qty] * Parameter("factor", NUMERIC, 3)'
        SELECT [Measures].[Scaled] ON COLUMNS FROM [Sales]
        """,
    )
    r2 = execute_mdx(engine, "SELECT [Measures].[Sum Qty] ON COLUMNS FROM [Sales]")
    assert r.df.collect()[0]["scaled"] == r2.df.collect()[0]["sum_qty"] * 3


def test_parameter_missing_no_default(engine):
    with pytest.raises(MdxError, match="no value and no default"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[X] AS 'ParamRef("nope")'
            SELECT [Measures].[X] ON COLUMNS FROM [Sales]
            """,
        )


def _one_cell(engine, formula: str, parameters=None):
    """The value of ``formula`` as a one-member WITH query."""
    quoted = "'" + formula.replace("'", "''") + "'"
    return execute_mdx(
        engine,
        f"WITH MEMBER [Measures].[X] AS {quoted} "
        "SELECT [Measures].[X] ON COLUMNS FROM [Sales]",
        parameters=parameters,
    ).df.collect()[0]["x"]


@pytest.mark.parametrize(
    "formula, params, expected",
    [
        ("\"see ParamRef('p') here\"", {"p": 5}, "see ParamRef('p') here"),
        (
            "\"Parameter('p', NUMERIC, 1) txt\"",
            {"p": 5},
            "Parameter('p', NUMERIC, 1) txt",
        ),
        ('Parameter("p", STRING, "a,b")', None, "a,b"),
        ('Parameter("p", STRING, "a)b")', None, "a)b"),
        ('Parameter("p", NUMERIC, 3, "the (x)") + 1', None, 4),
        ('ParamRef("p") * 2', {"p": 4}, 8),
    ],
)
def test_parameter_calls_split_their_arguments(
    engine, formula, params, expected
):
    """Parameter/ParamRef are calls: their arguments split like any
    call's (commas and parentheses inside a literal stay in it) and a
    string literal that spells one is only text."""
    assert _one_cell(engine, formula, params) == expected


# ------------------------------------------------------------ error paths
def test_parse_error(engine):
    with pytest.raises(MdxError):
        execute_mdx(engine, "SELECT FROM WHERE")


def test_unknown_cube(engine):
    with pytest.raises(MdxError, match="not found"):
        execute_mdx(engine, "SELECT [Measures].[Sum Qty] ON COLUMNS FROM [Nope]")


def test_unknown_measure(engine):
    from mondrian_olap_spark.query import QueryError

    with pytest.raises(QueryError, match="not found in cube 'Sales'"):
        execute_mdx(engine, "SELECT [Measures].[Nope] ON COLUMNS FROM [Sales]")


def test_lexer_error(engine):
    with pytest.raises(MdxError, match="lexer"):
        execute_mdx(engine, "SELECT ~~~ ON COLUMNS FROM [Sales]")


# ---------------------------------------------------------------- to_mdx
def test_to_mdx_golden_canonical(engine):
    q = (
        Query(engine)
        .columns("[Measures].[Sum Qty]", "[Measures].[Sum Price]")
        .rows("[Customer].children")
        .where("[Time].[1995].[Q1]")
    )
    assert like(
        q.to_mdx(),
        """
        SELECT {[Measures].[Sum Qty], [Measures].[Sum Price]} ON COLUMNS,
          [Customer].children ON ROWS
        FROM [Sales]
        WHERE ([Time].[1995].[Q1])
        """,
    )


def test_to_mdx_golden_nested_ops(engine):
    q = (
        Query(engine)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .filter("sum_price > 100")
        .order("sum_price", "BDESC")
        .top_count(5, "sum_price")
    )
    assert like(
        q.to_mdx(),
        """
        SELECT [Measures].[Sum Price] ON COLUMNS,
          TOPCOUNT(ORDER(FILTER([Customer].[Nation].Members,
            [Measures].[Sum Price] > 100), [Measures].[Sum Price], BDESC),
            5, [Measures].[Sum Price]) ON ROWS
        FROM [Sales]
        """,
    )


def test_to_mdx_with_member(engine):
    q = (
        Query(engine)
        .with_member("Profit Pct")
        .as_("sum_disc_price / sum_price", solve_order=2, output="profit_pct")
        .columns("[Measures].[Profit Pct]")
        .rows("[ReturnFlag].children")
    )
    assert like(
        q.to_mdx(),
        """
        WITH MEMBER [Measures].[Profit Pct] AS
          '[Measures].[Sum Disc Price] / [Measures].[Sum Price]', SOLVE_ORDER = 2
        SELECT [Measures].[Profit Pct] ON COLUMNS,
          [ReturnFlag].children ON ROWS
        FROM [Sales]
        """,
    )


def test_to_mdx_golden_filter_nonempty(engine):
    """filter_nonempty serializes as the reference golden
    (test/query_test.rb:648-655)."""
    q = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .filter_nonempty()
    )
    assert like(
        q.to_mdx(),
        """
        SELECT [Measures].[Sum Qty] ON COLUMNS,
          FILTER([Customer].[Nation].Members AS S, NOT ISEMPTY(S.CURRENT)) ON ROWS
        FROM [Sales]
        """,
    )


def test_to_mdx_golden_filter_last(engine):
    """filter_last wraps only the LAST set element (query.rb:86-91
    add_last_set_function)."""
    q = (
        Query(engine)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[ASIA]", "[Customer].[EUROPE]")
        .filter_last("sum_price > 100")
    )
    assert like(
        q.to_mdx(),
        """
        SELECT [Measures].[Sum Price] ON COLUMNS,
          {[Customer].[ASIA], FILTER([Customer].[EUROPE], [Measures].[Sum Price] > 100)} ON ROWS
        FROM [Sales]
        """,
    )


def test_to_mdx_golden_generate(engine):
    """generate serializes as GENERATE(set1, set2[, ALL])
    (test/query_test.rb:657-676)."""
    q = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Region].Members")
        .generate("[Customer].CurrentMember", all=True)
    )
    assert like(
        q.to_mdx(),
        """
        SELECT [Measures].[Sum Qty] ON COLUMNS,
          GENERATE([Customer].[Region].Members, [Customer].CurrentMember, ALL) ON ROWS
        FROM [Sales]
        """,
    )


def test_filter_last_behavior(engine):
    """Earlier sets pass through; the last set must satisfy the condition."""
    base = (
        Query(engine)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[ASIA]", "[Customer].[EUROPE]")
        .execute()
        .df
        .collect()
    )
    by_region = {r["region_name"]: r["sum_price"] for r in base}
    cutoff = (by_region["ASIA"] + by_region["EUROPE"]) / 2
    hi, lo = ("ASIA", "EUROPE") if by_region["ASIA"] > cutoff else ("EUROPE", "ASIA")
    # last set = EUROPE: EUROPE kept only if above cutoff, ASIA always kept
    r = (
        Query(engine)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[ASIA]", "[Customer].[EUROPE]")
        .filter_last(f"sum_price > {cutoff}")
        .execute()
        .df
        .collect()
    )
    kept = {row["region_name"] for row in r}
    expected = {"ASIA"} | ({"EUROPE"} if by_region["EUROPE"] > cutoff else set())
    assert kept == expected


def test_generate_identity_behavior(engine):
    """Generate(set, CurrentMember) == set (query_test.rb:301-304)."""
    a = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Region].Members")
        .execute()
        .df
    )
    b = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Region].Members")
        .generate("[Customer].CurrentMember")
        .execute()
        .df
    )
    assert rows_of(a) == rows_of(b)


def test_generate_children_drills(engine):
    """Generate(set, CurrentMember.Children) == one level deeper."""
    drilled = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Region].Members")
        .generate("[Customer].CurrentMember.Children")
        .execute()
        .df
    )
    direct = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    assert rows_of(drilled) == rows_of(direct)


def test_generate_mdx_roundtrip(engine):
    """GENERATE parses from MDX text and matches the builder result."""
    r1 = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "GENERATE([Customer].[Region].Members, [Customer].CurrentMember.Children) ON ROWS "
        "FROM [Sales]",
    )
    r2 = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .execute()
    )
    assert rows_of(r1.df) == rows_of(r2.df)


def test_nested_filter_in_crossjoin(engine):
    """CROSSJOIN(A, FILTER(B, cond)): cond evaluates per B member in the
    slicer context (not per output tuple) — Mondrian nested-set semantics."""
    totals = {
        r["nation_name"]: r["sum_price"]
        for r in (
            Query(engine)
            .columns("[Measures].[Sum Price]")
            .rows("[Customer].[Nation].Members")
            .execute()
            .df
            .collect()
        )
    }
    cutoff = sorted(totals.values())[len(totals) // 2]
    qualifying = {n for n, v in totals.items() if v > cutoff}
    r = execute_mdx(
        engine,
        f"SELECT [Measures].[Sum Price] ON COLUMNS, "
        f"CROSSJOIN([ReturnFlag].children, "
        f"  FILTER([Customer].[Nation].Members, [Measures].[Sum Price] > {cutoff})) ON ROWS "
        f"FROM [Sales]",
    )
    rows = r.df.collect()
    assert {x["nation_name"] for x in rows} == qualifying
    assert {x["return_flag"] for x in rows} == {"A", "N", "R"}


def test_nested_topcount_in_crossjoin(engine):
    """CROSSJOIN(A, TOPCOUNT(B, 3, m)): top members chosen on their own
    totals, then crossed."""
    top3 = [
        r["nation_name"]
        for r in (
            Query(engine)
            .columns("[Measures].[Sum Price]")
            .rows("[Customer].[Nation].Members")
            .order("sum_price", "BDESC")
            .top_count(3, "sum_price")
            .execute()
            .df
            .collect()
        )
    ]
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Price] ON COLUMNS, "
        "CROSSJOIN([ReturnFlag].children, "
        "  TOPCOUNT([Customer].[Nation].Members, 3, [Measures].[Sum Price])) ON ROWS "
        "FROM [Sales]",
    )
    rows = r.df.collect()
    assert {x["nation_name"] for x in rows} == set(top3)
    assert len(rows) == 9  # 3 flags × 3 nations


def test_item_on_set(engine):
    """Set.Item(i) (jar!...SetItemFunDef): single-position slice."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "HEAD([Customer].[Region].Members, 3).Item(1) ON ROWS FROM [Sales]",
    )
    rows = r.df.collect()
    assert len(rows) == 1 and rows[0]["region_name"] == "AMERICA"


def test_case_in_value_expression(engine):
    """CASE WHEN inside FILTER and WITH MEMBER (CaseTestFunDef parity)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Big] AS
          'CASE WHEN [Measures].[Sum Qty] > 20000 THEN 1 ELSE 0 END'
        SELECT {[Measures].[Sum Qty], [Measures].[Big]} ON COLUMNS,
               [Customer].[Region].Members ON ROWS
        FROM [Sales]
        """,
    )
    for row in r.df.collect():
        assert row["big"] == (1 if row["sum_qty"] > 20000 else 0)


def test_iif_translates(engine):
    """IIF(cond, a, b) → Spark if() (IifFunDef)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Flagged] AS 'IIF([Measures].[Sum Qty] > 20000, 1, 0)'
        SELECT {[Measures].[Sum Qty], [Measures].[Flagged]} ON COLUMNS,
               [Customer].[Region].Members ON ROWS
        FROM [Sales]
        """,
    )
    for row in r.df.collect():
        assert row["flagged"] == (1 if row["sum_qty"] > 20000 else 0)


def test_filter_nonempty_drops_empty_cells(engine):
    """A slicer outside part of the expanded grid creates genuinely empty
    cells; filter_nonempty removes exactly those."""
    base = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Supplier].children")
        .crossjoin("[Time].[Year].Members")
        .where("[Time].[1995]")
        .include_empty()
    )
    full = base.execute().df.collect()
    filtered = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Supplier].children")
        .crossjoin("[Time].[Year].Members")
        .where("[Time].[1995]")
        .include_empty()
        .filter_nonempty()
        .execute()
        .df
        .collect()
    )
    assert {r["o_year"] for r in full} > {1995}  # grid spans all years
    assert {r["o_year"] for r in filtered} == {1995}
    assert all(r["sum_qty"] is not None for r in filtered)


def test_hierarchize_all_matches_hierarchize(engine):
    a = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .hierarchize_all()
        .execute()
        .df
    )
    b = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .hierarchize()
        .execute()
        .df
    )
    assert rows_of(a) == rows_of(b)


def test_mdx_roundtrip(engine):
    """Builder → to_mdx → parser → same results."""
    q = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].children")
        .where("[Time].[1996]")
    )
    r1 = q.execute()
    r2 = execute_mdx(engine, q.to_mdx())
    assert rows_of(r1.df) == rows_of(r2.df)


def test_drillthrough_statement(engine):
    """DRILLTHROUGH MAXROWS n SELECT ... RETURN ... (query.rb:243-249)."""
    df = execute_mdx(
        engine,
        """
        DRILLTHROUGH MAXROWS 50
        SELECT [Measures].[Sum Qty] ON COLUMNS, [Customer].[ASIA] ON ROWS
        FROM [Sales] WHERE ([Time].[1995])
        RETURN [Customer].[Region], [Customer].[Nation], [Measures].[Sum Qty]
        """,
    )
    rows = df.collect()
    assert 0 < len(rows) <= 50
    assert set(df.columns) == {"region_name", "nation_name", "sum_qty"}
    assert all(r["region_name"] == "ASIA" for r in rows)
    # RETURN measures are raw fact values, not aggregates
    assert all(r["sum_qty"] is not None for r in rows)


def test_drillthrough_name_and_property(engine):
    """RETURN Name(...) / Property(...) fields (query_test.rb:960-996):
    member display names, declared properties, '' for unknown properties."""
    df = execute_mdx(
        engine,
        """
        DRILLTHROUGH MAXROWS 10
        SELECT [Measures].[Sum Qty] ON COLUMNS, [Customer].children ON ROWS
        FROM [Sales] WHERE ([Time].[1995].[Q1])
        RETURN Name([Supplier].[Supplier]),
               Property([Part].[Part], 'part_size'),
               Property([Part].[Part], 'No Such Prop'),
               [Measures].[Sum Qty]
        """,
    )
    rows = df.collect()
    assert len(rows) == 10
    assert set(df.columns) == {"name", "part_size", "no_such_prop", "sum_qty"}
    # caption declared on Supplier: "NAME (NATION)"
    assert all("(" in r["name"] for r in rows)
    assert all(isinstance(r["part_size"], int) for r in rows)
    assert all(r["no_such_prop"] == "" for r in rows)


def test_drillthrough_group_by(engine):
    """Aggregated drill (result.rb group_by; query_test.rb:999-1029):
    measures SUM over the non-measure RETURN fields."""
    df = engine.drill_through(
        ["[Time].[1995].[Q1]"],
        [
            ("region_name", "[Customer].[Region]"),
            ("sum_qty", "l_quantity"),
            ("count_order", "l_orderkey"),
        ],
        group_by=True,
    )
    rows = {r["region_name"]: r for r in df.collect()}
    assert len(rows) == 5
    # must equal the cube's own aggregate for the same slice
    agg = {
        r["region_name"]: r
        for r in Query(engine)
        .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
        .rows("[Customer].children")
        .where("[Time].[1995].[Q1]")
        .execute()
        .df.collect()
    }
    for k in rows:
        assert rows[k]["sum_qty"] == agg[k]["sum_qty"]
        assert rows[k]["count_order"] == agg[k]["count_order"]


def test_drillthrough_default_return(engine):
    """DRILLTHROUGH without RETURN drills the raw fact columns
    (query.rb:243-249 drill without explicit field list)."""
    df = execute_mdx(
        engine,
        "DRILLTHROUGH MAXROWS 5 SELECT [Measures].[Sum Qty] ON COLUMNS "
        "FROM [Sales] WHERE ([Customer].[ASIA])",
    )
    assert "l_orderkey" in df.columns and "l_quantity" in df.columns
    assert df.count() == 5


def test_named_set(engine):
    """WITH SET + axis reference by name (query.rb:182-186;
    test/query_test.rb:706-731)."""
    r = execute_mdx(
        engine,
        """
        WITH SET [Two Regions] AS '{[Customer].[ASIA], [Customer].[EUROPE]}'
        SELECT [Measures].[Sum Qty] ON COLUMNS, [Two Regions] ON ROWS
        FROM [Sales]
        """,
    )
    assert {row["region_name"] for row in r.df.collect()} == {"ASIA", "EUROPE"}


def test_named_set_builder(engine):
    r = (
        Query(engine)
        .with_set("pair", "[Customer].[AFRICA]", "[Customer].[AMERICA]")
        .columns("[Measures].[Sum Qty]")
        .rows("[pair]")
        .execute()
    )
    assert {row["region_name"] for row in r.df.collect()} == {"AFRICA", "AMERICA"}


def test_non_measure_with_member(engine):
    """WITH MEMBER on a dimension via Aggregate({...}) (cube_test.rb:48-51)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Time].[H1-1995] AS 'Aggregate({[Time].[1995].[Q1], [Time].[1995].[Q2]})'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               [Time].[Quarter].Members ON ROWS
        FROM [Sales]
        """,
    )
    rows = {(row["o_year"], row["o_quarter"]): row["sum_qty"] for row in r.df.collect()}
    assert (1995, "H1-1995") in rows
    assert abs(rows[(1995, "H1-1995")] - (rows[(1995, "Q1")] + rows[(1995, "Q2")])) < 1e-6


def test_non_measure_with_member_bad_formula(engine):
    """A dimension calc member formula must combine dimension member cells;
    measure references belong in [Measures] calc members."""
    from mondrian_olap_spark.query import QueryError

    with pytest.raises(QueryError, match="member path"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Time].[X] AS '[Measures].[Sum Qty] * 2'
            SELECT [Measures].[Sum Qty] ON COLUMNS FROM [Sales]
            """,
        )


def test_head_tail_subset_mdx(engine):
    head = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "HEAD([Customer].[Nation].Members, 3) ON ROWS FROM [Sales]",
    )
    assert head.df.count() == 3
    names = [r["nation_name"] for r in head.df.collect()]

    tail = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TAIL([Customer].[Nation].Members, 3) ON ROWS FROM [Sales]",
    )
    tail_names = [r["nation_name"] for r in tail.df.collect()]
    assert len(tail_names) == 3 and set(tail_names).isdisjoint(names)

    sub = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "SUBSET([Customer].[Nation].Members, 5, 5) ON ROWS FROM [Sales]",
    )
    assert sub.df.count() == 5


@pytest.mark.parametrize(
    "call, token",
    [
        ("TopCount([Customer].[Nation].Members, 'x', [Measures].[Sum Qty])", "'x'"),
        ("BottomCount([Customer].[Nation].Members, -2, [Measures].[Sum Qty])", "-"),
        ("TopPercent([Customer].[Nation].Members, [Measures].[Sum Qty])", "[Measures]"),
        ("BottomSum([Customer].[Nation].Members, x, [Measures].[Sum Qty])", "x"),
        ("Head([Customer].[Nation].Members, -1)", "-"),
        ("Tail([Customer].[Nation].Members, 2.5)", "2.5"),
        ("Subset([Customer].[Nation].Members, 'a')", "'a'"),
        ("Subset([Customer].[Nation].Members, 1, 'b')", "'b'"),
        ("DrillDownLevelTop([Customer].[Region].Members, 'c', , [Measures].[Sum Qty])", "'c'"),
    ],
    ids=[
        "topcount", "bottomcount", "toppercent", "bottomsum", "head", "tail",
        "subset_start", "subset_count", "drilldownleveltop",
    ],
)
def test_set_function_count_must_be_a_number(engine, call, token):
    """A set function's count that is not a literal number is an MdxError
    naming the token found, not a bare int()/float() ValueError."""
    name = call.split("(", 1)[0].upper()
    with pytest.raises(MdxError) as err:
        execute_mdx(
            engine,
            f"SELECT [Measures].[Sum Qty] ON COLUMNS, {call} ON ROWS FROM [Sales]",
        )
    assert name in str(err.value) and f"got {token!r}" in str(err.value)
    assert f"token '{token}'" in err.value.root_cause_message


def test_member_range(engine):
    """a:b member range (jar!...RangeFunDef)."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Time].[1996]:[Time].[1999] ON ROWS FROM [Sales]",
    )
    assert sorted(row["o_year"] for row in r.df.collect()) == [1996, 1997, 1998, 1999]


def test_member_range_builder(engine):
    r = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows()
        .member_range("[Time].[1995].[Q2]", "[Time].[1995].[Q4]")
        .execute()
    )
    assert sorted(row["o_quarter"] for row in r.df.collect()) == ["Q2", "Q3", "Q4"]


def test_member_range_mixed_parents_rejected(engine):
    from mondrian_olap_spark.query import QueryError

    with pytest.raises(QueryError, match="same parent"):
        (
            Query(engine)
            .rows()
            .member_range("[Time].[1995].[Q1]", "[Time].[1996].[Q2]")
        )


def test_strtoset(engine):
    """StrToSet("{…}") builds the set at parse time (StrToSetFunDef)."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "StrToSet('{[Customer].[ASIA], [Customer].[EUROPE]}') ON ROWS FROM [Sales]",
    )
    assert {x["region_name"] for x in r.df.collect()} == {"ASIA", "EUROPE"}


def test_csv_export(engine, tmp_path):
    """CSV sink: Result DataFrames round-trip through Spark's CSV writer
    (SURVEY.md §2.1 CSV export)."""
    r = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Region].Members")
        .execute()
    )
    out = str(tmp_path / "regions_csv")
    r.df.write.option("header", True).csv(out)
    back = r.df.sparkSession.read.option("header", True).csv(out)
    assert back.count() == 5
    assert set(back.columns) == {"region_name", "sum_qty"}


def test_with_set_function_form(engine):
    """WITH SET holding a set FUNCTION (query_test.rb:706-731 shapes):
    the named set expands with its operations on reference."""
    r = execute_mdx(
        engine,
        """
        WITH SET TopNations AS 'TOPCOUNT([Customer].[Nation].Members, 3, [Measures].[Sum Price])'
        SELECT [Measures].[Sum Price] ON COLUMNS, TopNations ON ROWS
        FROM [Sales]
        """,
    )
    assert r.df.count() == 3


def test_default_member(engine):
    """[Dim].DefaultMember on a hierarchy WITH an All member → the All
    member: ONE grand-total row, NULL in the top level's display column
    (jar!mondrian/olap/fun/DimensionDefaultMemberFunDef — hasAll
    hierarchies default to the All member)."""
    # cold plan: with a warm cache the grand total is legitimately served
    # by rolling up a cached finer grid, whose lineage text contains the
    # original star joins (the audit checks the same property cold)
    if engine.cache is not None:
        engine.cache.flush_all()
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Customer].DefaultMember ON ROWS FROM [Sales]",
    )
    rows = r.df.collect()
    assert len(rows) == 1 and rows[0]["region_name"] is None
    total = engine.fact.selectExpr("sum(l_quantity) s").collect()[0]["s"]
    assert rows[0]["sum_qty"] == total
    # and the plan is the plain fact aggregate — no dimension join (the
    # only "region" mention is the NULL display-column alias)
    plan = r.df._jdf.queryExecution().executedPlan().toString()
    assert "customer.parquet" not in plan and "region.parquet" not in plan
    assert "Join" not in plan


def test_default_member_all_less_hierarchy(spark):
    """Only an all-LESS hierarchy (has_all=False) keeps the
    first-member-in-hierarchy-order DefaultMember."""
    import dataclasses

    from mondrian_olap_spark.star import engine_from_parquet
    from mondrian_olap_spark.tpch import SCHEMA

    from .conftest import SF_DIR

    sales = SCHEMA.cube("Sales")
    dims = tuple(
        dataclasses.replace(d, has_all=False) if d.name == "Customer" else d
        for d in sales.dimensions
    )
    sales2 = dataclasses.replace(sales, dimensions=dims)
    schema2 = dataclasses.replace(
        SCHEMA,
        cubes=tuple(sales2 if c.name == "Sales" else c for c in SCHEMA.cubes),
    )
    eng = engine_from_parquet(spark, schema2, "Sales", SF_DIR)
    r = execute_mdx(
        eng,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Customer].DefaultMember ON ROWS FROM [Sales]",
    )
    rows = r.df.collect()
    assert len(rows) == 1 and rows[0]["region_name"] == "AFRICA"
    # builder form takes the same engine-backed first-member path
    from mondrian_olap_spark.query import Query

    rb = (Query(eng).columns("[Measures].[Sum Qty]")
          .rows("[Customer].DefaultMember").execute().df.collect())
    assert len(rb) == 1 and rb[0]["region_name"] == "AFRICA"


def test_default_member_mixed_with_children(engine):
    """{[Dim].DefaultMember, [Dim].children}: the All row unions onto the
    children grid NULL-padded — the grouping-sets shape (the All member
    routes through the mixed-depth shallow-union machinery)."""
    from mondrian_olap_spark.query import Query

    r = (Query(engine).columns("[Measures].[Sum Qty]")
         .rows("[Customer].DefaultMember", "[Customer].children")
         .execute().df)
    rows = {r_["region_name"]: r_["sum_qty"] for r_ in r.collect()}
    assert len(rows) == 6 and None in rows
    assert rows[None] == sum(v for k, v in rows.items() if k is not None)
    # slicing by the All member constrains nothing
    sliced = (Query(engine).columns("[Measures].[Sum Qty]")
              .where("[Customer].DefaultMember").execute().df.collect())
    assert sliced[0]["sum_qty"] == rows[None]


def test_with_set_itemset(engine):
    """WITH SET … Item(0) over AllMembers (query_test.rb ItemSet shape)."""
    r = execute_mdx(
        engine,
        """
        WITH SET FirstRegion AS '{[Customer].[Region].Members.Item(0)}'
        SELECT [Measures].[Sum Qty] ON COLUMNS, FirstRegion ON ROWS FROM [Sales]
        """,
    )
    rows = r.df.collect()
    assert len(rows) == 1 and rows[0]["region_name"] == "AFRICA"


def test_namedset_current_ordinal(engine):
    """NamedSet.CurrentOrdinal self-reference (query_test.rb:635-644;
    jar!mondrian/mdx/NamedSetExpr): FILTER(NS, NS.CurrentOrdinal < n) ==
    HEAD(NS, n) in the set's iteration order."""
    r = execute_mdx(
        engine,
        """
        WITH SET NS AS '[Customer].[Nation].Members'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               FILTER(NS, NS.CurrentOrdinal < 3) ON ROWS
        FROM [Sales]
        """,
    )
    head = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "HEAD([Customer].[Nation].Members, 3) ON ROWS FROM [Sales]",
    )
    assert rows_of(r.df) == rows_of(head.df)
    assert r.df.count() == 3


def test_namedset_rank_self(engine):
    """RANK(NS.Current, NS, expr) against the set itself == TOPCOUNT by the
    same expression (fun/RankFunDef 3-arg form)."""
    r = execute_mdx(
        engine,
        """
        WITH SET NS AS '[Customer].[Nation].Members'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               FILTER(NS, RANK(NS.Current, NS, [Measures].[Sum Qty]) <= 5) ON ROWS
        FROM [Sales]
        """,
    )
    top = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOPCOUNT([Customer].[Nation].Members, 5, [Measures].[Sum Qty]) ON ROWS "
        "FROM [Sales]",
    )
    assert rows_of(r.df) == rows_of(top.df)


def test_namedset_rank_positional(engine):
    """2-arg RANK = 1-based position in the set's own order: keeping
    rank <= n equals CurrentOrdinal < n."""
    r = execute_mdx(
        engine,
        """
        WITH SET NS AS '[Customer].[Region].Members'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               FILTER(NS, RANK(NS.Current, NS) <= 2) ON ROWS
        FROM [Sales]
        """,
    )
    rows = r.df.collect()
    assert {row["region_name"] for row in rows} == {"AFRICA", "AMERICA"}


def test_filter_as_alias_isempty(engine):
    """FILTER(set AS S, NOT ISEMPTY(S.CURRENT)) — the reference's
    filter-with-alias golden shape (query_test.rb:635-644), executed."""
    r = execute_mdx(
        engine,
        """
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               FILTER([Customer].[Nation].Members AS S, NOT ISEMPTY(S.CURRENT)) ON ROWS
        FROM [Sales]
        """,
    )
    plain = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Customer].[Nation].Members ON ROWS FROM [Sales]",
    )
    # default grid is already non-empty by construction → identical sets
    assert rows_of(r.df) == rows_of(plain.df)


def test_builder_filter_alias_current(engine):
    """Builder filter(cond, as_alias=…) lowers ALIAS.CurrentOrdinal without
    MDX round-tripping; golden serialization keeps the AS form."""
    q = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .filter("S.CurrentOrdinal >= 20", as_alias="S")
    )
    assert "FILTER([Customer].[Nation].Members AS S, S.CurrentOrdinal >= 20)" in q.to_mdx()
    assert q.execute().df.count() == 5  # 25 nations, ordinals 20..24


def test_nested_current_reference_rejected(engine):
    with pytest.raises(MdxError, match="self-references"):
        execute_mdx(
            engine,
            """
            SELECT [Measures].[Sum Qty] ON COLUMNS,
                   CROSSJOIN([ReturnFlag].children,
                             FILTER([Customer].[Region].Members AS S,
                                    RANK(S.Current, S) <= 2)) ON ROWS
            FROM [Sales]
            """,
        )


def test_toggle_drill_state_drills(engine):
    """ToggleDrillState on an undrilled member == DrilldownMember
    (ToggleDrillStateFunDef: not drilled → drill)."""
    t = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOGGLEDRILLSTATE([Time].[Year].Members, {[Time].[1997]}) ON ROWS "
        "FROM [Sales]",
    )
    d = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DRILLDOWNMEMBER([Time].[Year].Members, {[Time].[1997]}) ON ROWS "
        "FROM [Sales]",
    )
    assert rows_of(t.df) == rows_of(d.df)


def test_toggle_drill_state_collapses(engine):
    """Toggling an already-drilled member collapses it back to the base set
    (query shape TOGGLEDRILLSTATE(DRILLDOWNMEMBER(s, {m}), {m}) == s)."""
    t = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOGGLEDRILLSTATE(DRILLDOWNMEMBER([Time].[Year].Members, {[Time].[1997]}), "
        "{[Time].[1997]}) ON ROWS FROM [Sales]",
    )
    base = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Time].[Year].Members ON ROWS FROM [Sales]",
    )
    assert rows_of(t.df) == rows_of(base.df)


def test_toggle_drill_state_builder(engine):
    q = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Time].[Year].Members")
        .toggle_drill_state("[Time].[1997]")   # drills
        .toggle_drill_state("[Time].[1997]")   # collapses
    )
    assert q.execute().df.count() == 7  # just the 7 years


def test_schema_parameters(spark):
    """Schema-declared typed parameters (schema.rb:515-524;
    schema_definition_test.rb:1298-1427): defaults via ParamRef, modifiable
    overrides, non-modifiable and wrong-type rejection, definition lookup."""
    import dataclasses

    from mondrian_olap_spark.model import Parameter
    from mondrian_olap_spark.star import engine_from_parquet
    from mondrian_olap_spark.tpch import SCHEMA

    from .conftest import SF_DIR

    schema = dataclasses.replace(
        SCHEMA,
        parameters=(
            Parameter("Scale Factor", type="Numeric", default_value=2),
            Parameter("Fixed User", type="String", modifiable=False,
                      default_value="default"),
        ),
    )
    eng = engine_from_parquet(spark, schema, "Sales", SF_DIR)
    mdx = (
        "WITH MEMBER [Measures].[Scaled] AS "
        "'[Measures].[Sum Qty] * ParamRef(\"Scale Factor\")' "
        "SELECT {[Measures].[Sum Qty], [Measures].[Scaled]} ON COLUMNS FROM [Sales]"
    )
    row = eng.execute(mdx).df.collect()[0]
    assert row["scaled"] == row["sum_qty"] * 2  # schema default
    row = eng.execute(mdx, parameters={"Scale Factor": 5}).df.collect()[0]
    assert row["scaled"] == row["sum_qty"] * 5  # modifiable override
    with pytest.raises(MdxError, match="not modifiable"):
        eng.execute(mdx, parameters={"Fixed User": "someone"})
    with pytest.raises(MdxError, match="Numeric"):
        eng.execute(mdx, parameters={"Scale Factor": "ten"})
    p = eng.parameter("Fixed User")
    assert p is not None and not p.modifiable and p.type == "String"
    assert eng.parameter("Nope") is None


def test_parameter_type_validation():
    from mondrian_olap_spark.model import Parameter

    with pytest.raises(ValueError, match="type"):
        Parameter("Bad", type="Fancy")
    p = Parameter("N", type="Integer")
    p.check_value(3)
    with pytest.raises(TypeError):
        p.check_value(3.5)
    with pytest.raises(TypeError):
        p.check_value(True)  # bool is not an Integer parameter value


def test_case_match_with_helper_members(engine):
    """CASE over literal helper members (mondrian_test.rb:338-358): member
    references in branches, dependency-ordered even with tied solve
    orders, grand-total context row with no base measures."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[one] AS '1'
             MEMBER [Measures].[two] AS '2'
             MEMBER [Measures].[Case 1] AS 'CASE 1 WHEN 1 THEN [Measures].[one] ELSE [Measures].[two] END'
             MEMBER [Measures].[Case 2] AS 'CASE 2 WHEN 1 THEN [Measures].[one] ELSE [Measures].[two] END'
        SELECT {[Measures].[Case 1], [Measures].[Case 2]} ON COLUMNS FROM [Sales]
        """,
    )
    rows = r.df.collect()
    assert len(rows) == 1
    assert rows[0]["case_1"] == 1 and rows[0]["case_2"] == 2


def test_case_null_results(engine):
    """CASE branches yielding NULL (mondrian_test.rb:398-413)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[one] AS '1'
             MEMBER [Measures].[Case 1] AS 'CASE 1 WHEN 1 THEN NULL ELSE [Measures].[one] END'
             MEMBER [Measures].[Case 2] AS 'CASE 2 WHEN 1 THEN NULL ELSE [Measures].[one] END'
        SELECT {[Measures].[Case 1], [Measures].[Case 2]} ON COLUMNS FROM [Sales]
        """,
    )
    rows = r.df.collect()
    assert rows[0]["case_1"] is None and rows[0]["case_2"] == 1


def test_case_end_name_returns_member_name(engine):
    """CASE … END.Name yields the winning member's NAME as a string
    (mondrian_test.rb:382-397)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[one] AS '1'
             MEMBER [Measures].[two] AS '2'
             MEMBER [Measures].[Case 1] AS 'CASE 1 WHEN 1 THEN [Measures].[one] ELSE [Measures].[two] END.Name'
             MEMBER [Measures].[Case 2] AS 'CASE 2 WHEN 1 THEN [Measures].[one] ELSE [Measures].[two] END.Name'
        SELECT {[Measures].[Case 1], [Measures].[Case 2]} ON COLUMNS FROM [Sales]
        """,
    )
    rows = r.df.collect()
    assert rows[0]["case_1"] == "one" and rows[0]["case_2"] == "two"


def test_case_tuple_scalar_results(engine):
    """CASE branches returning tuples evaluate to the tuple's CELL VALUE —
    the measure with the listed dimension's context overridden
    (mondrian_test.rb:361-380, Case 3-6)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[one] AS '1'
             MEMBER [Measures].[two] AS '2'
             MEMBER [Measures].[Case 3] AS 'CASE 1 WHEN 1 THEN ([Measures].[one], [Customer].[ASIA]) ELSE ([Measures].[two], [Customer].[AFRICA]) END'
             MEMBER [Measures].[Case 4] AS 'CASE 1 WHEN 1 THEN ([Measures].[one], [Customer].[ASIA]) ELSE 2 END'
             MEMBER [Measures].[Case 5] AS 'CASE 1 WHEN 2 THEN [Measures].[one] ELSE ([Measures].[two], [Customer].[ASIA]) END'
             MEMBER [Measures].[Case 6] AS 'CASE 2 WHEN 2 THEN ([Measures].[two], [Customer].[ASIA]) ELSE [Measures].[one] END'
        SELECT {[Measures].[Case 3], [Measures].[Case 4], [Measures].[Case 5], [Measures].[Case 6]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert [row["case_3"], row["case_4"], row["case_5"], row["case_6"]] == [
        1, 1, 2, 2,
    ]


def test_case_item_name(engine):
    """CASE … END.Item(i).Name indexes the winning tuple result and returns
    that component's NAME (mondrian_test.rb:388-397, Case 3/4); a bare
    member result coerces to a 1-tuple."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[one] AS '1'
             MEMBER [Measures].[two] AS '2'
             MEMBER [Measures].[Case 3] AS 'CASE 1 WHEN 1 THEN ([Measures].[one], [Customer].[ASIA]) ELSE ([Measures].[two], [Customer].[AFRICA]) END.Item(0).Name'
             MEMBER [Measures].[Case 4] AS 'CASE 2 WHEN 1 THEN ([Measures].[one], [Customer].[ASIA]) ELSE ([Measures].[two], [Customer].[AFRICA]) END.Item(1).Name'
             MEMBER [Measures].[Case 5] AS 'CASE 1 WHEN 1 THEN [Measures].[one] ELSE [Measures].[two] END.Item(0).Name'
        SELECT {[Measures].[Case 3], [Measures].[Case 4], [Measures].[Case 5]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert [row["case_3"], row["case_4"], row["case_5"]] == [
        "one", "AFRICA", "one",
    ]


def test_tuple_scalar_contextual_measure(engine):
    """A tuple over a REAL measure keeps the non-overridden dimensions'
    row context: ([Sum Qty], [Customer].[ASIA]) on a Time-rows grid is the
    per-year Asia quantity (jar!mondrian/olap/fun tuple value evaluation)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Asia Qty] AS '([Measures].[Sum Qty], [Customer].[ASIA])'
        SELECT {[Measures].[Sum Qty], [Measures].[Asia Qty]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    )
    rows = {x["o_year"]: x for x in r.df.collect()}
    direct = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, [Time].[Year].Members ON ROWS "
        "FROM [Sales] WHERE ([Customer].[ASIA])",
    )
    for x in direct.df.collect():
        assert rows[x["o_year"]]["asia_qty"] == x["sum_qty"]
        assert rows[x["o_year"]]["sum_qty"] >= x["sum_qty"]


def test_case_item_bare_value(engine):
    """Bare CASE … END.Item(i) as a VALUE (mondrian_test.rb:361-380 family,
    STATUS gap 3): the winning branch's i-th component evaluated as a cell
    value — a measure component yields that measure, a non-measure member
    coerces to a 1-tuple under the implicit (default) measure, a scalar
    branch passes through."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[one] AS '1'
             MEMBER [Measures].[two] AS '2'
             MEMBER [Measures].[C1] AS 'CASE 1 WHEN 1 THEN ([Measures].[one], [Customer].[ASIA]) ELSE ([Measures].[two], [Customer].[AFRICA]) END.Item(0)'
             MEMBER [Measures].[C2] AS 'CASE 2 WHEN 1 THEN ([Measures].[one], [Customer].[ASIA]) ELSE ([Measures].[two], [Customer].[AFRICA]) END.Item(0)'
             MEMBER [Measures].[C3] AS 'CASE 1 WHEN 1 THEN [Customer].[ASIA] ELSE [Customer].[EUROPE] END.Item(0)'
             MEMBER [Measures].[C4] AS 'CASE 2 WHEN 1 THEN ([Measures].[one], [Customer].[ASIA]) ELSE 7 END.Item(0)'
        SELECT {[Measures].[C1], [Measures].[C2], [Measures].[C3], [Measures].[C4]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    asia_qty = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS FROM [Sales] "
        "WHERE ([Customer].[ASIA])",
    ).df.collect()[0]["sum_qty"]
    assert [row["c1"], row["c2"], row["c4"]] == [1, 2, 7]
    assert row["c3"] == asia_qty


def test_case_item_out_of_range_raises(engine):
    with pytest.raises(MdxError, match="Item"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[x] AS 'CASE 1 WHEN 1 THEN ([Measures].[Sum Qty], [Customer].[ASIA]) ELSE 2 END.Item(5)'
            SELECT [Measures].[x] ON COLUMNS FROM [Sales]
            """,
        )


def test_tuple_scalar_implicit_measure(engine):
    """A tuple with NO [Measures] component (STATUS gap 4): the Measures
    context is unpinned, so the hierarchy's default member — the cube's
    default_measure / first stored measure (schema.rb:61 defaultMeasure) —
    resolves the cell value."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[AsiaImplicit] AS '([Customer].[ASIA])'
             MEMBER [Measures].[AsiaExplicit] AS '([Measures].[Sum Qty], [Customer].[ASIA])'
        SELECT {[Measures].[AsiaImplicit], [Measures].[AsiaExplicit]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    )
    for x in r.df.collect():
        assert x["asia_implicit"] == x["asia_explicit"]
        assert x["asia_implicit"] is not None


def test_object_accessors_in_expressions(engine):
    """Object-accessor family (DimensionDimensionFunDef, LevelLevelFunDef
    et al.): .Dimension/.Hierarchy/.Level chains and .Name/.UniqueName/
    .Ordinal fold to metadata constants in value expressions."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[dim_name] AS '[Customer].[ASIA].Dimension.Name'
             MEMBER [Measures].[hier_name] AS '[Customer].[ASIA].Hierarchy.Name'
             MEMBER [Measures].[lvl_name] AS '[Customer].[ASIA].Level.Name'
             MEMBER [Measures].[lvl_ord] AS '[Customer].[Nation].Ordinal'
             MEMBER [Measures].[mem_name] AS '[Customer].[ASIA].Name'
             MEMBER [Measures].[mem_uname] AS '[Customer].[ASIA].UniqueName'
             MEMBER [Measures].[meas_name] AS '[Measures].[Sum Qty].Name'
        SELECT {[Measures].[dim_name], [Measures].[hier_name], [Measures].[lvl_name],
                [Measures].[lvl_ord], [Measures].[mem_name], [Measures].[mem_uname],
                [Measures].[meas_name]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["dim_name"] == "Customer"
    assert row["hier_name"] == "Customer"
    assert row["lvl_name"] == "Region"
    assert row["lvl_ord"] == 1
    assert row["mem_name"] == "ASIA"
    assert row["mem_uname"] == "[Customer].[ASIA]"
    assert row["meas_name"] == "Sum Qty"


def test_dimensions_function(engine):
    """Dimensions(n) / Dimensions('name') (DimensionsNumericFunDef /
    DimensionsStringFunDef): index 0 is Measures, then schema order; works
    in axis position and in expressions."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[d0] AS 'Dimensions(0).Name'
             MEMBER [Measures].[dn] AS 'Dimensions(''Customer'').UniqueName'
        SELECT {[Measures].[d0], [Measures].[dn]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["d0"] == "Measures"
    assert row["dn"] == "[Customer]"
    # axis position: Dimensions('Customer').Members == [Customer].Members
    r2 = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "Dimensions('Customer').Members ON ROWS FROM [Sales]",
    )
    assert r2.df.count() == 5  # the five regions


def test_dimensions_out_of_range(engine):
    with pytest.raises(MdxError, match="Dimensions"):
        execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            "Dimensions(99).Members ON ROWS FROM [Sales]",
        )


def test_strtotuple_in_where(engine):
    """StrToTuple in the slicer (StrToTupleFunDef; completes the
    string-bridge family of schema_definition_test.rb:1111-1138)."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, [ReturnFlag].children ON ROWS "
        "FROM [Sales] WHERE StrToTuple('([Customer].[ASIA], [Time].[1995])')",
    )
    b = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[ReturnFlag].children")
        .where("[Customer].[ASIA]", "[Time].[1995]")
        .execute()
    )
    assert rows_of(r.df) == rows_of(b.df)


def test_strtotuple_in_expression(engine):
    """StrToTuple as a value expression routes through the tuple-scalar
    lowering (contextual measure)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Asia Qty] AS 'StrToTuple(''([Measures].[Sum Qty], [Customer].[ASIA])'')'
        SELECT {[Measures].[Sum Qty], [Measures].[Asia Qty]} ON COLUMNS FROM [Sales]
        """,
    )
    direct = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS FROM [Sales] "
        "WHERE ([Customer].[ASIA])",
    )
    assert (
        r.df.collect()[0]["asia_qty"] == direct.df.collect()[0]["sum_qty"]
    )


def test_isdirty_false(engine):
    """IsDirty() evaluator introspection (mondrian_test.rb:241-247)."""
    r = execute_mdx(
        engine,
        "WITH MEMBER [Measures].[d] AS 'IsDirty()' "
        "SELECT [Measures].[d] ON COLUMNS FROM [Sales]",
    )
    assert r.df.collect()[0]["d"] is False


def test_secondary_hierarchy_dotted_reference(engine):
    """[Time.Weekly] secondary-hierarchy naming (schema.rb:132-167) maps to
    the sibling TimeWeekly dimension."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Time.Weekly].[Week].Members ON ROWS FROM [Sales] "
        "WHERE ([Time.Weekly].[1995])",
    )
    rows = r.df.collect()
    assert len(rows) >= 52 and all(row["w_year"] == 1995 for row in rows)


def test_nonempty_function_forms(engine):
    """NONEMPTY(set) == NON EMPTY axis; NONEMPTY(set1, set2) keeps members
    with data in set2's context (NonEmptyFunDef)."""
    one = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "NONEMPTY([Customer].[Nation].Members) ON ROWS FROM [Sales]",
    )
    plain = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].Members ON ROWS FROM [Sales]",
    )
    assert rows_of(one.df) == rows_of(plain.df)
    two = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "NONEMPTY([Customer].[Nation].Members, {[Time].[1995]}) ON ROWS FROM [Sales]",
    )
    ex = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXISTS([Customer].[Nation].Members, {[Time].[1995]}) ON ROWS FROM [Sales]",
    )
    assert rows_of(two.df) == rows_of(ex.df)


def test_member_family_navigation(engine):
    """FirstChild / LastChild / Parent / FirstSibling / Siblings
    (jar!mondrian/olap/fun member navigation family)."""
    fc = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Time].[1995].FirstChild ON ROWS FROM [Sales]",
    )
    rows = fc.df.collect()
    assert len(rows) == 1 and rows[0]["o_quarter"] == "Q1"

    lc = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Time].[1995].LastChild ON ROWS FROM [Sales]",
    )
    rows = lc.df.collect()
    assert len(rows) == 1 and rows[0]["o_quarter"] == "Q4"

    par = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Time].[1995].[Q2].Parent ON ROWS FROM [Sales]",
    )
    rows = par.df.collect()
    assert len(rows) == 1 and rows[0]["o_year"] == 1995

    sib = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Time].[1995].[Q2].Siblings ON ROWS FROM [Sales]",
    )
    assert {r["o_quarter"] for r in sib.df.collect()} == {"Q1", "Q2", "Q3", "Q4"}

    fs = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Time].[1995].[Q3].FirstSibling ON ROWS FROM [Sales]",
    )
    rows = fs.df.collect()
    assert len(rows) == 1 and rows[0]["o_quarter"] == "Q1"


def test_cousin(engine):
    """Cousin(member, ancestor): same relative position under the new
    ancestor (CousinFunDef)."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "COUSIN([Time].[1995].[Q2], [Time].[1996]) ON ROWS FROM [Sales]",
    )
    rows = r.df.collect()
    assert len(rows) == 1
    assert rows[0]["o_year"] == 1996 and rows[0]["o_quarter"] == "Q2"


def test_ancestor_and_descendants_functions(engine):
    """ANCESTOR(member, level) / DESCENDANTS(member, level)
    (AncestorFunDef / DescendantsFunDef)."""
    a = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "ANCESTOR([Time].[1995].[Q2], [Time].[Year]) ON ROWS FROM [Sales]",
    )
    rows = a.df.collect()
    assert len(rows) == 1 and rows[0]["o_year"] == 1995

    d = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DESCENDANTS([Time].[1995], [Time].[Month]) ON ROWS FROM [Sales]",
    )
    rows = d.df.collect()
    assert len(rows) == 12 and all(r["o_year"] == 1995 for r in rows)


# ----------------------------------- code-review regression fixes
def test_current_ordinal_ignores_other_axis_order(engine):
    """A previous axis's ORDER must not change which members
    NS.CurrentOrdinal selects (set order is per-axis hierarchize order)."""
    r = execute_mdx(
        engine,
        """
        WITH SET NS AS '[Customer].[Nation].Members'
        SELECT ORDER({[Measures].[Sum Qty]}, [Measures].[Sum Qty], BDESC) ON COLUMNS,
               FILTER(NS, NS.CurrentOrdinal < 3) ON ROWS
        FROM [Sales]
        """,
    )
    head = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "HEAD([Customer].[Nation].Members, 3) ON ROWS FROM [Sales]",
    )
    assert rows_of(r.df) == rows_of(head.df)


def test_case_end_name_keeps_when_conditions(engine):
    """END.Name rewrites only THEN/ELSE results — WHEN conditions keep
    their measure cell values."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Pick] AS
          'CASE WHEN [Measures].[Sum Qty] > 100 THEN [Measures].[Sum Qty] ELSE [Measures].[Count Order] END.Name'
        SELECT [Measures].[Pick] ON COLUMNS FROM [Sales]
        """,
    )
    assert r.df.collect()[0]["pick"] == "Sum Qty"


def test_parent_in_braces_and_where(engine):
    """.Parent works inside braces and WHERE (path truncation); other
    family suffixes are rejected loudly rather than matching nothing."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "{[Time].[1995].[Q2].Parent} ON ROWS FROM [Sales] "
        "WHERE ([Customer].[ASIA].[NATION_13].Parent)",
    )
    rows = r.df.collect()
    assert len(rows) == 1 and rows[0]["o_year"] == 1995
    with pytest.raises(MdxError, match="bare set expression"):
        execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            "{[Customer].[ASIA].FirstChild} ON ROWS FROM [Sales]",
        )


def test_parent_of_root_raises(engine):
    with pytest.raises(MdxError, match="no parent"):
        execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            "[Customer].[ASIA].Parent ON ROWS FROM [Sales]",
        )


def test_filter_alias_on_measure_only_axis(engine):
    """An aliased FILTER on a measures-only axis must not crash."""
    r = execute_mdx(
        engine,
        """
        WITH SET MS AS '{[Measures].[Sum Qty]}'
        SELECT FILTER(MS, [Measures].[Sum Qty] > 0) ON COLUMNS FROM [Sales]
        """,
    )
    assert len(r.df.collect()) == 1


def test_rank_with_parenthesized_expression(engine):
    """3-arg RANK whose expression itself contains parentheses."""
    r = execute_mdx(
        engine,
        """
        WITH SET NS AS '[Customer].[Nation].Members'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               FILTER(NS, RANK(NS.Current, NS, [Measures].[Sum Qty] * (1 + 0.1)) <= 5) ON ROWS
        FROM [Sales]
        """,
    )
    top = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOPCOUNT([Customer].[Nation].Members, 5, [Measures].[Sum Qty]) ON ROWS "
        "FROM [Sales]",
    )
    assert rows_of(r.df) == rows_of(top.df)


def test_descendants_same_level_is_member(engine):
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DESCENDANTS([Time].[1995], [Time].[Year]) ON ROWS FROM [Sales]",
    )
    rows = r.df.collect()
    assert len(rows) == 1 and rows[0]["o_year"] == 1995


def test_chained_children_format_roundtrip(engine):
    from mondrian_olap_spark.members import format_ref, resolve

    ref = resolve(engine.cube, "[Time].[1995].Children.Children")
    s = format_ref(ref)
    assert s.lower().count(".children") == 2
    assert resolve(engine.cube, s) == ref
    plain = resolve(engine.cube, "[Time].[1995].Children")
    assert format_ref(plain).lower().count(".children") == 1


def test_range_drilldown_keeps_range_constraint(engine):
    """Drilling a range set keeps the BETWEEN predicate on the ORIGINAL
    level: DRILLDOWNLEVEL over [1996]:[1998] yields those years' quarters,
    not an empty set from comparing quarter ordinals to year bounds."""
    r = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .member_range("[Time].[1996]", "[Time].[1998]")
        .drilldown_level()
        .execute()
    )
    rows = r.df.collect()
    years = {row["o_year"] for row in rows}
    assert years == {1996, 1997, 1998}
    # children rows cover all quarters; parent rows carry NULL quarter
    assert {row["o_quarter"] for row in rows} == {"Q1", "Q2", "Q3", "Q4", None}
    assert len(rows) == 3 * 5  # 3 years × (4 quarters + parent row)


def test_exists_computed_second_set(engine):
    """EXISTS accepts an arbitrary computed set as its second argument
    (jar!mondrian/olap/fun/ExistsFunDef): the set evaluates in the slicer
    context, then slices the shared-fact-rows semi-join exactly like a
    plain member list."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXISTS([Customer].[Nation].Members, "
        "TOPCOUNT([Time].[Year].Members, 1, [Measures].[Sum Qty])) ON ROWS "
        "FROM [Sales]",
    )
    # resolve the top year directly, then replay EXISTS with the plain list
    top = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOPCOUNT([Time].[Year].Members, 1, [Measures].[Sum Qty]) ON ROWS "
        "FROM [Sales]",
    ).df.collect()
    assert len(top) == 1
    plain = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        f"EXISTS([Customer].[Nation].Members, {{[Time].[{top[0]['o_year']}]}}) "
        "ON ROWS FROM [Sales]",
    )
    assert rows_of(r.df) == rows_of(plain.df)


def test_except_computed_second_set(engine):
    """EXCEPT subtracts a computed set — the FILTER result evaluated in
    the slicer context (ExceptFunDef takes arbitrary sets)."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXCEPT([Customer].[Nation].Members, "
        "FILTER([Customer].[Nation].Members, [Measures].[Sum Qty] > 9000)) "
        "ON ROWS FROM [Sales]",
    )
    rows = r.df.collect()
    assert rows and all(row["sum_qty"] <= 9000 for row in rows)


def test_generate_computed_second_set(engine):
    """GENERATE with a computed second set that ignores CurrentMember is
    the computed set itself (GenerateFunDef degenerate case), evaluated
    through the nested-set machinery."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "GENERATE([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Nation].Members, 3, [Measures].[Sum Qty])) "
        "ON ROWS FROM [Sales]",
    )
    direct = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOPCOUNT([Customer].[Nation].Members, 3, [Measures].[Sum Qty]) "
        "ON ROWS FROM [Sales]",
    )
    assert sorted(rows_of(r.df)) == sorted(rows_of(direct.df))


def test_drilldownmember_computed_second_set(engine):
    """DRILLDOWNMEMBER's second set may be computed: the top region by
    quantity drills to its nations (evaluation deferred past WHERE so the
    slicer binds)."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DRILLDOWNMEMBER([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].Members, 1, [Measures].[Sum Qty])) "
        "ON ROWS FROM [Sales] WHERE [ReturnFlag].[R]",
    )
    top = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOPCOUNT([Customer].[Region].Members, 1, [Measures].[Sum Qty]) "
        "ON ROWS FROM [Sales] WHERE [ReturnFlag].[R]",
    ).df.collect()
    top_region = top[0]["region_name"]
    rows = r.df.collect()
    drilled = {row["region_name"] for row in rows if row["nation_name"] is not None}
    assert drilled == {top_region}
    assert {row["region_name"] for row in rows if row["nation_name"] is None} == {
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"
    }


def test_toggledrillstate_computed_cancels_drill(engine):
    """TOGGLEDRILLSTATE(DRILLDOWNMEMBER(s, set2), set2) with a COMPUTED
    set2 returns s — both evaluate to the same members post-WHERE, so the
    toggle cancels the drill (ToggleDrillStateFunDef state semantics)."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOGGLEDRILLSTATE(DRILLDOWNMEMBER([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].Members, 2, [Measures].[Sum Qty])), "
        "TOPCOUNT([Customer].[Region].Members, 2, [Measures].[Sum Qty])) "
        "ON ROWS FROM [Sales]",
    )
    plain = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Customer].[Region].Members ON ROWS FROM [Sales]",
    )
    assert rows_of(r.df) == rows_of(plain.df)


def test_exists_computed_to_mdx_roundtrip(engine):
    """A computed EXISTS argument serializes back to its source text and
    re-executes to the same grid."""
    mdx = (
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXISTS([Customer].[Nation].Members, "
        "FILTER([ReturnFlag].Children, [Measures].[Sum Qty] > 6000)) "
        "ON ROWS FROM [Sales]"
    )
    r = execute_mdx(engine, mdx)
    out = r.to_mdx() if hasattr(r, "to_mdx") else None
    if out is None:
        from mondrian_olap_spark.mdx import MdxParser

        out = MdxParser(engine, mdx).parse().to_mdx()
    assert "FILTER([ReturnFlag].Children" in out
    assert rows_of(execute_mdx(engine, out).df) == rows_of(r.df)


def test_exists_to_mdx_roundtrip(engine):
    q = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .exists_("[Time].[1995].[Q1]")
    )
    assert "EXISTS([Customer].[Nation].Members, [Time].[1995].[Q1])" in q.to_mdx()
    direct = rows_of(q.execute().df)
    assert rows_of(execute_mdx(engine, q.to_mdx()).df) == direct


def test_multiple_rank_occurrences(engine):
    """Every RANK(S.Current, …) occurrence lowers (not just the first)."""
    r = execute_mdx(
        engine,
        """
        WITH SET NS AS '[Customer].[Nation].Members'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               FILTER(NS, RANK(NS.Current, NS) <= 10 AND
                          RANK(NS.Current, NS, [Measures].[Sum Qty]) <= 3) ON ROWS
        FROM [Sales]
        """,
    )
    rows = r.df.collect()
    assert 0 < len(rows) <= 3


def test_nav_member_edge_resolution(engine):
    """FirstChild/LastChild resolve through the ordinal-ordered lookup to
    concrete members at parse time (correct even when key order differs
    from hierarchy order)."""
    fc = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Time].[1995].FirstChild ON ROWS FROM [Sales]",
    )
    rows = fc.df.collect()
    assert len(rows) == 1 and rows[0]["o_quarter"] == "Q1"
    ls = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Time].[1995].[Q2].LastSibling ON ROWS FROM [Sales]",
    )
    rows = ls.df.collect()
    assert len(rows) == 1 and rows[0]["o_quarter"] == "Q4"


def test_ancestor_rejects_measures(engine):
    with pytest.raises(MdxError, match="full member path"):
        execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            "ANCESTOR([Measures].[Sum Qty], [Time].[Year]) ON ROWS FROM [Sales]",
        )


def test_string_literals_survive_structural_rewrites(engine):
    """A quoted literal containing END/IsDirty()/[Measures].[X] text must
    pass through untouched — the CASE/IsDirty/measure rewrites operate on
    code, not on string contents (ADVICE r2: literals are masked before the
    regex passes and restored after)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[lit] AS '''THE END'''
             MEMBER [Measures].[dirty lit] AS '''IsDirty() inside'''
             MEMBER [Measures].[label] AS 'CASE WHEN 1 = 1 THEN ''WHEN ELSE END'' ELSE ''x'' END'
        SELECT {[Measures].[lit], [Measures].[dirty lit], [Measures].[label]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["lit"] == "THE END"
    assert row["dirty_lit"] == "IsDirty() inside"
    assert row["label"] == "WHEN ELSE END"


def test_cousin_resolution_collects_single_rows(engine, monkeypatch):
    """COUSIN resolves positions via count + window-slice lookups — every
    driver round-trip during validation carries at most ONE row, never a
    sibling list (r2 review: scale-proof on high-cardinality flat
    hierarchies)."""
    cls = type(engine.fact)
    orig = cls.collect
    sizes = []

    def counting(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", counting)
    execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "COUSIN([Time].[1995].[Q2], [Time].[1996]) ON ROWS FROM [Sales]",
    )
    assert sizes and all(n <= 1 for n in sizes)


def test_cousin_leaf_ancestor_raises_mdx_error(engine):
    """COUSIN with a leaf-level ancestor is a user error, not an
    IndexError (jar!mondrian/olap/fun/CousinFunDef validation)."""
    from mondrian_olap_spark.mdx import MdxError

    with pytest.raises(MdxError, match="leaf level"):
        execute_mdx(
            engine,
            "SELECT COUSIN([Time].[1995].[Q1].[1], [Time].[1996].[Q2].[4]) "
            "ON COLUMNS FROM [Sales]",
        )


def test_cousin_skips_ragged_hidden_siblings(spark):
    """COUSIN positional lookups count only VISIBLE siblings: a ragged
    hide_member_if member must not shift positions nor be returnable
    (review fix: _member_keys_at applies level_members' visibility
    rules)."""
    import dataclasses

    from mondrian_olap_spark.star import CubeEngine
    from mondrian_olap_spark.tpch import SCHEMA

    rows = [
        ("USA", "Albany"), ("USA", ""), ("USA", "Boston"),
        ("France", "Lyon"), ("France", "Nice"), ("France", "Paris"),
    ]
    geo = spark.createDataFrame(rows, "country string, city string")
    fact = spark.createDataFrame(
        [(c, ci, 1.0) for c, ci in rows], "country string, city string, v double"
    )
    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure

    cube = Cube(
        name="G",
        fact="fact",
        dimensions=(
            Dimension(
                name="Geo",
                levels=(
                    Level("Country", "country", output="country"),
                    Level(
                        "City", "city", output="city",
                        hide_member_if="IfBlankName",
                    ),
                ),
            ),
        ),
        measures=(Measure("V", "v", "sum", output="v"),),
    )
    eng = CubeEngine(cube, {"fact": fact, "geo": geo})
    # visible USA siblings: [Albany, Boston] → Boston is position 1
    assert eng.member_position("Geo", 1, ("USA", "Boston")) == 1
    assert eng.member_at_position("Geo", 1, ("France",), 1) == "Nice"
    r = execute_mdx(
        eng,
        "SELECT [Measures].[V] ON COLUMNS, "
        "COUSIN([Geo].[USA].[Boston], [Geo].[France]) ON ROWS FROM [G]",
    )
    assert [x["city"] for x in r.df.collect()] == ["Nice"]
    # edge lookups ride the same visibility frame: the blank hidden city
    # (which sorts first) is never FirstChild
    assert eng.edge_member("Geo", 1, ("USA",)) == "Albany"


def test_accessor_level_caption_uses_display_caption(engine):
    """.Caption on a level folds the DISPLAY caption, never the member-
    caption SQL expression (review fix); member .Caption with a caption
    expression refuses to constant-fold."""
    r = execute_mdx(
        engine,
        "WITH MEMBER [Measures].[c] AS '[Supplier].[Supplier].Caption' "
        "SELECT [Measures].[c] ON COLUMNS FROM [Sales]",
    )
    val = r.df.collect()[0]["c"]
    assert "concat" not in val and val == "Supplier"
    # a REAL member (existence validation passes) whose level declares a
    # caption expression still refuses to constant-fold
    with pytest.raises(MdxError, match="data-dependent"):
        execute_mdx(
            engine,
            "WITH MEMBER [Measures].[c] AS "
            "'[Supplier].[NATION_3].[Supplier#000000003].Caption' "
            "SELECT [Measures].[c] ON COLUMNS FROM [Sales]",
        )


def test_accessor_unknown_measure_chain_raises(engine):
    """Object-accessor chains on a nonexistent measure raise not-found
    instead of folding to a plausible constant (review fix)."""
    with pytest.raises(MdxError, match="not found in cube"):
        execute_mdx(
            engine,
            "WITH MEMBER [Measures].[x] AS "
            "'[Measures].[Nonexistent].Dimension.Name' "
            "SELECT [Measures].[x] ON COLUMNS FROM [Sales]",
        )


def test_tuple_scalar_with_rollup_totals(engine):
    """Tuple scalars under totals('rollup'): the super-aggregate row (NULL
    grouping keys) carries the tuple value at ITS grain via the null-safe
    sub-aggregate join — not a NULL hole."""
    q = (
        Query(engine)
        .with_member("Asia Qty")
        .as_("__tuple0", output="asia_qty")
        .columns("[Measures].[Sum Qty]", "[Measures].[Asia Qty]")
        .rows("[Time].[Year].Members")
        .totals("rollup")
    )
    q._tuple_scalars.append(("__tuple0", "Sum Qty", ("[Customer].[ASIA]",)))
    rows = q.execute().df.collect()
    total = [r for r in rows if r["o_year"] is None]
    detail = {r["o_year"]: r["asia_qty"] for r in rows if r["o_year"] is not None}
    direct = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, [Time].[Year].Members ON ROWS "
        "FROM [Sales] WHERE ([Customer].[ASIA])",
    )
    expected = {r["o_year"]: r["sum_qty"] for r in direct.df.collect()}
    assert detail == expected
    assert len(total) == 1 and total[0]["asia_qty"] == sum(expected.values())


def test_measures_level_accessor_chains(engine):
    """[Measures].[MeasuresLevel] is the Measures level identifier, not a
    measure lookup (review fix): its props and object chains fold."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[a] AS '[Measures].[MeasuresLevel].Ordinal'
             MEMBER [Measures].[b] AS '[Measures].[MeasuresLevel].Dimension.Name'
             MEMBER [Measures].[c] AS '[Measures].[MeasuresLevel].[Sum Qty].Name'
        SELECT {[Measures].[a], [Measures].[b], [Measures].[c]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["a"] == 0 and row["b"] == "Measures" and row["c"] == "Sum Qty"


def test_measures_members_listing(engine):
    """[Measures].Members lists base measures; AddCalculatedMembers /
    .AllMembers additionally include schema calculated members
    (LevelMembersFunDef / AddCalculatedMembersFunDef split)."""
    base = execute_mdx(
        engine,
        "SELECT [Measures].Members ON COLUMNS, [Customer].children ON ROWS "
        "FROM [Sales]",
    )
    base_cols = set(base.measure_columns)
    assert "sum_qty" in base_cols and "discount_amount" not in base_cols
    allm = execute_mdx(
        engine,
        "SELECT AddCalculatedMembers([Measures].Members) ON COLUMNS, "
        "[Customer].children ON ROWS FROM [Sales]",
    )
    all_cols = set(allm.measure_columns)
    assert base_cols < all_cols
    assert {"discount_amount", "avg_item_value", "discount_share"} <= all_cols


def test_accessor_uniquename_not_rewritten(engine):
    """Folded accessor literals are masked from the later measure-reference
    pass: .UniqueName returns the identifier text, never the internal
    column alias, and .Level.UniqueName doesn't spuriously fail."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[u] AS '[Measures].[Sum Qty].UniqueName'
             MEMBER [Measures].[lu] AS '[Measures].[Sum Qty].Level.UniqueName'
        SELECT {[Measures].[u], [Measures].[lu]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["u"] == "[Measures].[Sum Qty]"
    assert row["lu"] == "[Measures].[MeasuresLevel]"


def test_subselect_keeps_qualifying_null_member(spark):
    """A genuinely-NULL member key that QUALIFIES a contextual set
    operation survives the null-safe semi-join (review fix: plain equality
    would silently drop it)."""
    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure
    from mondrian_olap_spark.star import CubeEngine

    fact = spark.createDataFrame(
        [(None, "g1", 99.0), ("a", "g1", 10.0), ("b", "g2", 5.0)],
        "cat string, grp string, v double",
    )
    cube = Cube(
        name="N",
        fact="fact",
        dimensions=(
            Dimension(name="Cat", levels=(Level("Cat", "cat", output="cat"),)),
            Dimension(name="Grp", levels=(Level("Grp", "grp", output="grp"),)),
        ),
        measures=(Measure("V", "v", "sum", output="v_sum"),),
    )
    eng = CubeEngine(cube, {"fact": fact})
    rows = (
        Query(eng)
        .columns("[Measures].[V]")
        .rows("[Cat].children")
        .crossjoin("[Grp].children")
        .top_count(1, "v_sum")
        .execute()
        .df.collect()
    )
    assert len(rows) == 1 and rows[0]["cat"] is None and rows[0]["v_sum"] == 99.0


def test_agg_scalar_totals_genuine_null_key_collision_fallback(spark):
    """A GENUINE NULL member key colliding with the rollup marker NULL in
    an Aggregate-scalar sub-frame: the dup probe in _broadcast_attach must
    fall back to the plain equality join — detail rows keep exact values
    and BOTH NULL-keyed grid rows get a NULL scalar, never a
    cross-assigned wrong value."""
    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure
    from mondrian_olap_spark.star import CubeEngine

    fact = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0),
         (None, "x", 5.0), (None, "y", 7.0)],
        "grp string, seg string, v double",
    )
    cube = Cube(
        name="N",
        fact="fact",
        dimensions=(
            Dimension(name="Grp", levels=(Level("Grp", "grp", output="grp"),)),
            Dimension(name="Seg", levels=(Level("Seg", "seg", output="seg"),)),
        ),
        measures=(Measure("V", "v", "sum", output="v_sum"),),
    )
    eng = CubeEngine(cube, {"fact": fact})
    q = (
        Query(eng)
        .with_member("VSq")
        .as_("__setstat0", output="v_sq")
        .columns("[Measures].[V]", "[Measures].[VSq]")
        .rows("[Grp].children")
        .totals("rollup")
    )
    q._stat_scalars.append(
        ("__setstat0", "sum", ("v_sum * v_sum",), ("[Seg].[x]", "[Seg].[y]"),
         None, False, False, None)
    )
    rows = q.execute().df.collect()
    got = {(r["grp"], r["v_sum"]): r["v_sq"] for r in rows}
    assert got[("a", 3.0)] == pytest.approx(5.0)   # 1² + 2²
    assert got[("b", 3.0)] == pytest.approx(9.0)   # 3²
    # genuine NULL group (v=12) and marker total (v=18) both present,
    # both NULL scalar — the conservative fallback, never 74/162 swapped
    assert got[(None, 12.0)] is None
    assert got[(None, 18.0)] is None


def test_vba_function_name_aliases(engine):
    """VBA names without a same-named Spark builtin alias at translation
    time (vba/Vba): Sqr/Mid/Sgn/Atn/Asc/CDbl/CInt."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[a] AS 'Sqr(16)'
             MEMBER [Measures].[b] AS 'CInt(CDbl(3))'
             MEMBER [Measures].[c] AS 'Sgn(-7)'
             MEMBER [Measures].[d] AS 'CInt(2.6)'
             MEMBER [Measures].[e] AS 'CInt(2.5)'
             MEMBER [Measures].[f] AS 'CInt(0 - 2.6)'
        SELECT {[Measures].[a], [Measures].[b], [Measures].[c],
                [Measures].[d], [Measures].[e], [Measures].[f]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["a"] == 4.0 and row["b"] == 3
    # Sgn returns INTEGER (Vba.sgn), CInt ROUNDS half-to-even (Vba.cInt)
    assert row["c"] == -1 and isinstance(row["c"], int)
    assert row["d"] == 3 and row["e"] == 2 and row["f"] == -3


def test_vba_val_round_dateserial(engine):
    """Val / Round / DateSerial, pinned to the reference tests that use
    them: Round(measure) == the measure rounded (mondrian_test.rb:264-269),
    Val(ratio formula) passes numeric through (query_test.rb:343-358
    profit margin), Val parses a string's leading numeric prefix with
    embedded whitespace stripped and yields 0 for garbage (Vba.val),
    DateSerial(1970,1,1) builds a DATE usable inside CoalesceEmpty
    (mondrian_test.rb:520-531)."""
    import datetime as dt

    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[r] AS 'Round([Measures].[Avg Price])'
             MEMBER [Measures].[v] AS
               'Val(([Measures].[Sum Price] - [Measures].[Sum Qty])
                    / [Measures].[Sum Price])'
             MEMBER [Measures].[vp] AS 'Val(" 12 3.5abc")'
             MEMBER [Measures].[vg] AS 'Val("no digits")'
             MEMBER [Measures].[d] AS 'CoalesceEmpty(DateSerial(1970, 1, 1),
                                                     DateSerial(2000, 1, 1))'
        SELECT {[Measures].[Avg Price], [Measures].[Sum Price],
                [Measures].[Sum Qty], [Measures].[r], [Measures].[v],
                [Measures].[vp], [Measures].[vg], [Measures].[d]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["r"] == round(row["avg_price"])
    expected_v = (row["sum_price"] - row["sum_qty"]) / row["sum_price"]
    assert abs(row["v"] - expected_v) < 1e-9
    assert row["vp"] == 123.5  # whitespace stripped, prefix parsed
    assert row["vg"] == 0.0  # non-numeric → 0 (Vba.val)
    assert row["d"] == dt.date(1970, 1, 1)


def test_vba_val_edge_strings(engine):
    """Val string-parsing edges (Vba.val): exponent suffix, signed
    fraction, whitespace inside the number, bare dot, empty-ish text."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[a] AS 'Val("1e3")'
             MEMBER [Measures].[b] AS 'Val("+.5")'
             MEMBER [Measures].[c] AS 'Val("-2.5e-1x")'
             MEMBER [Measures].[d] AS 'Val(" 1 2 . 5 rest")'
             MEMBER [Measures].[e] AS 'Val(".")'
             MEMBER [Measures].[f] AS 'Val("  ")'
        SELECT {[Measures].[a], [Measures].[b], [Measures].[c],
                [Measures].[d], [Measures].[e], [Measures].[f]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["a"] == 1000.0
    assert row["b"] == 0.5
    assert row["c"] == -0.25
    assert row["d"] == 12.5  # embedded whitespace stripped before parse
    assert row["e"] == 0.0 and row["f"] == 0.0


def test_order_by_now_constant_expression(engine):
    """ORDER by Now() (mondrian_test.rb:108-113, MONDRIAN-1050): a
    constant DateTime order expression must execute and preserve the
    member set."""
    r = execute_mdx(
        engine,
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               ORDER([Customer].[Region].Members, Now(), ASC) ON ROWS
        FROM [Sales]
        """,
    )
    assert r.df.count() == 5


def test_vba_nested_same_name_calls(engine):
    """Nested same-name VBA calls rewrite ALL occurrences — Sgn(a + Sgn(b))
    and CInt(CInt(x)) must not leave an inner unresolved sgn()/cint()
    (the rewrite recurses into the replaced argument segment)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[a] AS 'Sgn(5 + Sgn(-9))'
             MEMBER [Measures].[b] AS 'CInt(CInt(2.5) + 0.6)'
             MEMBER [Measures].[c] AS 'Sgn(Sgn(Sgn(-3)))'
        SELECT {[Measures].[a], [Measures].[b], [Measures].[c]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    # Sgn(5 + (-1)) = 1; CInt(2 + 0.6) = CInt(2.6) = 3; Sgn chain = -1
    assert [row["a"], row["b"], row["c"]] == [1, 3, -1]


@pytest.mark.parametrize(
    "defs, formula, expected",
    [
        # a set statistic / Aggregate translates its expression argument
        # again: Atan2 must still be lowered (and swapped) exactly once
        ("", "Max({[Customer].[ASIA]}, Atan2(1, 2))", 1.1071487177940904),
        (
            "",
            "Aggregate({[Customer].[ASIA]}, "
            "Atan2(1, 2) + 0 * [Measures].[Sum Qty])",
            1.1071487177940904,
        ),
        # Generate's string form translates an inlined WITH formula again
        (
            "MEMBER [Measures].[a] AS 'Atan2(1, 2)'",
            "Generate({[Customer].[ASIA]}, CStr([Measures].[a]))",
            "1.1071487177940904",
        ),
        # a comma inside a [...] name does not split Mod's arguments
        ("MEMBER [Measures].[A, B] AS '0 - 3'", "Mod([Measures].[A, B], 2)", 1),
        # function names inside a [...] name are not calls
        ("MEMBER [Measures].[Int (x)] AS '2'", "[Measures].[Int (x)] + 1", 3),
        ("MEMBER [Measures].[Str (x)] AS '2'", "[Measures].[Str (x)] + 1", 3),
    ],
)
def test_vba_calls_lowered_once_never_inside_names(
    engine, defs, formula, expected
):
    """VBA/Excel calls are lowered exactly once, with their arguments
    split around [...] identifiers, and never looked for inside one."""
    r = execute_mdx(
        engine,
        f"WITH {defs} MEMBER [Measures].[v] AS '{formula}' "
        "SELECT {[Measures].[v]} ON COLUMNS FROM [Sales]",
    )
    assert r.df.collect()[0]["v"] == expected


def test_accessor_bogus_member_raises(engine):
    """Member-path accessors validate existence before folding
    ([Customer].[Bogus].Name must raise the reference's member-not-found
    error, not fold to 'Bogus') — mirrors the measure-branch validation."""
    for expr in (
        "'[Customer].[Bogus].Name'",
        "'[Customer].[Bogus].Dimension.Name'",
        "'[Customer].[ASIA].[NO_SUCH_NATION].UniqueName'",
    ):
        with pytest.raises(MdxError, match="not found in cube"):
            execute_mdx(
                engine,
                f"WITH MEMBER [Measures].[x] AS {expr} "
                "SELECT [Measures].[x] ON COLUMNS FROM [Sales]",
            )
    # existing members still fold
    r = execute_mdx(
        engine,
        "WITH MEMBER [Measures].[x] AS '[Customer].[ASIA].Name' "
        "SELECT [Measures].[x] ON COLUMNS FROM [Sales]",
    )
    assert r.df.collect()[0]["x"] == "ASIA"


def test_aggregate_crossjoin_set(engine, duck):
    """Aggregate({set} * {set}) spanning dimensions (mondrian_test.rb:
    205-212): home-dimension members define the synthetic member, the
    other set becomes an ANDed context constraint."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Customer].[AsiaAfrica B13] AS
          'Aggregate({[Part].[Brand#13]} * {[Customer].[ASIA], [Customer].[AFRICA]})'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               {[Customer].children, [Customer].[AsiaAfrica B13]} ON ROWS
        FROM [Sales]
        """,
    )
    vals = {x["region_name"]: x["sum_qty"] for x in r.df.collect()}
    expected = duck.execute(
        """
        SELECT sum(l_quantity) FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        JOIN part ON l_partkey = p_partkey
        WHERE r_name IN ('ASIA','AFRICA') AND p_brand = 'Brand#13'
        """
    ).fetchone()[0]
    assert vals["AsiaAfrica B13"] == pytest.approx(expected)
    assert len(vals) == 6  # 5 regions + the synthetic member


def test_aggregate_crossjoin_set_non_star_raises(engine):
    with pytest.raises(MdxError, match="crossjoin"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Customer].[X] AS
              'Aggregate({[Customer].[ASIA]} + {[Customer].[AFRICA]})'
            SELECT [Measures].[Sum Qty] ON COLUMNS,
                   {[Customer].[X]} ON ROWS FROM [Sales]
            """,
        )


def test_aggregate_set_overrides_slicer(engine, duck):
    """Aggregate-set context OVERRIDES the query slicer on every dimension
    the set mentions (review fix): a conflicting slicer member must not
    OR-merge into the synthetic member's cells."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Customer].[X] AS
          'Aggregate({[Part].[Brand#13]} * {[Customer].[ASIA]})'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               {[Customer].[X]} ON ROWS FROM [Sales]
        WHERE ([Part].[Brand#45])
        """,
    )
    got = r.df.collect()[0]["sum_qty"]
    expected = duck.execute(
        """
        SELECT sum(l_quantity) FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        JOIN part ON l_partkey = p_partkey
        WHERE r_name = 'ASIA' AND p_brand = 'Brand#13'
        """
    ).fetchone()[0]
    assert got == pytest.approx(expected)
    # (a slicer on the HOME dimension is not tested: the reference rejects
    # the same hierarchy on both an axis and the slicer, so that MDX is
    # ill-formed — the override code still guards the builder path)


def test_accessor_forward_reference_to_with_member(engine):
    """A formula may reference a dimension calc member defined LATER in
    the same WITH clause (review fix: the accessor existence probe must
    be parse-order independent)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[n] AS '[Customer].[H1].Name'
             MEMBER [Customer].[H1] AS 'Aggregate({[Customer].[ASIA]})'
        SELECT {[Measures].[Sum Qty], [Measures].[n]} ON COLUMNS,
               {[Customer].[H1]} ON ROWS FROM [Sales]
        """,
    )
    assert r.df.collect()[0]["n"] == "H1"


def test_aggregate_sets_juxtaposed_raise(engine):
    """Two sets with NO operator between them are rejected, not silently
    crossjoined (review fix)."""
    with pytest.raises(MdxError, match="crossjoin"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Customer].[X] AS
              'Aggregate({[Part].[Brand#13]} {[Customer].[ASIA]})'
            SELECT [Measures].[Sum Qty] ON COLUMNS,
                   {[Customer].[X]} ON ROWS FROM [Sales]
            """,
        )


def test_aggregate_calculated_aggregate_members(engine):
    """Aggregate sets may reference earlier query-scoped aggregate members
    (mondrian_test.rb:231-239): the union expands to the underlying real
    member sets."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Customer].[Asia calc] AS 'Aggregate({[Customer].[ASIA]})'
             MEMBER [Customer].[Africa calc] AS 'Aggregate({[Customer].[AFRICA]})'
             MEMBER [Customer].[Both] AS
               'Aggregate({[Customer].[Asia calc], [Customer].[Africa calc]})'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               {[Customer].children, [Customer].[Both]} ON ROWS FROM [Sales]
        """,
    )
    vals = {x["region_name"]: x["sum_qty"] for x in r.df.collect()}
    assert vals["Both"] == pytest.approx(vals["ASIA"] + vals["AFRICA"])


def test_isdirty_folds_false(engine):
    """IsDirty() (mondrian_test.rb:242-247): immutable parquet inputs are
    never dirty — folds to false."""
    r = execute_mdx(
        engine,
        "WITH MEMBER [Measures].[d] AS 'IIF(IsDirty(), 1, 0)' "
        "SELECT [Measures].[d] ON COLUMNS FROM [Sales]",
    )
    assert r.df.collect()[0]["d"] == 0


def test_aggregate_value_three_forms(engine, duck):
    """Aggregate() as a value in Measures formulas (mondrian_test.rb:
    197-228): implicit-measure set, set*{measure} crossjoin, and the
    (set, expr) expression form — all equal to their SQL meaning."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[AA] AS
               'Aggregate({[Customer].[ASIA], [Customer].[AFRICA]})'
             MEMBER [Measures].[AAQ] AS
               'Aggregate({[Customer].[ASIA], [Customer].[AFRICA]} * {[Measures].[Sum Qty]})'
             MEMBER [Measures].[AAQ2] AS
               'Aggregate({[Customer].[ASIA], [Customer].[AFRICA]}, [Measures].[Sum Qty] * 2)'
        SELECT {[Measures].[AA], [Measures].[AAQ], [Measures].[AAQ2]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    expected = duck.execute(
        """
        SELECT sum(l_quantity) FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name IN ('ASIA', 'AFRICA')
        """
    ).fetchone()[0]
    assert row["aa"] == pytest.approx(expected)       # implicit default measure
    assert row["aaq"] == pytest.approx(expected)      # explicit measure
    assert row["aaq2"] == pytest.approx(expected * 2)  # expression form


def test_aggregate_expression_keeps_row_context(engine, duck):
    """The expression form recomputes per grid row: non-overridden Time
    context is preserved (same shape as tuple scalars)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[AAQ2] AS
          'Aggregate({[Customer].[ASIA], [Customer].[AFRICA]}, [Measures].[Sum Qty] * 2)'
        SELECT {[Measures].[AAQ2]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    )
    got = {x["o_year"]: x["aaq2"] for x in r.df.collect()}
    for y, q in duck.execute(
        """
        SELECT year(o_orderdate), sum(l_quantity) FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name IN ('ASIA', 'AFRICA') GROUP BY 1
        """
    ).fetchall():
        assert got[y] == pytest.approx(q * 2)


def test_aggregate_expression_with_rollup_totals(engine, duck):
    """Aggregate(set, expr) under totals('rollup'): the super-aggregate row
    recomputes expr at ITS grain per set member (grain-aware one-pass
    lowering, plan._attach_stat_scalar).  The quadratic expr proves the
    total is NOT a re-sum of the detail scalar values."""
    q = (
        Query(engine)
        .with_member("QtySq")
        .as_("__setstat0", output="qty_sq")
        .columns("[Measures].[Sum Qty]", "[Measures].[QtySq]")
        .rows("[Time].[Year].Members")
        .totals("rollup")
    )
    q._stat_scalars.append(
        (
            "__setstat0",
            "sum",
            ("sum_qty * sum_qty",),
            ("[Customer].[ASIA]", "[Customer].[AFRICA]"),
            None, False, False, None,
        )
    )
    rows = q.execute().df.collect()
    detail = {r["o_year"]: r["qty_sq"] for r in rows if r["o_year"] is not None}
    total = [r for r in rows if r["o_year"] is None]
    base = """
        SELECT {grain} r_name, sum(l_quantity) q FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name IN ('ASIA', 'AFRICA') GROUP BY ALL
    """
    expected_detail = {
        y: v
        for y, v in duck.execute(
            "SELECT yr, sum(q*q) FROM ("
            + base.format(grain="year(o_orderdate) yr,")
            + ") GROUP BY yr"
        ).fetchall()
    }
    expected_total = duck.execute(
        "SELECT sum(q*q) FROM (" + base.format(grain="") + ")"
    ).fetchone()[0]
    # every ASIA/AFRICA year is a grid year; grid years with no
    # ASIA/AFRICA data (if any) carry a NULL scalar by left-join semantics
    assert set(expected_detail) <= set(detail)
    for y, v in detail.items():
        if y in expected_detail:
            assert v == pytest.approx(expected_detail[y])
        else:
            assert v is None
    assert len(total) == 1
    assert total[0]["qty_sq"] == pytest.approx(expected_total)
    # quadratic ⇒ the grand total must differ from the detail re-sum
    assert total[0]["qty_sq"] != pytest.approx(
        sum(v for v in detail.values() if v is not None)
    )


def test_aggregate_expression_with_cube_totals(engine, duck):
    """Aggregate(set, expr) under totals('cube') on two row dimensions:
    every grouping subset gets its own per-grain recomputation, including
    the non-prefix subset (year rolled up, flag kept)."""
    q = (
        Query(engine)
        .with_member("QtySq")
        .as_("__setstat0", output="qty_sq")
        .columns("[Measures].[QtySq]")
        .rows("[Time].[Year].Members")
        .rows("[ReturnFlag].children")
        .totals("cube")
    )
    q._stat_scalars.append(
        ("__setstat0", "sum", ("sum_qty * sum_qty",), ("[Customer].[ASIA]",),
         None, False, False, None)
    )
    rows = q.execute().df.collect()
    got = {
        (r["o_year"], r["return_flag"]): r["qty_sq"] for r in rows
    }
    expected = {
        (y, f): q * q
        for y, f, q in duck.execute(
            """
            SELECT year(o_orderdate) yr, l_returnflag fl, sum(l_quantity) q
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' GROUP BY CUBE (yr, fl)
            """
        ).fetchall()
    }
    # ASIA cube grains ⊆ grid cube grains; grid cells with no ASIA data
    # (if any) carry a NULL scalar by left-join semantics
    assert set(expected) <= set(got)
    for k, v in got.items():
        if k in expected:
            assert v == pytest.approx(expected[k]), k
        else:
            assert v is None, k


def test_matches_value_operator(engine):
    """X [NOT] MATCHES pattern as a value expression (mondrian_test.rb:
    545-579): regex match with NULL-as-false semantics and numeric
    coercion."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[m1] AS '''dummy'' MATCHES ''.*dum.*'''
             MEMBER [Measures].[m2] AS '(CASE WHEN 1=2 THEN ''dummy'' END) MATCHES ''.*dum.*'''
             MEMBER [Measures].[m3] AS '''dummy'' MATCHES (CASE WHEN 1=2 THEN ''.*dum.*'' END)'
             MEMBER [Measures].[n] AS '123'
             MEMBER [Measures].[m4] AS '[Measures].[n] MATCHES ''\\\\d+'''
             MEMBER [Measures].[m5] AS '''dummy'' NOT MATCHES ''.*xyz.*'''
             MEMBER [Measures].[m6] AS '(CASE WHEN 1=2 THEN ''dummy'' END) NOT MATCHES ''.*dum.*'''
        SELECT {[Measures].[m1], [Measures].[m2], [Measures].[m3],
                [Measures].[m4], [Measures].[m5], [Measures].[m6]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert [row["m1"], row["m2"], row["m3"]] == [True, False, False]
    assert [row["m4"], row["m5"], row["m6"]] == [True, True, True]


def test_coalesceempty_mixed_types(engine):
    """The mondrian_test.rb:532-543 mixed-type matrix, with REFERENCE
    types: CoalesceEmpty(123, 'dummy') = 123 as a NUMBER (a literal is
    provably non-empty, so the string branch is dead and the numeric type
    survives); CoalesceEmpty(CASE WHEN 1=2 THEN 1 END, 'dummy') =
    'dummy'.  Residual documented deviation: a NON-constant numeric
    branch mixed with a string branch unifies as strings (Spark columns
    are monotyped; the reference keeps the winning branch's type per
    cell) — pinned by c4."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[c1] AS 'COALESCEEMPTY(123, ''dummy'')'
             MEMBER [Measures].[c2] AS 'COALESCEEMPTY(CASE WHEN 1=2 THEN 1 END, ''dummy'')'
             MEMBER [Measures].[c3] AS 'COALESCEEMPTY(CAST(NULL AS DOUBLE), [Measures].[Sum Qty])'
             MEMBER [Measures].[c4] AS 'COALESCEEMPTY([Measures].[Sum Qty], ''dummy'')'
             MEMBER [Measures].[c5] AS 'COALESCEEMPTY(123, [Measures].[Sum Qty]) * 2'
        SELECT {[Measures].[c1], [Measures].[c2], [Measures].[c3],
                [Measures].[c4], [Measures].[c5]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["c1"] == 123 and not isinstance(row["c1"], str)
    assert row["c2"] == "dummy"
    assert row["c3"] > 0  # same-typed args stay numeric
    # residual deviation: live mixed branches unify as STRING
    assert row["c4"] == str(row["c3"])
    # dead-branch truncation composes with surrounding arithmetic
    assert row["c5"] == 246


def test_forward_calc_member_reference(engine):
    """A calc member may reference another calc member defined LATER in
    the WITH clause (mondrian_test.rb:580-590 FormatFinder parent-before-
    child): the calc chain orders by the dependency DAG, not parse order."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[parent calculation] AS '[Measures].[child calculation]'
             MEMBER [Measures].[child calculation] AS '[Measures].[Sum Qty] * [Measures].[Count Order]'
        SELECT {[Measures].[parent calculation], [Measures].[child calculation]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["parent_calculation"] == row["child_calculation"] != 0


def test_aggregate_expr_with_string_literal_and_calc_ref(engine):
    """Review fixes: a string literal inside Aggregate(set, expr) survives
    the nested translation (mask restore before recursion), and expr may
    reference a calculated member."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Doubled] AS '[Measures].[Sum Qty] * 2'
             MEMBER [Measures].[X] AS
               'Aggregate({[Customer].[ASIA]}, [Measures].[Doubled])'
             MEMBER [Measures].[Y] AS
               'Aggregate({[Customer].[ASIA]}, IIF(''a'' = ''a'', [Measures].[Sum Qty], 0))'
        SELECT {[Measures].[X], [Measures].[Y]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["x"] == pytest.approx(row["y"] * 2)
    assert row["y"] > 0


def test_matches_is_full_match(engine):
    """MATCHES is a java-regex FULL match (review fix): a substring
    pattern without wildcards must NOT match."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[m1] AS '''dummy'' MATCHES ''dum'''
             MEMBER [Measures].[m2] AS '''dummy'' MATCHES ''dummy'''
             MEMBER [Measures].[m3] AS '''dummy'' MATCHES ''.*mm.*'''
        SELECT {[Measures].[m1], [Measures].[m2], [Measures].[m3]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert [row["m1"], row["m2"], row["m3"]] == [False, True, True]


def test_nested_coalesceempty(engine):
    """Nested same-name CoalesceEmpty rewrites fully (review fix)."""
    r = execute_mdx(
        engine,
        "WITH MEMBER [Measures].[c] AS "
        "'COALESCEEMPTY(COALESCEEMPTY(CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)), 7.5)' "
        "SELECT [Measures].[c] ON COLUMNS FROM [Sales]",
    )
    assert r.df.collect()[0]["c"] == 7.5


def test_self_referential_calc_member_raises(engine):
    with pytest.raises(MdxError, match="Infinite loop"):
        execute_mdx(
            engine,
            "WITH MEMBER [Measures].[X] AS '[Measures].[X] + 1' "
            "SELECT [Measures].[X] ON COLUMNS FROM [Sales]",
        )


def test_mutually_cyclic_calc_members_raise(engine):
    from mondrian_olap_spark.query import QueryError

    with pytest.raises((QueryError, MdxError), match="(?i)infinite|cyclic"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[X] AS '[Measures].[Y] + 1'
                 MEMBER [Measures].[Y] AS '[Measures].[X] + 1'
            SELECT {[Measures].[X], [Measures].[Y]} ON COLUMNS FROM [Sales]
            """,
        )


def test_accessor_not_exempted_by_other_dimension_member(engine):
    """A later WITH member on ANOTHER dimension must not exempt a typo'd
    member path from the not-found error (review fix)."""
    with pytest.raises(MdxError, match="not found in cube"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[x] AS '[Customer].[Bogus].Name'
                 MEMBER [Measures].[Bogus] AS '1'
            SELECT {[Measures].[x]} ON COLUMNS FROM [Sales]
            """,
        )


def test_aggregate_expr_uses_with_override(engine):
    """Aggregate(set, expr) referencing a calc member uses the QUERY's
    WITH override, not a same-named cube-level formula (review fix —
    shadowing must be consistent with the main grid)."""
    # the tpch cube declares calc members; shadow one with a new formula
    cube_calc = engine.cube.calculated_members
    if not cube_calc:
        pytest.skip("cube declares no calculated members")
    name = cube_calc[0].name
    r = execute_mdx(
        engine,
        f"""
        WITH MEMBER [Measures].[{name}] AS '[Measures].[Sum Qty] * 10'
             MEMBER [Measures].[X] AS
               'Aggregate({{[Customer].[ASIA]}}, [Measures].[{name}])'
             MEMBER [Measures].[Y] AS
               'Aggregate({{[Customer].[ASIA]}}, [Measures].[Sum Qty] * 10)'
        SELECT {{[Measures].[X], [Measures].[Y]}} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["x"] == pytest.approx(row["y"])


def test_aggregate_expr_nested_scalar_refused(engine):
    """expr containing a tuple scalar (directly or via a referenced member)
    raises the documented QueryError, never an unresolved-column crash."""
    from mondrian_olap_spark.query import QueryError

    with pytest.raises(QueryError, match="scalar"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[X] AS
              'Aggregate({[Customer].[ASIA]}, ([Measures].[Sum Qty], [Time].[1995]))'
            SELECT [Measures].[X] ON COLUMNS FROM [Sales]
            """,
        )
    with pytest.raises(QueryError, match="scalar"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[T] AS '([Measures].[Sum Qty], [Time].[1995])'
                 MEMBER [Measures].[U] AS '[Measures].[T] * 2'
                 MEMBER [Measures].[X] AS 'Aggregate({[Customer].[ASIA]}, [Measures].[U])'
            SELECT [Measures].[X] ON COLUMNS FROM [Sales]
            """,
        )


def test_matches_function_call_pattern(engine):
    """The MATCHES right operand may be a function call (review fix:
    operand scan absorbs the argument list)."""
    r = execute_mdx(
        engine,
        "WITH MEMBER [Measures].[m] AS '''dummy'' MATCHES Trim('' dummy '')' "
        "SELECT [Measures].[m] ON COLUMNS FROM [Sales]",
    )
    assert r.df.collect()[0]["m"] is True


def test_string_literal_alias_no_phantom_cycle(engine):
    """A string literal containing another member's alias must not create
    a phantom dependency edge (review fix: closure scans strip literals)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[M1] AS 'CASE WHEN ''m2'' = ''m2'' THEN 1 ELSE 0 END'
             MEMBER [Measures].[M2] AS '[Measures].[M1] + 1'
        SELECT {[Measures].[M1], [Measures].[M2]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert (row["m1"], row["m2"]) == (1, 2)


def test_aggregate_expr_deduplicates_specs(engine):
    """Identical Aggregate(set, expr) occurrences share one sub-aggregate
    spec (review fix — mirrors the tuple-scalar dedupe)."""
    from mondrian_olap_spark.query import Query
    from mondrian_olap_spark.mdx import MdxParser

    p = MdxParser(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS FROM [Sales]",
    )
    e1 = p.translate_expression_text(
        "Aggregate({[Customer].[ASIA]}, [Measures].[Sum Qty] * 2)"
    )
    e2 = p.translate_expression_text(
        "Aggregate({[Customer].[ASIA]}, [Measures].[Sum Qty] * 2)"
    )
    assert e1 == e2 and len(p.q._stat_scalars) == 1


def test_aggregate_member_forward_reference(engine):
    """WITH entries resolve lazily in Mondrian: an Aggregate set may name a
    calc member defined LATER in the clause.  Same query as
    test_aggregate_calculated_aggregate_members with [Both] defined FIRST."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Customer].[Both] AS
               'Aggregate({[Customer].[Asia calc], [Customer].[Africa calc]})'
             MEMBER [Customer].[Asia calc] AS 'Aggregate({[Customer].[ASIA]})'
             MEMBER [Customer].[Africa calc] AS 'Aggregate({[Customer].[AFRICA]})'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               {[Customer].children, [Customer].[Both]} ON ROWS FROM [Sales]
        """,
    )
    vals = {x["region_name"]: x["sum_qty"] for x in r.df.collect()}
    assert vals["Both"] == pytest.approx(vals["ASIA"] + vals["AFRICA"])


def test_aggregate_member_reference_cycle_raises(engine):
    from mondrian_olap_spark.mdx import MdxError

    with pytest.raises(MdxError, match="Infinite loop"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Customer].[A] AS 'Aggregate({[Customer].[B]})'
                 MEMBER [Customer].[B] AS 'Aggregate({[Customer].[A]})'
            SELECT [Measures].[Sum Qty] ON COLUMNS,
                   {[Customer].[A]} ON ROWS FROM [Sales]
            """,
        )


def test_aggregate_member_self_reference_raises(engine):
    from mondrian_olap_spark.mdx import MdxError

    with pytest.raises(MdxError, match="Infinite loop"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Customer].[Loop] AS 'Aggregate({[Customer].[Loop]})'
            SELECT [Measures].[Sum Qty] ON COLUMNS,
                   {[Customer].[Loop]} ON ROWS FROM [Sales]
            """,
        )


def test_vba_val_radix_literals(engine):
    """Val &H/&O radix literals (Vba.val parses hexadecimal and octal
    prefixes): trailing junk stops the parse; out-of-alphabet digits make
    the radix branch fall through to the 0 default."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[h] AS 'Val("&H1F")'
             MEMBER [Measures].[h2] AS 'Val(" &h10zz")'
             MEMBER [Measures].[o] AS 'Val("&O17")'
             MEMBER [Measures].[o2] AS 'Val("&o9")'
             MEMBER [Measures].[n] AS 'Val("&Hxyz")'
        SELECT {[Measures].[h], [Measures].[h2], [Measures].[o],
                [Measures].[o2], [Measures].[n]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["h"] == 31.0
    assert row["h2"] == 16.0  # whitespace stripped, junk suffix ignored
    assert row["o"] == 15.0
    assert row["o2"] == 0.0   # 9 is not an octal digit
    assert row["n"] == 0.0


def test_member_properties_value_expression(spark, engine):
    """mondrian_test.rb:157-190: <member>.Properties('X') as a VALUE —
    a pinned member's property is one scalar, inlined as a TYPED literal:
    numerics compose with arithmetic, a DATE property keeps its type so
    format strings like dd.mm.yyyy apply, and unknown properties raise."""
    import datetime
    import dataclasses

    from mondrian_olap_spark.metadata import CubeMeta
    from mondrian_olap_spark.star import engine_from_parquet
    from mondrian_olap_spark.tpch import SCHEMA

    from .conftest import SF_DIR

    part = CubeMeta(engine).dimension("Part").hierarchy.levels[1].members[0]
    r = execute_mdx(
        engine,
        f"""
        WITH MEMBER [Measures].[sz] AS '{part.full_name}.Properties(''part_size'')'
             MEMBER [Measures].[szx] AS
               '{part.full_name}.Properties(''part_size'') * 2'
        SELECT {{[Measures].[sz], [Measures].[szx]}} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["szx"] == row["sz"] * 2 and row["sz"] > 0
    with pytest.raises(MdxError, match="declares no property"):
        execute_mdx(
            engine,
            f"""
            WITH MEMBER [Measures].[bad] AS '{part.full_name}.Properties(''nope'')'
            SELECT {{[Measures].[bad]}} ON COLUMNS FROM [Sales]
            """,
        )
    # date-typed property + date format string (mondrian_test.rb:157-167):
    # degenerate Time month gains a month_start DATE property
    sales = SCHEMA.cube("Sales")
    time_dim = sales.dimension("Time")
    lv_m = dataclasses.replace(
        time_dim.levels[2],
        properties=(
            ("month_start", "make_date(year(o_orderdate), month(o_orderdate), 1)"),
        ),
    )
    time2 = dataclasses.replace(
        time_dim, levels=time_dim.levels[:2] + (lv_m,)
    )
    sales2 = dataclasses.replace(
        sales,
        dimensions=tuple(
            time2 if d.name == "Time" else d for d in sales.dimensions
        ),
    )
    schema2 = dataclasses.replace(
        SCHEMA, cubes=tuple(sales2 if c.name == "Sales" else c for c in SCHEMA.cubes)
    )
    eng2 = engine_from_parquet(spark, schema2, "Sales", SF_DIR)
    r2 = execute_mdx(
        eng2,
        """
        WITH MEMBER [Measures].[date] AS
          '[Time].[1995].[Q1].[2].Properties(''month_start'')',
          FORMAT_STRING = 'dd.mm.yyyy'
        SELECT {[Measures].[date]} ON COLUMNS FROM [Sales]
        """,
    )
    v = r2.values
    while isinstance(v, list):
        v = v[0]
    assert isinstance(v, datetime.date)
    fv = r2.formatted_values
    while isinstance(fv, list):
        fv = fv[0]
    assert fv == "01.02.1995"


def test_instr_of_null_returns_empty(engine):
    """mondrian_test.rb:782-789: Instr over a function returning NULL
    yields an empty cell, not an error or 0."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Instr Result] AS 'Instr(Trim(NULL), "Done")'
        SELECT {[Measures].[Instr Result]} ON COLUMNS FROM [Sales]
        """,
    )
    assert r.values == [None]


def test_measures_default_member_in_nonempty_crossjoin(engine):
    """mondrian_test.rb:313-321: [Measures].DefaultMember resolves to the
    cube's default measure, so NonEmptyCrossJoin with it keeps only
    members carrying data; a dimension's DefaultMember raises the
    documented All-member gap."""
    r = execute_mdx(
        engine,
        """
        SELECT Generate(
          NonEmptyCrossJoin({[Measures].DefaultMember},
                            [Customer].[Nation].Members),
          [Customer].CurrentMember) ON COLUMNS
        FROM [Sales] WHERE [Time].[1995].[Q1]
        """,
    )
    assert r.df.count() > 0
    assert "sum_qty" in r.df.columns  # the default measure


def test_vba_excel_breadth(engine):
    """Round-7 VBA/Excel breadth pass (jar!mondrian/olap/fun/vba/Vba +
    Excel method lists): Hex/Oct round first; Int FLOORS while Fix
    truncates toward zero; Weekday matches the vbSunday numbering;
    Month/WeekdayName return English names; DatePart/DateAdd/DateDiff
    take the VBA interval grammar; StrReverse/StrComp/String, Excel
    floored MOD, ATAN2 in EXCEL argument order (x, y), SqrtPi, SLN/SYD
    depreciation, FormatPercent/FormatCurrency, IsDate."""
    import math

    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Hex V] AS 'Hex(255.4)'
             MEMBER [Measures].[Oct V] AS 'Oct(64)'
             MEMBER [Measures].[Int V] AS 'Int(0 - 8.4)'
             MEMBER [Measures].[Fix V] AS 'Fix(0 - 8.4)'
             MEMBER [Measures].[Wk D] AS 'Weekday(DateSerial(1995, 7, 14))'
             MEMBER [Measures].[Wk DN] AS 'WeekdayName(6)'
             MEMBER [Measures].[Mo N] AS 'MonthName(7)'
             MEMBER [Measures].[D P] AS 'DatePart("q", DateSerial(1995, 7, 14))'
             MEMBER [Measures].[D A] AS
               'DatePart("m", DateAdd("m", 3, DateSerial(1995, 11, 14)))'
             MEMBER [Measures].[D D] AS
               'DateDiff("d", DateSerial(1995, 7, 1), DateSerial(1995, 7, 14))'
             MEMBER [Measures].[S R] AS 'StrReverse("abc")'
             MEMBER [Measures].[S C] AS 'StrComp("a", "b")'
             MEMBER [Measures].[S T] AS 'String(3, "xy")'
             MEMBER [Measures].[M D] AS 'Mod(0 - 3, 2)'
             MEMBER [Measures].[M D2] AS 'Mod(3, 0 - 2)'
             MEMBER [Measures].[AT 2] AS 'round(Atan2(0, 1), 6)'
             MEMBER [Measures].[SLN V] AS 'SLN(1000, 100, 9)'
             MEMBER [Measures].[SYD V] AS 'SYD(1000, 100, 4, 1)'
             MEMBER [Measures].[SPI V] AS 'round(SqrtPi(1), 6)'
             MEMBER [Measures].[F P] AS 'FormatPercent(0.125)'
             MEMBER [Measures].[F C] AS 'FormatCurrency(1234.5, 2)'
             MEMBER [Measures].[ISD V] AS 'IIF(IsDate("1995-07-14"), 1, 0)'
             MEMBER [Measures].[ISD N] AS 'IIF(IsDate("nope"), 1, 0)'
             MEMBER [Measures].[PWR V] AS 'Power(2, 10)'
             MEMBER [Measures].[CB V] AS 'CByte(7.6)'
        SELECT {[Measures].[Hex V], [Measures].[Oct V], [Measures].[Int V],
                [Measures].[Fix V], [Measures].[Wk D], [Measures].[Wk DN],
                [Measures].[Mo N], [Measures].[D P], [Measures].[D A],
                [Measures].[D D], [Measures].[S R], [Measures].[S C],
                [Measures].[S T], [Measures].[M D], [Measures].[M D2],
                [Measures].[AT 2], [Measures].[SLN V], [Measures].[SYD V],
                [Measures].[SPI V], [Measures].[F P], [Measures].[F C],
                [Measures].[ISD V], [Measures].[ISD N], [Measures].[PWR V],
                [Measures].[CB V]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0].asDict()
    assert row["hex_v"] == "FF"          # rounds, then uppercase hex
    assert row["oct_v"] == "100"
    assert row["int_v"] == -9            # Int floors
    assert row["fix_v"] == -8            # Fix truncates toward zero
    assert row["wk_d"] == 6              # 1995-07-14 is a Friday, 1=Sunday
    assert row["wk_dn"] == "Friday"
    assert row["mo_n"] == "July"
    assert row["d_p"] == 3               # Q3
    assert row["d_a"] == 2               # Nov + 3 months = Feb (wraps year)
    assert row["d_d"] == 13
    assert row["s_r"] == "cba"
    assert row["s_c"] == -1
    assert row["s_t"] == "xxx"           # first char of "xy", 3 times
    assert row["m_d"] == 1               # Excel MOD: divisor's sign
    assert row["m_d2"] == -1
    assert row["at_2"] == round(math.pi / 2, 6)  # Excel ATAN2(x=0, y=1)
    assert row["sln_v"] == 100.0
    assert row["syd_v"] == 360.0
    assert row["spi_v"] == round(math.sqrt(math.pi), 6)
    assert row["f_p"] == "12.50%"
    assert row["f_c"] == "$1,234.50"
    assert row["isd_v"] == 1 and row["isd_n"] == 0
    assert row["pwr_v"] == 1024.0
    assert row["cb_v"] == 8


def test_vba_cbyte_unsigned_and_weekday_firstdayofweek(engine):
    """Round-8 advisories: CByte is UNSIGNED 0..255 (a tinyint cast
    wrapped CByte(200) to -56); Weekday's optional firstdayofweek
    rotates the numbering so firstdayofweek itself maps to 1
    (Vba.weekday), with the vbUseSystemDayOfWeek sentinel (0) resolving
    to the vbSunday default."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[CB Hi] AS 'CByte(200)'
             MEMBER [Measures].[Wk Mon] AS
               'Weekday(DateSerial(1995, 7, 14), 2)'
             MEMBER [Measures].[Wk Sys] AS
               'Weekday(DateSerial(1995, 7, 14), 0)'
             MEMBER [Measures].[Wk Fri] AS
               'Weekday(DateSerial(1995, 7, 14), 6)'
        SELECT {[Measures].[CB Hi], [Measures].[Wk Mon],
                [Measures].[Wk Sys], [Measures].[Wk Fri]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["cb_hi"] == 200            # not -56
    # 1995-07-14 is a Friday: vbMonday start → Mon=1..Fri=5
    assert row["wk_mon"] == 5
    assert row["wk_sys"] == 6             # sentinel 0 = vbSunday default
    assert row["wk_fri"] == 1             # week starting Friday


def test_vba_annuity_functions(engine):
    """Pmt/FV/PV/NPer (Vba.pmt/fV/pV/nPer): standard time-value-of-money
    closed forms, VBA sign convention (outgoing negative), rate = 0
    linear fallback, optional fv/type args defaulted."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Pmt V] AS
               'round(Pmt(0.005, 120, 10000), 6)'
             MEMBER [Measures].[Pmt Z] AS 'Pmt(0, 10, 1000)'
             MEMBER [Measures].[Fv V] AS
               'round(FV(0.005, 120, 0 - 100), 6)'
             MEMBER [Measures].[Pv V] AS
               'round(PV(0.005, 120, 0 - 100), 6)'
             MEMBER [Measures].[Nper V] AS
               'round(NPer(0.005, 0 - 100, 10000), 6)'
             MEMBER [Measures].[Nper Z] AS 'NPer(0, 0 - 100, 1000)'
        SELECT {[Measures].[Pmt V], [Measures].[Pmt Z], [Measures].[Fv V],
                [Measures].[Pv V], [Measures].[Nper V], [Measures].[Nper Z]}
               ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    # closed-form references (same formulas as numpy-financial's
    # pmt/fv/pv/nper at type=0).  Rates chosen decimal-exact: Spark
    # parses bare numeric literals as DECIMAL, so an in-formula division
    # like 0.08/12 would run at decimal scale, not double.
    rate, nper, pv = 0.005, 120, 10000.0
    t = (1 + rate) ** nper
    assert row["pmt_v"] == round(-(pv * t) * rate / (t - 1), 6)
    assert row["pmt_z"] == -100.0          # rate=0 → -(pv+fv)/nper
    rate2, n2, pmt2 = 0.005, 120, -100.0
    t2 = (1 + rate2) ** n2
    assert row["fv_v"] == round(-(pmt2 * (t2 - 1) / rate2), 6)
    assert row["pv_v"] == round(-(pmt2 * (t2 - 1) / rate2) / t2, 6)
    import math

    expect_nper = math.log((-100.0) / (-100.0 + 10000 * 0.005)) / math.log(1.005)
    assert row["nper_v"] == round(expect_nper, 6)
    assert row["nper_z"] == 10.0           # rate=0 → -(pv+fv)/pmt


def test_vba_format_datetime(engine):
    """FormatDateTime named formats (Vba.formatDateTime): 1 long date,
    2 short date, 3 long time, 4 short time; non-literal format errors."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[F1] AS 'FormatDateTime(DateSerial(1995, 7, 14), 1)'
             MEMBER [Measures].[F2] AS 'FormatDateTime(DateSerial(1995, 7, 14), 2)'
             MEMBER [Measures].[F4] AS 'FormatDateTime(DateSerial(1995, 7, 14), 4)'
        SELECT {[Measures].[F1], [Measures].[F2], [Measures].[F4]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["f1"] == "Friday, July 14, 1995"
    assert row["f2"] == "7/14/1995"
    assert row["f4"] == "00:00"
    # general date (format 0, the default): VBA drops the time portion
    # when it is midnight — the common DateSerial case (round-8 advisory)
    r0 = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[G Mid] AS
               'FormatDateTime(DateSerial(1995, 7, 14), 0)'
             MEMBER [Measures].[G Dflt] AS
               'FormatDateTime(DateSerial(1995, 7, 14))'
             MEMBER [Measures].[G Time] AS
               'FormatDateTime(CDate("1995-07-14 13:05:07"), 0)'
        SELECT {[Measures].[G Mid], [Measures].[G Dflt],
                [Measures].[G Time]} ON COLUMNS FROM [Sales]
        """,
    )
    row0 = r0.df.collect()[0]
    assert row0["g_mid"] == "7/14/1995"
    assert row0["g_dflt"] == "7/14/1995"
    assert row0["g_time"] == "7/14/1995 1:05:07 PM"
    with pytest.raises(MdxError, match="named format"):
        execute_mdx(
            engine,
            "WITH MEMBER [Measures].[F] AS "
            "'FormatDateTime(DateSerial(1995, 7, 14), 9)' "
            "SELECT [Measures].[F] ON COLUMNS FROM [Sales]",
        )


def test_vba_ipmt_ppmt_ddb(engine):
    """IPmt/PPmt/DDB (Vba.iPmt/pPmt/dDB): IPmt is the balance after
    per-1 payments times the rate; PPmt complements it to the full
    payment; DDB is single-period declining-balance floored at salvage."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Ip1] AS 'round(IPmt(0.005, 1, 120, 10000), 6)'
             MEMBER [Measures].[Ip2] AS 'round(IPmt(0.005, 2, 120, 10000), 6)'
             MEMBER [Measures].[Pp1] AS 'round(PPmt(0.005, 1, 120, 10000), 6)'
             MEMBER [Measures].[Pmt Full] AS 'round(Pmt(0.005, 120, 10000), 6)'
             MEMBER [Measures].[Ddb1] AS 'round(DDB(2400, 300, 10, 1), 6)'
             MEMBER [Measures].[Ddb10] AS 'round(DDB(2400, 300, 10, 10), 6)'
        SELECT {[Measures].[Ip1], [Measures].[Ip2], [Measures].[Pp1],
                [Measures].[Pmt Full], [Measures].[Ddb1], [Measures].[Ddb10]}
               ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    # period 1 interest = -pv * rate (balance is the full principal)
    assert row["ip1"] == round(-10000 * 0.005, 6) == -50.0
    # PPmt + IPmt = Pmt exactly
    assert round(row["pp1"] + row["ip1"], 6) == row["pmt_full"]
    # period-2 interest is smaller in magnitude (principal amortizes)
    assert abs(row["ip2"]) < abs(row["ip1"])
    # DDB: first period is cost * factor/life
    assert row["ddb1"] == round(2400 * 0.2, 6) == 480.0
    # late-period DDB floors at the salvage boundary, never below
    book10 = 2400 * (1 - 0.2) ** 9
    assert row["ddb10"] == round(max(0.0, min(book10 * 0.2, book10 - 300)), 6)


def test_vba_rate_newton_fold(engine):
    """Rate (Vba.rate) has no closed form: it lowers to 40 Newton steps
    expressed as ONE Spark `aggregate` higher-order-function fold over a
    constant sequence — a scalar expression inside codegen, no UDF, no
    driver loop.  Round-trips its own Pmt and matches an independent
    bisection."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[R1] AS
               'round(Rate(120, Pmt(0.005, 120, 10000), 10000), 9)'
             MEMBER [Measures].[R2] AS 'round(Rate(36, 0 - 300, 9000), 9)'
        SELECT {[Measures].[R1], [Measures].[R2]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["r1"] == 0.005  # recovers the rate its own Pmt was built at

    def f(rate):
        return 9000 * (1 + rate) ** 36 - 300 * ((1 + rate) ** 36 - 1) / rate

    lo, hi = 1e-9, 1.0
    for _ in range(200):
        mid = (lo + hi) / 2
        if f(lo) * f(mid) <= 0:
            hi = mid
        else:
            lo = mid
    assert row["r2"] == round((lo + hi) / 2, 9)


def test_excel_trig_log_passthrough(engine):
    """The Excel.class trig/log family passes through to same-named Spark
    builtins (acos/acosh/asin/asinh/atanh/cosh/sinh/tanh/degrees/radians/
    log10/pi) — pinned so a future rewrite pass cannot break them."""
    import math

    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[T1] AS 'round(Acos(0.5), 6)'
             MEMBER [Measures].[T2] AS 'round(Acosh(2), 6)'
             MEMBER [Measures].[T3] AS 'round(Asin(0.5), 6)'
             MEMBER [Measures].[T4] AS 'round(Asinh(1), 6)'
             MEMBER [Measures].[T5] AS 'round(Atanh(0.5), 6)'
             MEMBER [Measures].[T6] AS 'round(Cosh(1), 6)'
             MEMBER [Measures].[T7] AS 'round(Sinh(1), 6)'
             MEMBER [Measures].[T8] AS 'round(Tanh(1), 6)'
             MEMBER [Measures].[T9] AS 'round(Degrees(Pi()), 6)'
             MEMBER [Measures].[T10] AS 'round(Radians(180), 6)'
             MEMBER [Measures].[T11] AS 'round(Log10(1000), 6)'
        SELECT {[Measures].[T1], [Measures].[T2], [Measures].[T3],
                [Measures].[T4], [Measures].[T5], [Measures].[T6],
                [Measures].[T7], [Measures].[T8], [Measures].[T9],
                [Measures].[T10], [Measures].[T11]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["t1"] == round(math.acos(0.5), 6)
    assert row["t2"] == round(math.acosh(2), 6)
    assert row["t3"] == round(math.asin(0.5), 6)
    assert row["t4"] == round(math.asinh(1), 6)
    assert row["t5"] == round(math.atanh(0.5), 6)
    assert row["t6"] == round(math.cosh(1), 6)
    assert row["t7"] == round(math.sinh(1), 6)
    assert row["t8"] == round(math.tanh(1), 6)
    assert row["t9"] == 180.0
    assert row["t10"] == round(math.pi, 6)
    assert row["t11"] == 3.0


def test_vba_breadth2_edges(engine):
    """Round-8 VBA batch edges: Choose is 1-based and NULL out of range;
    Switch returns NULL when no condition matches; 3-arg InStr uses the
    VBA (start, haystack, needle) order; InStrRev finds the LAST
    occurrence and 0 when absent; StrConv 1/2/3 = upper/lower/proper;
    Fact(0) = 1; Space/Len round-trip."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Ch In] AS 'Choose(2, "a", "b", "c")'
             MEMBER [Measures].[Ch Out] AS
               'CoalesceEmpty(Choose(9, "a", "b"), "none")'
             MEMBER [Measures].[Sw None] AS
               'CoalesceEmpty(Switch(1 > 2, "x", 3 > 4, "y"), "none")'
             MEMBER [Measures].[In3] AS 'InStr(4, "MISSISSIPPI", "SS")'
             MEMBER [Measures].[Irev] AS 'InStrRev("MISSISSIPPI", "SS")'
             MEMBER [Measures].[Irev0] AS 'InStrRev("AMERICA", "Z")'
             MEMBER [Measures].[Sc U] AS 'StrConv("mid east", 1)'
             MEMBER [Measures].[Sc P] AS 'StrConv("mid east", 3)'
             MEMBER [Measures].[F0] AS 'Fact(0)'
             MEMBER [Measures].[Sp] AS 'Len(Space(4))'
        SELECT {[Measures].[Ch In], [Measures].[Ch Out],
                [Measures].[Sw None], [Measures].[In3], [Measures].[Irev],
                [Measures].[Irev0], [Measures].[Sc U], [Measures].[Sc P],
                [Measures].[F0], [Measures].[Sp]} ON COLUMNS
        FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["ch_in"] == "b"
    assert row["ch_out"] == "none"     # out-of-range Choose is NULL
    assert row["sw_none"] == "none"    # no-match Switch is NULL
    assert row["in3"] == 6             # next SS at 6 when starting at 4
    assert row["irev"] == 6            # LAST SS occurrence
    assert row["irev0"] == 0
    assert row["sc_u"] == "MID EAST"
    assert row["sc_p"] == "Mid East"
    assert row["f0"] == 1
    assert row["sp"] == 4
    with pytest.raises(MdxError, match="StrConv"):
        execute_mdx(
            engine,
            "WITH MEMBER [Measures].[X] AS 'StrConv(\"a\", 7)' "
            "SELECT [Measures].[X] ON COLUMNS FROM [Sales]",
        )


def test_vba_breadth3_coercions(engine):
    """Round-8 Vba.class inventory continuation: IsNumeric/IsNull tests,
    CStr/CSng/CCur coercions, Str's leading sign slot, TimeSerial
    minute carry-over and TimeValue parsing (both on the VBA zero
    date), with Hour/Minute/Second reading them back."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Isn Y] AS 'IIF(IsNumeric("12.5"), 1, 0)'
             MEMBER [Measures].[Isn N] AS 'IIF(IsNumeric("12x"), 1, 0)'
             MEMBER [Measures].[Inl N] AS 'IIF(IsNull("x"), 1, 0)'
             MEMBER [Measures].[Cstr V] AS 'CStr(42)'
             MEMBER [Measures].[Csng V] AS 'CSng(1.5)'
             MEMBER [Measures].[Ccur V] AS 'CStr(CCur(1.23456))'
             MEMBER [Measures].[Str P] AS 'Str(3.5)'
             MEMBER [Measures].[Str N] AS 'Str(0 - 3.5)'
             MEMBER [Measures].[Ts H] AS 'Hour(TimeSerial(1, 90, 0))'
             MEMBER [Measures].[Ts M] AS 'Minute(TimeSerial(1, 90, 0))'
             MEMBER [Measures].[Tv S] AS 'Second(TimeValue("13:05:07"))'
        SELECT {[Measures].[Isn Y], [Measures].[Isn N], [Measures].[Inl N],
                [Measures].[Cstr V], [Measures].[Csng V],
                [Measures].[Ccur V], [Measures].[Str P], [Measures].[Str N],
                [Measures].[Ts H], [Measures].[Ts M], [Measures].[Tv S]}
               ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["isn_y"] == 1 and row["isn_n"] == 0
    assert row["inl_n"] == 0
    assert row["cstr_v"] == "42"
    assert row["csng_v"] == 1.5
    assert row["ccur_v"] == "1.2346"   # Currency = DECIMAL(19,4)
    assert row["str_p"] == " 3.5"      # sign slot
    assert row["str_n"] == "-3.5"
    assert row["ts_h"] == 2 and row["ts_m"] == 30  # 1h + 90min carries
    assert row["tv_s"] == 7


def test_vba_instr_compare_and_instrrev_start(engine):
    """Review follow-up: the 4-arg InStr compare argument is accepted
    and ignored (binary compare); InStrRev honors the start bound (the
    match must end at or before it; -1 = whole string)."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[I4] AS
               'InStr(1, "MISSISSIPPI", "SS", 1)'
             MEMBER [Measures].[IrS] AS
               'InStrRev("MISSISSIPPI", "SS", 5)'
             MEMBER [Measures].[IrA] AS
               'InStrRev("MISSISSIPPI", "SS", 0 - 1)'
             MEMBER [Measures].[IrC] AS
               'InStrRev("MISSISSIPPI", "SS", 0 - 1, 1)'
        SELECT {[Measures].[I4], [Measures].[IrS], [Measures].[IrA],
                [Measures].[IrC]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["i4"] == 3
    assert row["ir_s"] == 3    # within the first 5 chars only SS@3 fits
    assert row["ir_a"] == 6    # whole string: last occurrence
    assert row["ir_c"] == 6    # compare arg ignored


def test_vba_partition(engine):
    """Partition(number, start, stop, interval) (Vba.partition): MS-doc
    examples — width is len(str(stop)) + 1 on BOTH sides of the colon;
    below-start and above-stop ranges blank one side; the last in-range
    bucket clips at stop."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[P In] AS 'Partition(20, 0, 98, 5)'
             MEMBER [Measures].[P Lo] AS 'Partition(0 - 5, 0, 98, 5)'
             MEMBER [Measures].[P Hi] AS 'Partition(120, 0, 98, 5)'
             MEMBER [Measures].[P Clip] AS 'Partition(97, 0, 98, 5)'
        SELECT {[Measures].[P In], [Measures].[P Lo], [Measures].[P Hi],
                [Measures].[P Clip]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    assert row["p_in"] == " 20: 24"
    assert row["p_lo"] == "   : -1"
    assert row["p_hi"] == " 99:   "
    assert row["p_clip"] == " 95: 98"   # clipped at stop
    with pytest.raises(MdxError, match="Partition"):
        execute_mdx(
            engine,
            "WITH MEMBER [Measures].[X] AS "
            "'Partition(20, 0, 98, count_order)' "
            "SELECT [Measures].[X] ON COLUMNS FROM [Sales]",
        )


def test_union_intersect_member_identity_is_segmentwise(engine):
    """UNION/INTERSECT member identity is per identifier SEGMENT, not
    the whitespace-stripped written form: '[MIDDLE EAST]' and
    '[MIDDLEEAST]' are DIFFERENT members (the space is part of the
    bracketed name), while spacing around the dots normalizes away."""
    # spurious match regression: strip-all-whitespace canon treated
    # [MIDDLE EAST] as present in the right side's {[MIDDLEEAST], [ASIA]}
    r = execute_mdx(
        engine,
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               INTERSECT({[Customer].[MIDDLE EAST], [Customer].[ASIA]},
                         {[Customer].[MIDDLEEAST], [Customer].[ASIA]})
                 ON ROWS
        FROM [Sales]
        """,
    )
    assert [x["region_name"] for x in r.df.collect()] == ["ASIA"]
    # inter-token spacing (around the dots) still dedups
    r2 = execute_mdx(
        engine,
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               UNION({[Customer].[MIDDLE EAST]},
                     {[Customer] . [MIDDLE EAST]}) ON ROWS
        FROM [Sales]
        """,
    )
    rows = r2.df.collect()
    assert [x["region_name"] for x in rows] == ["MIDDLE EAST"]


def test_generate_string_form_variants(engine):
    """GENERATE string form (mondrian_test.rb:491-517 verbatim shapes):
    measure-cast-to-string, string-valued measure, and the SetToStr
    member form with/without ALL; default separator is ''."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Region name] AS
          '[Customer].CurrentMember.Name'
        MEMBER [Measures].[G1] AS
          'Generate([Customer].[Region].Members,
                    Cast([Measures].[Region name] AS String), ",")'
        MEMBER [Measures].[G2] AS
          'Generate([Customer].[Region].Members,
                    [Measures].[Region name], ",")'
        MEMBER [Measures].[G3] AS
          'SetToStr(Generate([Customer].[Region].Members,
                             [Customer].CurrentMember, ALL))'
        MEMBER [Measures].[G4] AS
          'SetToStr(Generate({[Customer].[ASIA], [Customer].[ASIA]},
                             [Customer].CurrentMember))'
        MEMBER [Measures].[G5] AS
          'Generate({[Customer].[ASIA], [Customer].[AFRICA]},
                    [Measures].[Region name])'
        SELECT {[Measures].[G1], [Measures].[G2], [Measures].[G3],
                [Measures].[G4], [Measures].[G5]} ON COLUMNS FROM [Sales]
        """,
    )
    row = r.df.collect()[0]
    regions = "AFRICA,AMERICA,ASIA,EUROPE,MIDDLE EAST"
    assert row["g1"] == regions
    assert row["g2"] == regions
    assert row["g3"] == (
        "{[Customer].[AFRICA], [Customer].[AMERICA], [Customer].[ASIA], "
        "[Customer].[EUROPE], [Customer].[MIDDLE EAST]}"
    )
    # without ALL duplicates are removed (Generate default)
    assert row["g4"] == "{[Customer].[ASIA]}"
    # explicit-list set, metadata path: concatenation preserves the
    # WRITTEN set order (Mondrian iterates the set as given); default
    # separator is ''.  The measure path keys on the same written
    # position (CASE over the member path in the sub-aggregate).
    assert row["g5"] == "ASIAAFRICA"


def test_generate_string_form_fixed_member_and_errors(engine):
    """The member form accepts a FIXED member (repeated per set member,
    deduped without ALL); non-set first arguments and foreign
    CurrentMember references raise friendly errors."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[GF] AS
          'SetToStr(Generate([Customer].[Region].Members,
                             [Part].[Brand#13], ALL))'
        SELECT {[Measures].[GF]} ON COLUMNS FROM [Sales]
        """,
    )
    assert (
        r.df.collect()[0]["gf"]
        == "{" + ", ".join(["[Part].[Brand#13]"] * 5) + "}"
    )
    with pytest.raises(MdxError, match="must be a set"):
        execute_mdx(
            engine,
            "WITH MEMBER [Measures].[X] AS "
            "'Generate([Customer].[ASIA].Nope, [Measures].[Sum Qty])' "
            "SELECT [Measures].[X] ON COLUMNS FROM [Sales]",
        )
    with pytest.raises(MdxError, match="iterated set's dimension"):
        execute_mdx(
            engine,
            "WITH MEMBER [Measures].[N] AS '[Part].CurrentMember.Name' "
            "MEMBER [Measures].[X] AS "
            "'Generate([Customer].[Region].Members, [Measures].[N], \",\")' "
            "SELECT [Measures].[X] ON COLUMNS FROM [Sales]",
        )
    with pytest.raises(MdxError, match="SetToStr"):
        execute_mdx(
            engine,
            "WITH MEMBER [Measures].[X] AS "
            "'Generate([Customer].[Region].Members, "
            "[Customer].CurrentMember, \",\")' "
            "SELECT [Measures].[X] ON COLUMNS FROM [Sales]",
        )


def test_to_mdx_generate_string_form_roundtrip(engine):
    """Builder WITH formulas carrying GENERATE text serialize verbatim
    (to_mdx golden) and the serialized statement PARSES BACK through
    execute_mdx to the same value — the full round-trip the reference's
    builder tests imply (query_test.rb:394-732 style golden + the
    mondrian_test.rb:491-517 string-form semantics)."""
    q = (
        Query(engine)
        .with_member("Region list")
        .as_(
            'Generate([Customer].[Region].Members, '
            '[Customer].CurrentMember.Name, ",")'
        )
        .columns("[Measures].[Region list]")
    )
    assert like(
        q.to_mdx(),
        """
        WITH MEMBER [Measures].[Region list] AS
          'Generate([Customer].[Region].Members, [Customer].CurrentMember.Name, ",")'
        SELECT [Measures].[Region list] ON COLUMNS
        FROM [Sales]
        """,
    )
    r = execute_mdx(engine, q.to_mdx())
    assert (
        r.df.collect()[0]["region_list"]
        == "AFRICA,AMERICA,ASIA,EUROPE,MIDDLE EAST"
    )


def test_strtomember_spelling_all_positions(engine):
    """StrToMember('…') (jar!mondrian/olap/fun/StrToMemberFunDef) with a
    literal argument is a parse-time constant, valid wherever a member
    is: axis element, set-function argument, slicer tuple component."""
    r = execute_mdx(
        engine,
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               {StrToMember('[Customer].[ASIA]'),
                [Customer].[AFRICA]} ON ROWS
        FROM [Sales]
        WHERE (StrToMember('[Time].[1995]'),
               StrToMember('[ReturnFlag].[N]'))
        """,
    )
    rows = {x["region_name"] for x in r.df.collect()}
    assert rows == {"ASIA", "AFRICA"}
    # equivalent plain-identifier statement gives identical values
    r2 = execute_mdx(
        engine,
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               {[Customer].[ASIA], [Customer].[AFRICA]} ON ROWS
        FROM [Sales]
        WHERE ([Time].[1995], [ReturnFlag].[N])
        """,
    )
    assert sorted(map(tuple, r.df.collect())) == sorted(
        map(tuple, r2.df.collect())
    )
    # non-literal argument: left for the ordinary parse site to reject
    with pytest.raises(MdxError):
        execute_mdx(
            engine,
            "SELECT {[Measures].[Sum Qty]} ON COLUMNS, "
            "{StrToMember([Customer].[ASIA])} ON ROWS FROM [Sales]",
        )


def test_generate_string_form_includes_empty_members(spark):
    """Mondrian's Generate iterates the SET, not the fact: a member with
    zero fact rows still contributes its Name to the string form (the
    member-metadata path evaluates over the member list — and never
    scans the fact)."""
    from pyspark.sql import Row

    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure
    from mondrian_olap_spark.star import CubeEngine

    dim_rows = spark.createDataFrame(
        [Row(tk=m, nm=f"M{m}") for m in (1, 2, 3, 4)]
    )
    fact = spark.createDataFrame(
        [Row(fk=1, v=1.0), Row(fk=2, v=2.0)]  # M3, M4 have no facts
    )
    cube = Cube(
        name="Mini",
        fact="f",
        dimensions=(
            Dimension(
                name="D",
                foreign_key="fk",
                table="d",
                primary_key="tk",
                levels=(Level("Name", "nm", output="d_name"),),
            ),
        ),
        measures=(Measure("V", "v", "sum", output="v_sum"),),
    )
    eng = CubeEngine(cube, {"f": fact, "d": dim_rows})
    r = execute_mdx(
        eng,
        """
        WITH MEMBER [Measures].[N] AS '[D].CurrentMember.Name'
        MEMBER [Measures].[G] AS
          'Generate([D].[Name].Members, [Measures].[N], ",")'
        SELECT {[Measures].[G]} ON COLUMNS FROM [Mini]
        """,
    )
    assert r.df.collect()[0]["g"] == "M1,M2,M3,M4"
    # zero-fact-scan for the metadata path is plan-audited against the
    # parquet engine (tools/explain_audit.py property 42)


def test_generate_measure_concat_cross_parent_set_order(engine, duck):
    """A measure-path Generate over an EXPLICIT member list spanning
    parents concatenates in WRITTEN order (Mondrian iteration order) —
    the written position is keyed on the member's FULL path, so members
    under different parents order correctly."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[G] AS
          'Generate({[Customer].[ASIA].[NATION_7], [Customer].[ASIA].[NATION_2],
                     [Customer].[AFRICA].[NATION_0]},
                    Cast(Cast([Measures].[Sum Qty] AS bigint) AS String), "|")'
        SELECT {[Measures].[G]} ON COLUMNS FROM [Sales]
        """,
    )
    got = r.df.collect()[0]["g"]
    vals = {
        n: str(v)
        for n, v in duck.execute(
            """
            SELECT n_name, CAST(sum(l_quantity) AS BIGINT) FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name IN ('NATION_0', 'NATION_2', 'NATION_7')
            GROUP BY n_name
            """
        ).fetchall()
    }
    want = "|".join([vals["NATION_7"], vals["NATION_2"], vals["NATION_0"]])
    assert got == want


def test_schema_dim_member_is_lenient_and_never_hijacks_with(engine):
    """A schema-declared dimension calc member must not break queries
    that merely mention its name: a same-named WITH Measures member wins
    outright, and a grid that does not group the member's dimension
    skips the union silently instead of raising."""
    import dataclasses as dc

    from mondrian_olap_spark.star import CubeEngine

    cube = dc.replace(
        engine.cube,
        dimension_calc_members=(
            ("Total", "[Customer]",
             "Aggregate({[Customer].[ASIA], [Customer].[AFRICA]})"),
        ),
    )
    eng = CubeEngine(cube, engine.tables)
    # same-named WITH Measures member, Customer not on any axis
    r = execute_mdx(
        eng,
        """
        WITH MEMBER [Measures].[Total] AS '[Measures].[Sum Qty] * 2'
        SELECT {[Measures].[Total]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    )
    assert r.df.count() > 0
    # named on an axis WITH the dimension grouped: the union applies
    r2 = execute_mdx(
        eng,
        "SELECT {[Measures].[Sum Qty]} ON COLUMNS, "
        "{[Customer].children, [Customer].[Total]} ON ROWS FROM [Sales]",
    ).df
    by = {x["region_name"]: x["sum_qty"] for x in r2.collect()}
    assert by["Total"] == pytest.approx(by["ASIA"] + by["AFRICA"])


def test_dim_member_reference_requires_short_path(engine):
    """A real member whose LEAF name collides with a registered
    dimension calc member must not be shadowed: calc members are
    referenced as [Name] or [Dim].[Name], never through a longer path."""
    r = (
        Query(engine)
        .with_dimension_member(
            "Q1", "[Time].[1996].[Q2]", dimension="Time"
        )
        .columns("[Measures].[Sum Qty]")
        .rows("[Time].[1995].[Q1]")
        .execute()
        .df
    )
    rows = {(x["o_year"], x["o_quarter"]): x["sum_qty"] for x in r.collect()}
    # the REAL 1995 Q1 cell survives (it was silently replaced by the
    # synthetic member's 1996 prefix before the short-path rule); the
    # synthetic row still auto-unions at the grid's quarter grain
    plain = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Time].[1995].[Q1]")
        .execute()
        .df.collect()
    )
    assert rows[(1995, "Q1")] == plain[0]["sum_qty"]
    assert (1996, "Q1") in rows  # the union row, at its own prefix


def test_cube_calc_member_transitive_rewrite(engine):
    """A schema calc member referencing ANOTHER schema calc member whose
    formula needs the per-query time-intelligence rewrite: selecting
    only the outer member must still rewrite the inner one."""
    import dataclasses as dc

    from mondrian_olap_spark.model import CalculatedMember
    from mondrian_olap_spark.star import CubeEngine

    cube = dc.replace(
        engine.cube,
        calculated_members=(
            *engine.cube.calculated_members,
            CalculatedMember(
                "Prev Price",
                "([Measures].[Sum Price], [Time].[Time].PrevMember)",
            ),
            CalculatedMember("Prev Price x2", "prev_price * 2"),
        ),
    )
    eng = CubeEngine(cube, engine.tables)
    r = execute_mdx(
        eng,
        """
        SELECT {[Measures].[Sum Price], [Measures].[Prev Price x2]}
          ON COLUMNS, [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    )
    rows = sorted(r.df.collect(), key=lambda x: x["o_year"])
    assert rows[0]["prev_price_x2"] is None
    assert rows[1]["prev_price_x2"] == pytest.approx(
        rows[0]["sum_price"] * 2
    )


def test_descendants_flags(engine):
    """DESCENDANTS third flag argument (DescendantsFunDef): the level
    span each flag selects, over the 3-level Customer hierarchy."""
    def rows(flag):
        return execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            f"DESCENDANTS([Customer].[ASIA], [Customer].[Nation], {flag}) "
            "ON ROWS FROM [Sales]",
        ).df.collect()

    before = rows("BEFORE")
    assert len(before) == 1 and before[0]["region_name"] == "ASIA"
    sab = rows("SELF_AND_BEFORE")
    assert {r["nation_name"] for r in sab} >= {None}
    assert len(sab) == 6  # ASIA + its 5 nations
    after = rows("AFTER")
    assert all(r["customer_name"] is not None for r in after)
    # LEAVES with the level AT the bottom = the leaf members; a level
    # above the bottom selects nothing in a non-ragged hierarchy → error
    leaves = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DESCENDANTS([Customer].[ASIA], [Customer].[Customer], LEAVES) "
        "ON ROWS FROM [Sales]",
    ).df.collect()
    assert sorted(map(tuple, leaves)) == sorted(map(tuple, after))
    with pytest.raises(MdxError, match="LEAVES above the bottom"):
        rows("LEAVES")
    sba = rows("SELF_BEFORE_AFTER")
    assert len(sba) == len(sab) + len(after)


def test_descendants_no_level_is_member_and_all_descendants(engine):
    """Descendants(m) without a level returns the member plus ALL its
    descendants (DescendantsFunDef default)."""
    rows = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DESCENDANTS([Time].[1995]) ON ROWS FROM [Sales]",
    ).df.collect()
    assert len(rows) == 17  # year + 4 quarters + 12 months
    assert sum(1 for r in rows if r["o_quarter"] is None and r["o_month"] is None) == 1


def test_descendants_flag_errors(engine):
    with pytest.raises(MdxError, match="empty set"):
        execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            "DESCENDANTS([Customer].[ASIA], [Customer].[Region], BEFORE) "
            "ON ROWS FROM [Sales]",
        )
    with pytest.raises(MdxError, match="empty set"):
        execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            "DESCENDANTS([Customer].[ASIA], [Customer].[Customer], AFTER) "
            "ON ROWS FROM [Sales]",
        )


def test_descendants_distance_form(engine):
    """Descendants(m, n[, flag]) — the numeric DISTANCE form
    (DescendantsFunDef): n levels below the member's own level."""
    rows = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DESCENDANTS([Customer].[ASIA], 1) ON ROWS FROM [Sales]",
    ).df.collect()
    assert len(rows) == 5 and all(r["region_name"] == "ASIA" for r in rows)
    with_flag = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DESCENDANTS([Customer].[ASIA], 1, SELF_AND_BEFORE) ON ROWS "
        "FROM [Sales]",
    ).df.collect()
    assert len(with_flag) == 6
    with pytest.raises(MdxError, match="below the bottom level"):
        execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            "DESCENDANTS([Customer].[ASIA], 9) ON ROWS FROM [Sales]",
        )


def test_generate_computed_cross_dim_data_dependent_rejected(engine):
    """Malformed-argument errors stay positioned MdxErrors (the
    cross-dimension measure-dependent GENERATE itself now evaluates
    per-member — test_generate_per_member_cross_dim)."""
    with pytest.raises(MdxError, match="must be an integer"):
        execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            "DESCENDANTS([Customer].[ASIA], 1.5) ON ROWS FROM [Sales]",
        )


def test_generate_per_member_cross_dim(engine, duck):
    """Cross-dimension measure-dependent GENERATE evaluates set2 PER set1
    member (GenerateFunDef iteration): the union of each year's top-2
    nations — NOT the global top-2 (which would be 2 rows)."""
    rows = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "GENERATE([Time].[Year].Members, "
        "TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty])) "
        "ON ROWS FROM [Sales]",
    ).df.collect()
    want = {
        n
        for (n,) in duck.execute(
            """
            WITH yr AS (
              SELECT year(o_orderdate) y, r_name, n_name,
                     sum(l_quantity) s
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              GROUP BY 1, 2, 3
            )
            SELECT DISTINCT n_name FROM (
              SELECT n_name, row_number() OVER (
                PARTITION BY y ORDER BY s DESC, r_name, n_name) rn FROM yr
            ) WHERE rn <= 2
            """
        ).fetchall()
    }
    assert {r["nation_name"] for r in rows} == want
    assert len(want) > 2  # proves per-member, not global


def test_generate_per_member_head_composes(engine):
    """HEAD after a per-member computed GENERATE composes (round-12
    verdict item 6) — this exact shape raised through round 11."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "HEAD(GENERATE([Time].[Year].Members, "
        "TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty])), 3) "
        "ON ROWS FROM [Sales]",
    )
    assert r.df.count() == 3


def test_generate_per_member_unsupported_trailing_op_raises(engine):
    """Non-composable trailing ops still raise with a named whitelist."""
    with pytest.raises(MdxError, match="may\\s+follow"):
        execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            "EXCEPT(GENERATE([Time].[Year].Members, "
            "TOPCOUNT([Customer].[Nation].Members, 2, "
            "[Measures].[Sum Qty])), {[Customer].[ASIA].[NATION_2]}) "
            "ON ROWS FROM [Sales]",
        )


def test_exists_empty_computed_set_is_empty(engine):
    """EXISTS against a computed second set that evaluates to EMPTY is
    the empty set — not 'no constraint' (round-11 sf0.001 sweep catch:
    an empty slice list silently kept every member)."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXISTS([Customer].[Nation].Members, "
        "FILTER([ReturnFlag].Children, [Measures].[Sum Qty] > 99999999)) "
        "ON ROWS FROM [Sales]",
    )
    assert r.df.count() == 0


def test_union_intersect_computed_arguments(engine):
    """UNION/INTERSECT with computed arguments (UnionFunDef/
    IntersectFunDef over arbitrary sets): the computed side evaluates in
    the slicer context post-WHERE; INTERSECT keys on (dimension, level,
    path) identity; an empty intersection yields an empty grid."""
    u = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "UNION({[Customer].[ASIA].[NATION_2]}, "
        "TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty])) "
        "ON ROWS FROM [Sales]",
    ).df.collect()
    top2 = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty]) "
        "ON ROWS FROM [Sales]",
    ).df.collect()
    assert {r["nation_name"] for r in u} == {"NATION_2"} | {
        r["nation_name"] for r in top2
    }
    i = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "INTERSECT({[Customer].[ASIA].[NATION_2], [Customer].[AFRICA].[NATION_0]}, "
        "FILTER([Customer].[Nation].Members, [Measures].[Sum Qty] > 6000)) "
        "ON ROWS FROM [Sales]",
    ).df.collect()
    assert [r["nation_name"] for r in i] == ["NATION_2"]
    empty = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "INTERSECT({[Customer].[ASIA].[NATION_2]}, "
        "FILTER([Customer].[Nation].Members, [Measures].[Sum Qty] > 99999999)) "
        "ON ROWS FROM [Sales]",
    )
    assert empty.df.count() == 0
    # a whole-level computed-side INTERSECT contains same-level members
    lvl = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "INTERSECT({[Customer].[ASIA].[NATION_2]}, "
        "DISTINCT([Customer].[Nation].Members)) ON ROWS FROM [Sales]",
    ).df.collect()
    assert [r["nation_name"] for r in lvl] == ["NATION_2"]


def test_generate_per_member_restricted_set1_rejected(engine):
    """Per-member GENERATE over a RESTRICTED first set raises: the
    deferred context evaluation reads the plain member list, so an
    earlier FILTER/TOPCOUNT on set1 would silently be ignored
    (round-11 second-review fix)."""
    with pytest.raises(MdxError, match="RESTRICTED first set"):
        execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            "GENERATE(FILTER([Time].[Year].Members, [Measures].[Sum Qty] > 0), "
            "TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty])) "
            "ON ROWS FROM [Sales]",
        )


def test_generate_per_member_empty_is_empty_axis(engine):
    """An empty per-member union is an EMPTY axis (zero tuples), not an
    error — the grid keeps set2's schema."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "GENERATE([Time].[Year].Members, "
        "FILTER([Customer].[Nation].Members, [Measures].[Sum Qty] > 99999999)) "
        "ON ROWS FROM [Sales]",
    )
    assert r.df.count() == 0
    assert "nation_name" in r.df.columns


def test_intersect_children_side_rejected(engine):
    """A plain .Children side of a computed INTERSECT cannot enumerate
    here — its parent-path identity would silently mis-intersect against
    member paths, so it raises (round-11 second-review fix)."""
    with pytest.raises(MdxError, match="concrete members or whole levels"):
        execute_mdx(
            engine,
            "SELECT [Measures].[Sum Qty] ON COLUMNS, "
            "INTERSECT([Customer].[ASIA].Children, "
            "FILTER([Customer].[Nation].Members, [Measures].[Sum Qty] > 0)) "
            "ON ROWS FROM [Sales]",
        )


def test_intersect_whole_level_left_side(engine):
    """A whole-level plain LEFT side contains every same-level computed
    member — the intersection is the computed side."""
    rows = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "INTERSECT([Customer].[Nation].Members, "
        "TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty])) "
        "ON ROWS FROM [Sales]",
    ).df.collect()
    assert len(rows) == 2


def test_to_mdx_deferred_union_roundtrip(engine):
    """to_mdx fidelity for deferred set ops (round-12 verdict item 5): a
    UNION with a computed argument serializes as the ORIGINAL expression
    (not the evaluated member list), and parse -> to_mdx -> parse
    re-executes identically."""
    from mondrian_olap_spark.mdx import MdxParser

    mdx = (
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "UNION({[Customer].[ASIA].[NATION_2]}, "
        "TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty])) "
        "ON ROWS FROM [Sales]"
    )
    q1, _ = MdxParser(engine, mdx, None).parse_statement()
    out = q1.to_mdx()
    assert "UNION(" in out and "TOPCOUNT(" in out
    # no flattened member list: the evaluated nations must NOT be spelled
    assert out.count("[Customer].[") == 2
    q2, _ = MdxParser(engine, out, None).parse_statement()
    r1 = sorted(map(tuple, q1.execute().df.collect()))
    r2 = sorted(map(tuple, q2.execute().df.collect()))
    assert r1 == r2 and len(r1) > 0
    # second-generation serialization is stable
    assert "UNION(" in q2.to_mdx()


def test_to_mdx_deferred_intersect_roundtrip(engine):
    from mondrian_olap_spark.mdx import MdxParser

    mdx = (
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "INTERSECT([Customer].[Nation].Members, "
        "TOPCOUNT([Customer].[Nation].Members, 3, [Measures].[Sum Qty])) "
        "ON ROWS FROM [Sales]"
    )
    q1, _ = MdxParser(engine, mdx, None).parse_statement()
    out = q1.to_mdx()
    assert "INTERSECT(" in out
    q2, _ = MdxParser(engine, out, None).parse_statement()
    r1 = sorted(map(tuple, q1.execute().df.collect()))
    r2 = sorted(map(tuple, q2.execute().df.collect()))
    assert r1 == r2 and len(r1) == 3


def test_generate_per_member_with_trailing_order_head(engine, duck):
    """ORDER + HEAD after a per-member computed GENERATE compose over the
    result set (round-12 verdict item 6) — previously raised."""
    rows = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "HEAD(ORDER(GENERATE([Time].[Year].Members, "
        "  TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty])), "
        "  [Measures].[Sum Qty], BASC), 2) "
        "ON ROWS FROM [Sales] WHERE [ReturnFlag].[N]",
    ).df.collect()
    exp = duck.execute(
        """
        WITH yr AS (
          SELECT year(o_orderdate) AS y, r_name, n_name, sum(l_quantity) AS s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE l_returnflag = 'N' GROUP BY 1, 2, 3
        ),
        top2 AS (
          SELECT DISTINCT r_name, n_name FROM (
            SELECT r_name, n_name, row_number() OVER (
              PARTITION BY y ORDER BY s DESC, r_name, n_name) AS rn FROM yr
          ) WHERE rn <= 2
        ),
        agg AS (
          SELECT c.r_name, c.n_name, sum(c.l_quantity) AS s
          FROM (SELECT r_name, n_name, l_quantity
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE l_returnflag = 'N') c
          JOIN top2 ON top2.r_name = c.r_name AND top2.n_name = c.n_name
          GROUP BY 1, 2
        )
        SELECT n_name, s FROM agg ORDER BY s ASC, r_name, n_name LIMIT 2
        """
    ).fetchall()
    assert sorted((r["nation_name"], r["sum_qty"]) for r in rows) == sorted(
        (n, s) for n, s in exp
    )


def test_except_mixed_depth_computed_argument(engine):
    """EXCEPT with a computed argument whose base spans levels: the
    mixed-depth evaluator feeds the anti-filter."""
    r = execute_mdx(
        engine,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXCEPT([Time].[Year].Members, "
        "  FILTER({[Time].[1995], [Time].[1996].[Q1]}, "
        "         [Measures].[Sum Qty] > 0)) "
        "ON ROWS FROM [Sales]",
    )
    years = {row["o_year"] for row in r.df.collect()}
    # 1995 (a year-level member of the computed set) is excepted; the
    # 1996 QUARTER member does not remove the 1996 YEAR member
    assert 1995 not in years and 1996 in years


def test_ragged_leaves_if_parents_name(spark):
    """LEAVES honors IfParentsName hiding: a branch whose only child
    repeats the parent name makes the PARENT the leaf."""
    from pyspark.sql import Row

    from mondrian_olap_spark.mdx import execute_mdx
    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure
    from mondrian_olap_spark.star import CubeEngine

    geo = spark.createDataFrame(
        [
            Row(id=1, country="USA", city="Boston"),
            Row(id=2, country="Monaco", city="Monaco"),  # = parent -> leaf
        ]
    )
    fact = spark.createDataFrame(
        [Row(geo_id=1, v=1.0), Row(geo_id=2, v=2.0)]
    )
    cube = Cube(
        name="Ragged",
        fact="fact",
        dimensions=(
            Dimension(
                name="Geo", foreign_key="geo_id", table="geo",
                primary_key="id",
                levels=(
                    Level("Country", "country", output="country"),
                    Level(
                        "City", "city", output="city",
                        hide_member_if="IfParentsName",
                    ),
                ),
                guaranteed_small=True,
            ),
        ),
        measures=(Measure("V", "v", "sum", output="v_sum"),),
    )
    eng = CubeEngine(cube, {"fact": fact, "geo": geo})
    rows = execute_mdx(
        eng,
        "SELECT [Measures].[V] ON COLUMNS, "
        "DESCENDANTS([Geo].[Monaco], [Geo].[City], LEAVES) ON ROWS "
        "FROM [Ragged]",
    ).df.collect()
    assert [(r["country"], r["city"], r["v_sum"]) for r in rows] == [
        ("Monaco", None, 2.0)
    ]


def test_to_mdx_union_override_with_trailing_drill(engine):
    """A trailing drill after a deferred UNION still serializes on top of
    the preserved UNION spelling."""
    from mondrian_olap_spark.mdx import MdxParser

    mdx = (
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DRILLDOWNMEMBER(UNION({[Customer].[ASIA]}, "
        "TOPCOUNT([Customer].[Region].Members, 1, [Measures].[Sum Qty])), "
        "{[Customer].[ASIA]}) ON ROWS FROM [Sales]"
    )
    q1, _ = MdxParser(engine, mdx, None).parse_statement()
    out = q1.to_mdx()
    assert "UNION(" in out and "TOPCOUNT(" in out
    r1 = q1.execute().df
    assert r1.count() > 0


def test_generate_of_topcount_axis_columns_are_distinct(engine):
    """Generate over four years of a TopCount nation set keeps one row
    key per level column, not one copy per generated set."""
    r = execute_mdx(
        engine,
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               Generate([Time].[Year].Members,
                        TopCount([Customer].[Nation].Members, 1,
                                 [Measures].[Sum Qty])) ON ROWS
        FROM [Sales]
        """,
    )
    assert r.axis_columns[1] == ["region_name", "nation_name"]
    assert {len(k) for k in r.row_names} == {2}


def test_literal_makes_no_dependency(engine):
    """A string literal that spells a member's name is no reference to
    it: ``"a"`` in [b] does not make [a] and [b] a cycle."""
    row = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[a] AS '[Measures].[b] + 1'
             MEMBER [Measures].[b] AS 'IIF("a" = "a", 1, 0)'
        SELECT {[Measures].[a], [Measures].[b]} ON COLUMNS FROM [Sales]
        """,
    ).df.collect()[0]
    assert (row["a"], row["b"]) == (2, 1)


@pytest.mark.parametrize("cond", ["''a'' = ''b''", '"a" = "b"'])
def test_literal_is_no_scalar_reference(engine, cond):
    """A set statistic's expression may hold a literal that spells a
    member whose formula is itself a scalar lowering."""
    s = "{[Customer].[ASIA], [Customer].[EUROPE]}"
    row = execute_mdx(
        engine,
        f"""
        WITH MEMBER [Measures].[a] AS 'Max({s}, [Measures].[Sum Qty])'
             MEMBER [Measures].[c] AS 'Max({s}, IIF({cond}, 1, 2))'
        SELECT {{[Measures].[a], [Measures].[c]}} ON COLUMNS FROM [Sales]
        """,
    ).df.collect()[0]
    assert row["c"] == 2


def test_case_with_many_escaped_quotes_translates_fast(engine):
    """The CASE…END suffix passes read a literal with k doubled quotes in
    one way, not 2^k: a formula with 24 of them and no suffix stays as
    written within a second (the three passes each fail on it)."""
    import time

    f = "CASE WHEN 1 = 1 THEN 'a" + "''b" * 24 + "' ELSE 'n' END"
    start = time.perf_counter()
    out = MdxParser(engine, "SELECT FROM [Sales]").translate_expression_text(f)
    assert time.perf_counter() - start < 1.0
    assert out == f
