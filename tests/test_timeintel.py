"""Time-intelligence functions in MDX text (SURVEY.md §2.5;
jar!mondrian/olap/fun/{XtdFunDef,PeriodsToDateFunDef,LastPeriodsFunDef,
ParallelPeriodFunDef,OpeningClosingPeriodFunDef}).

Covers the WITH MEMBER value forms (window lowering at execute time), the
axis set forms (ordinal-range lowering), and the error paths."""

import pytest

from mondrian_olap_spark.functions import windows as fx
from mondrian_olap_spark.mdx import execute_mdx
from mondrian_olap_spark.query import Query, QueryError


def test_ytd_formula_matches_engine_api(engine):
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[YTD Price] AS 'Sum(Ytd(), [Measures].[Sum Price])'
        SELECT {[Measures].[Sum Price], [Measures].[YTD Price]} ON COLUMNS,
               [Time].[Month].Members ON ROWS FROM [Sales]
        """,
    )
    got = {
        (row["o_year"], row["o_month"]): row["ytd_price"]
        for row in r.df.collect()
    }
    base = (
        Query(engine)
        .columns("[Measures].[Sum Price]")
        .rows("[Time].[Month].Members")
        .execute()
        .df.drop("o_quarter")
    )
    api = fx.cumulative(
        base, "sum_price", ["o_month"], partition=["o_year"], output="ytd"
    )
    want = {
        (row["o_year"], row["o_month"]): row["ytd"] for row in api.collect()
    }
    assert got == want


def test_parallelperiod_tuple_both_orders(engine):
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[A] AS
          '([Measures].[Sum Price], ParallelPeriod([Time].[Year], 1))'
        MEMBER [Measures].[B] AS
          '(ParallelPeriod([Time].[Year], 1), [Measures].[Sum Price])'
        SELECT {[Measures].[Sum Price], [Measures].[A], [Measures].[B]}
          ON COLUMNS, [Time].[Month].Members ON ROWS FROM [Sales]
        """,
    )
    rows = r.df.collect()
    # both orders produce the same lag column
    assert all(row["a"] == row["b"] for row in rows)
    by_key = {(row["o_year"], row["o_month"]): row for row in rows}
    years = sorted({k[0] for k in by_key})
    y0, y1 = years[0], years[1]
    # first year has no previous-year value; later years echo it
    assert by_key[(y0, 1)]["a"] is None
    assert by_key[(y1, 1)]["a"] == by_key[(y0, 1)]["sum_price"]


def test_ytd_axis_set_crosses_quarters(engine):
    r = execute_mdx(
        engine,
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               Ytd([Time].[1995].[Q2].[5]) ON ROWS FROM [Sales]
        """,
    )
    rows = r.df.collect()
    assert sorted(row["o_month"] for row in rows) == [1, 2, 3, 4, 5]
    assert {row["o_quarter"] for row in rows} == {"Q1", "Q2"}


def test_periodstodate_axis_set(engine):
    r = execute_mdx(
        engine,
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               PeriodsToDate([Time].[Year], [Time].[1995].[Q2]) ON ROWS
        FROM [Sales]
        """,
    )
    assert sorted(row["o_quarter"] for row in r.df.collect()) == ["Q1", "Q2"]


def test_qtd_axis_equals_range(engine):
    qtd = execute_mdx(
        engine,
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               Qtd([Time].[1995].[Q2].[5]) ON ROWS FROM [Sales]
        """,
    ).df.collect()
    assert sorted(row["o_month"] for row in qtd) == [4, 5]


def test_prevmember_tuple_and_hier_form(engine):
    # [Time].PrevMember and the dim.hierarchy form [Time].[Time].PrevMember
    # both lower to the same lag window; NextMember leads
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[A] AS '([Measures].[Sum Price], [Time].PrevMember)'
        MEMBER [Measures].[B] AS '([Measures].[Sum Price], [Time].[Time].PrevMember)'
        MEMBER [Measures].[C] AS '([Measures].[Sum Price], [Time].NextMember)'
        SELECT {[Measures].[Sum Price], [Measures].[A], [Measures].[B],
                [Measures].[C]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    )
    rows = sorted(r.df.collect(), key=lambda row: row["o_year"])
    assert all(row["a"] == row["b"] for row in rows)
    assert rows[0]["a"] is None and rows[-1]["c"] is None
    assert rows[1]["a"] == rows[0]["sum_price"]
    assert rows[0]["c"] == rows[1]["sum_price"]


def test_member_path_prevmember_not_swallowed(engine):
    # ([Measures].[X], [Time].[1995].PrevMember) names a MEMBER path —
    # the bare-hierarchy lag rewrite must leave it alone (it then fails
    # loudly as unsupported rather than silently computing a lag)
    from mondrian_olap_spark.query import QueryError

    with pytest.raises(Exception):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[A] AS
              '([Measures].[Sum Price], [Time].[1995].PrevMember)'
            SELECT {[Measures].[A]} ON COLUMNS,
                   [Time].[Year].Members ON ROWS FROM [Sales]
            """,
        )


def test_parallelperiod_below_top_level_is_positional(engine):
    """ParallelPeriod(Quarter, 1) on a month grid is the POSITIONAL
    cousin: month 5 (position 2 of Q2) one quarter back is month 2
    (position 2 of Q1), and Q1's cousin crosses into the previous
    year's Q4 — never 'same month number, earlier year'."""
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[A] AS
          '([Measures].[Sum Price], ParallelPeriod([Time].[Quarter], 1))'
        SELECT {[Measures].[Sum Price], [Measures].[A]} ON COLUMNS,
               [Time].[Month].Members ON ROWS FROM [Sales]
        """,
    )
    rows = {
        (x["o_year"], x["o_month"]): (x["sum_price"], x["a"])
        for x in r.df.collect()
    }
    assert rows[(1995, 5)][1] == rows[(1995, 2)][0]
    assert rows[(1996, 1)][1] == rows[(1995, 10)][0]  # crosses the year
    assert rows[(1995, 2)][1] is None  # nothing before the first quarter


def test_openingperiod_ancestor_scope(engine):
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[OY] AS
          '([Measures].[Sum Price], OpeningPeriod([Time].[Month],
            Ancestor([Time].CurrentMember, [Time].[Year])))'
        MEMBER [Measures].[OQ] AS
          '([Measures].[Sum Price], OpeningPeriod([Time].[Month]))'
        SELECT {[Measures].[Sum Price], [Measures].[OY], [Measures].[OQ]}
          ON COLUMNS, [Time].[Month].Members ON ROWS FROM [Sales]
        """,
    )
    rows = {(x["o_year"], x["o_month"]): x for x in r.df.collect()}
    # year scope opens at January; the default scope is the quarter
    assert rows[(1995, 5)]["oy"] == rows[(1995, 1)]["sum_price"]
    assert rows[(1995, 5)]["oq"] == rows[(1995, 4)]["sum_price"]


def test_ancestor_outside_openingperiod_rejected(engine):
    with pytest.raises(QueryError, match="Ancestor"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[X] AS
              '([Measures].[Sum Price],
                Ancestor([Time].CurrentMember, [Time].[Year]))'
            SELECT {[Measures].[X]} ON COLUMNS,
                   [Time].[Month].Members ON ROWS FROM [Sales]
            """,
        )


def test_time_intel_needs_time_on_axis(engine):
    # Ytd() with no time dimension projected → clear error, not wrong math
    with pytest.raises(QueryError, match="time-typed dimension"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[Y] AS 'Sum(Ytd(), [Measures].[Sum Qty])'
            SELECT {[Measures].[Y]} ON COLUMNS,
                   [Customer].children ON ROWS FROM [Sales]
            """,
        )


def test_unsupported_time_intel_form_is_loud(engine):
    with pytest.raises(QueryError, match="unsupported time-intelligence"):
        execute_mdx(
            engine,
            """
            WITH MEMBER [Measures].[Y] AS 'Ytd()'
            SELECT {[Measures].[Y]} ON COLUMNS,
                   [Time].[Month].Members ON ROWS FROM [Sales]
            """,
        )


def test_lastperiods_is_calendar_true_across_gaps(spark):
    """LastPeriods(n) spans CALENDAR periods, not present grid rows: a
    month with no fact rows still occupies its frame slot (RANGE frame
    over the member-list period index), so the trailing-3 window at
    month 5 covers months {3,4,5} — never reaching back to month 2."""
    from pyspark.sql import Row

    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure
    from mondrian_olap_spark.star import CubeEngine

    # the time DIMENSION TABLE declares month 4 even though no fact row
    # references it — gap visibility requires the period to exist in the
    # member list (a degenerate fact-derived time dim cannot know about
    # periods with zero fact rows)
    dim_rows = spark.createDataFrame(
        [Row(tk=m, y=2024, m=m) for m in (1, 2, 3, 4, 5)]
    )
    fact = spark.createDataFrame(
        [
            Row(fk=1, v=1.0),
            Row(fk=2, v=10.0),
            Row(fk=3, v=100.0),
            # month 4 has no fact rows at all
            Row(fk=5, v=1000.0),
        ]
    )
    cube = Cube(
        name="Mini",
        fact="f",
        dimensions=(
            Dimension(
                name="Time",
                foreign_key="fk",
                table="d",
                primary_key="tk",
                levels=(
                    Level("Year", "y", level_type="TimeYears"),
                    Level("Month", "m", level_type="TimeMonths"),
                ),
            ),
        ),
        measures=(Measure("V", "v", "sum", output="v_sum"),),
    )
    eng = CubeEngine(cube, {"f": fact, "d": dim_rows})
    r = execute_mdx(
        eng,
        """
        WITH MEMBER [Measures].[T3] AS 'Sum(LastPeriods(3), [Measures].[V])'
        SELECT {[Measures].[V], [Measures].[T3]} ON COLUMNS,
               [Time].[Month].Members ON ROWS FROM [Mini]
        """,
    )
    t3 = {row["month"]: row["t3"] for row in r.df.collect()}
    assert t3[3] == 111.0  # months 1..3
    assert t3[5] == 1100.0  # months 3,4,5 — month 2 must NOT leak in


def test_lastperiods_zero_is_empty_set(engine):
    r = execute_mdx(
        engine,
        """
        WITH MEMBER [Measures].[Z] AS 'Sum(LastPeriods(0), [Measures].[Sum Price])'
        SELECT {[Measures].[Z]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    )
    assert all(row["z"] is None for row in r.df.collect())


def test_lastperiods_dense_index_with_ragged_child_counts(spark):
    """The period index must stay DENSE when parents have unequal child
    counts (a 52- vs 53-week year, a short first year): with 2023
    holding months {1,2} and 2024 holding {1,2,3}, LastPeriods(3) at
    2024-01 covers {2023-01, 2023-02, 2024-01}.  A mixed-radix product
    over the global max position-within-parent (3) indexed 2023's months
    1,2 and 2024's 4,5,6 — the gap at 3 silently shrank every trailing
    window that crossed the year boundary."""
    from pyspark.sql import Row

    from mondrian_olap_spark.mdx import execute_mdx
    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure
    from mondrian_olap_spark.star import CubeEngine

    dim_rows = spark.createDataFrame(
        [Row(tk=1, y=2023, m=1), Row(tk=2, y=2023, m=2),
         Row(tk=3, y=2024, m=1), Row(tk=4, y=2024, m=2),
         Row(tk=5, y=2024, m=3)]
    )
    fact = spark.createDataFrame(
        [Row(fk=1, v=1.0), Row(fk=2, v=10.0), Row(fk=3, v=100.0),
         Row(fk=4, v=1000.0), Row(fk=5, v=10000.0)]
    )
    cube = Cube(
        name="Mini",
        fact="f",
        dimensions=(
            Dimension(
                name="Time",
                foreign_key="fk",
                table="d",
                primary_key="tk",
                levels=(
                    Level("Year", "y", level_type="TimeYears"),
                    Level("Month", "m", level_type="TimeMonths"),
                ),
            ),
        ),
        measures=(Measure("V", "v", "sum", output="v_sum"),),
    )
    eng = CubeEngine(cube, {"f": fact, "d": dim_rows})
    r = execute_mdx(
        eng,
        """
        WITH MEMBER [Measures].[T3] AS 'Sum(LastPeriods(3), [Measures].[V])'
        SELECT {[Measures].[V], [Measures].[T3]} ON COLUMNS,
               CROSSJOIN([Time].[Year].Members, [Time].[Month].Members)
                 ON ROWS FROM [Mini]
        """,
    )
    t3 = {(row["year"], row["month"]): row["t3"] for row in r.df.collect()}
    # the window crossing the ragged year boundary sees 3 TRUE periods
    assert t3[(2024, 1)] == 111.0     # 2023-01, 2023-02, 2024-01
    assert t3[(2024, 2)] == 1110.0    # 2023-02, 2024-01, 2024-02
    assert t3[(2024, 3)] == 11100.0   # 2024-01..03


def test_cube_level_calc_member_time_intel_lowers(engine):
    """A SCHEMA-declared calculated member (the Mondrian-XML idiom —
    MondrianTest.xml:116 'Profit last Period' =
    (Measures.[Profit], [Time].[Time].PREVMEMBER)) gets the same
    per-query time-intelligence lowering as a WITH member; before, only
    query-scoped WITH formulas were rewritten and the schema member died
    at use time with an opaque Spark SQL parse error."""
    import dataclasses as dc

    from mondrian_olap_spark.model import CalculatedMember
    from mondrian_olap_spark.star import CubeEngine

    cube = dc.replace(
        engine.cube,
        calculated_members=(
            *engine.cube.calculated_members,
            CalculatedMember(
                "Price last Period",
                "([Measures].[Sum Price], [Time].[Time].PrevMember)",
            ),
        ),
    )
    eng = CubeEngine(cube, engine.tables)
    r = execute_mdx(
        eng,
        """
        SELECT {[Measures].[Sum Price], [Measures].[Price last Period]}
          ON COLUMNS, [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    )
    rows = sorted(r.df.collect(), key=lambda row: row["o_year"])
    assert rows[0]["price_last_period"] is None
    assert all(
        rows[i]["price_last_period"] == rows[i - 1]["sum_price"]
        for i in range(1, len(rows))
    )
    # an UNREFERENCED schema member with an unlowerable formula must not
    # fail unrelated queries on the same cube (lazy evaluation)
    cube2 = dc.replace(
        engine.cube,
        calculated_members=(
            *engine.cube.calculated_members,
            CalculatedMember(
                "Broken", "([Measures].[Sum Price], [Part].CurrentMember.Nope)"
            ),
        ),
    )
    eng2 = CubeEngine(cube2, engine.tables)
    r2 = execute_mdx(
        eng2,
        "SELECT {[Measures].[Sum Qty]} ON COLUMNS, "
        "[Customer].children ON ROWS FROM [Sales]",
    )
    assert r2.df.count() == 5


def test_currentdatemember_suffix_positions(engine):
    """[Dim].[Level].CurrentDateMember (schema_definition_test.rb:580-591
    formula idiom): slicer, axis element, and WITH dimension-member
    formula all resolve to the same member — the latest period not after
    the evaluation date (BEFORE matching; TPC-H data is historical, so
    this is the last quarter of the last year)."""
    path = engine.current_date_member("Time", 1)
    sliced = execute_mdx(
        engine,
        "SELECT {[Measures].[Sum Qty]} ON COLUMNS FROM [Sales] "
        "WHERE [Time].[Quarter].CurrentDateMember",
    ).df.collect()[0]["sum_qty"]
    direct = execute_mdx(
        engine,
        f"SELECT {{[Measures].[Sum Qty]}} ON COLUMNS FROM [Sales] "
        f"WHERE [Time].[{path[0]}].[{path[1]}]",
    ).df.collect()[0]["sum_qty"]
    assert sliced == direct
    on_axis = execute_mdx(
        engine,
        "SELECT {[Measures].[Sum Qty]} ON COLUMNS, "
        "{[Time].[Quarter].CurrentDateMember} ON ROWS FROM [Sales]",
    ).df.collect()
    assert len(on_axis) == 1 and on_axis[0]["sum_qty"] == direct
    with_form = execute_mdx(
        engine,
        """
        WITH MEMBER [Time].[Current quarter] AS
          '[Time].[Quarter].CurrentDateMember'
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               [Time].[Quarter].Members ON ROWS FROM [Sales]
        """,
    ).df
    row = [r for r in with_form.collect()
           if r["o_quarter"] == "Current quarter"]
    assert len(row) == 1 and row[0]["sum_qty"] == direct
    from mondrian_olap_spark.mdx import MdxError

    with pytest.raises(MdxError, match="Dimension"):
        execute_mdx(
            engine,
            "SELECT {[Measures].[Sum Qty]} ON COLUMNS FROM [Sales] "
            "WHERE [Nope].[Level].CurrentDateMember",
        )


def test_currentdatemember_current_year_caps_at_today(spark):
    """When the member list REACHES the evaluation date's year, deeper
    levels cap at today's unit position instead of the year's last
    member (a future quarter in the dim table must not be 'current')."""
    import datetime

    from pyspark.sql import Row

    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure
    from mondrian_olap_spark.star import CubeEngine

    today = datetime.date.today()
    rows = [
        Row(tk=10 * q, y=today.year - 1, q=f"Q{q}") for q in (1, 2, 3, 4)
    ] + [Row(tk=100 + q, y=today.year, q=f"Q{q}") for q in (1, 2, 3, 4)]
    fact = spark.createDataFrame([Row(fk=r.tk, v=1.0) for r in rows])
    cube = Cube(
        name="Mini",
        fact="f",
        dimensions=(
            Dimension(
                name="Time",
                foreign_key="fk",
                table="d",
                primary_key="tk",
                levels=(
                    Level("Year", "y", level_type="TimeYears"),
                    Level("Quarter", "q", level_type="TimeQuarters"),
                ),
            ),
        ),
        measures=(Measure("V", "v", "sum", output="v_sum"),),
    )
    eng = CubeEngine(cube, {"f": fact, "d": spark.createDataFrame(rows)})
    y, q = eng.current_date_member("Time", 1)
    assert int(y) == today.year
    assert q == f"Q{(today.month - 1) // 3 + 1}"


def test_xml_imported_currentdatemember_calc_member(spark):
    """The reference XML (schema_definition_test.rb:580-591 verbatim
    shape) imports: the hierarchy-scoped CalculatedMember lands in
    cube.dimension_calc_members, round-trips through to_mondrian_xml,
    and an MDX query naming it resolves the formula (usability of the
    lowered member is pinned by test_currentdatemember_suffix_positions's
    WITH form — the parser path is identical)."""
    import textwrap

    from mondrian_olap_spark.catalog_xml import (
        from_mondrian_xml,
        to_mondrian_xml,
    )

    xml = textwrap.dedent("""\
        <?xml version="1.0" encoding="UTF-8"?>
        <Schema name="default">
          <Cube name="Sales">
            <Table name="orders"/>
            <Dimension name="Time" foreignKey="o_orderkey">
              <Hierarchy hasAll="false">
                <Level name="Year" column="o_year" type="Numeric"
                       levelType="TimeYears"/>
                <Level name="Quarter" column="o_quarter"
                       levelType="TimeQuarters"/>
              </Hierarchy>
            </Dimension>
            <Measure name="Sum Qty" column="l_quantity" aggregator="sum"/>
            <CalculatedMember hierarchy="[Time]" name="Current quarter">
              <Formula>[Time].[Quarter].CurrentDateMember</Formula>
            </CalculatedMember>
          </Cube>
        </Schema>
    """)
    import tempfile

    with tempfile.NamedTemporaryFile(
        "w", suffix=".xml", delete=False
    ) as f:
        f.write(xml)
        p = f.name
    schema, _ = from_mondrian_xml(p)
    cube = schema.cubes[0]
    assert cube.dimension_calc_members == (
        ("Current quarter", "[Time]", "[Time].[Quarter].CurrentDateMember"),
    )
    out_xml = to_mondrian_xml(schema)
    assert 'hierarchy="[Time]"' in out_xml
    assert "[Time].[Quarter].CurrentDateMember" in out_xml


def test_schema_dimension_calc_member_usable_in_mdx(engine):
    """A cube carrying dimension_calc_members (the XML import target)
    makes the member usable in MDX WITHOUT a WITH clause — the parser
    applies the schema formula lazily when the statement names it."""
    import dataclasses as dc

    from mondrian_olap_spark.star import CubeEngine

    cube = dc.replace(
        engine.cube,
        dimension_calc_members=(
            ("Current quarter", "[Time]",
             "[Time].[Quarter].CurrentDateMember"),
        ),
    )
    eng = CubeEngine(cube, engine.tables)
    r = execute_mdx(
        eng,
        "SELECT {[Measures].[Sum Qty]} ON COLUMNS, "
        "[Time].[Quarter].Members ON ROWS FROM [Sales]",
    ).df
    # unreferenced: no synthetic row, no resolution cost
    rows = [x for x in r.collect() if x["o_quarter"] == "Current quarter"]
    assert rows == []
    r2 = execute_mdx(
        eng,
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               {[Time].[Quarter].Members, [Time].[Current quarter]}
                 ON ROWS FROM [Sales]
        """,
    ).df
    path = eng.current_date_member("Time", 1)
    by_q = {(x["o_year"], x["o_quarter"]): x["sum_qty"] for x in r2.collect()}
    synth = [v for (y, q), v in by_q.items() if q == "Current quarter"]
    assert len(synth) == 1
    assert synth[0] == by_q[(int(path[0]), path[1])]


def test_currentdatemember_cap_is_position_within_parent(spark):
    """With a Year>Quarter>Month hierarchy reaching today, the month cap
    must be the month's position WITHIN ITS QUARTER ((m-1)%3+1), not the
    absolute month-of-year — the old absolute cap let the walk overshoot
    into a future month of the current quarter."""
    import datetime

    from pyspark.sql import Row

    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure
    from mondrian_olap_spark.star import CubeEngine

    today = datetime.date.today()
    rows = [
        Row(tk=m, y=today.year, q=f"Q{(m - 1) // 3 + 1}", m=m)
        for m in range(1, 13)
    ]
    fact = spark.createDataFrame([Row(fk=r.tk, v=1.0) for r in rows])
    cube = Cube(
        name="Mini",
        fact="f",
        dimensions=(
            Dimension(
                name="Time",
                foreign_key="fk",
                table="d",
                primary_key="tk",
                levels=(
                    Level("Year", "y", level_type="TimeYears"),
                    Level("Quarter", "q", level_type="TimeQuarters"),
                    Level("Month", "m", level_type="TimeMonths"),
                ),
            ),
        ),
        measures=(Measure("V", "v", "sum", output="v_sum"),),
    )
    eng = CubeEngine(cube, {"f": fact, "d": spark.createDataFrame(rows)})
    y, q, m = eng.current_date_member("Time", 2)
    assert int(y) == today.year
    assert q == f"Q{(today.month - 1) // 3 + 1}"
    assert int(m) == today.month


_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_GEN = (
    "SELECT {[Measures].[Sum Qty]} ON COLUMNS, GENERATE("
    "[Customer].[Region].Members, %s) ON ROWS FROM [Sales]"
)
_X = (
    "WITH MEMBER [Measures].[X] AS '%s' SELECT {[Measures].[X]} ON COLUMNS,"
    " [Customer].[Region].Members ON ROWS FROM [Sales]"
)
_OPEN = (
    "WITH MEMBER [Measures].[X] AS '([Measures].[Sum Qty], OpeningPeriod("
    "[Time].[Month], Ancestor(%s, [Time].[Year])))' SELECT {[Measures].[X]}"
    " ON COLUMNS, [Time].[Month].Members ON ROWS FROM [Sales]"
)


@pytest.mark.parametrize(
    "mdx, want",
    [
        # the [Dim].[Dim] hierarchy form is the [Dim] form
        (
            _GEN % "[Customer].[Customer].CurrentMember.Children",
            (_GEN % "[Customer].CurrentMember.Children", 25),
        ),
        (
            _GEN % "[Customer].[Customer].CurrentMember",
            (_GEN % "[Customer].CurrentMember", 5),
        ),
        (_X % "[Customer].[Customer].CurrentMember.Name", _REGIONS),
        (
            _X % 'Generate([Customer].[Region].Members, '
            '[Customer].[Customer].CurrentMember.Name, ",")',
            [",".join(_REGIONS)] * 5,
        ),
        (
            _OPEN % "[Time].[Time].CurrentMember",
            (_OPEN % "[Time].CurrentMember", 80),
        ),
        # string literals are never lowered
        (_X % '"[Customer].CurrentMember.Name"', ["[Customer].CurrentMember.Name"] * 5),
        (
            _X % '"([Measures].[Sum Qty], [Time].PrevMember)"',
            ["([Measures].[Sum Qty], [Time].PrevMember)"] * 5,
        ),
        (_X % '"Sum(Ytd(), x)"', ["Sum(Ytd(), x)"] * 5),
        (_X % '"ParallelPeriod(x)"', ["ParallelPeriod(x)"] * 5),
    ],
)
def test_current_member_forms_lower_once_and_never_in_literals(
    engine, mdx, want
):
    rows = sorted(execute_mdx(engine, mdx).df.collect())
    if isinstance(want, tuple):  # an equivalent statement and its row count
        ref, n = want
        assert len(rows) == n
        assert rows == sorted(execute_mdx(engine, ref).df.collect())
    else:
        assert [r["x"] for r in rows] == want
