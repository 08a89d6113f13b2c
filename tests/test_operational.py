"""Profiling, query timeout, aggregate-table routing, empty-cell expansion
(SURVEY.md §4 operational parity + §1.2 NULL-vs-empty semantics)."""

import pytest
from pyspark.sql import functions as F

from mondrian_olap_spark.query import Query
from mondrian_olap_spark.result import QueryTimeoutError
from mondrian_olap_spark.star import CubeEngine, engine_from_parquet
from mondrian_olap_spark.tpch import SCHEMA

from .conftest import SF_DIR


# ----------------------------------------------------------- profiling
def test_profiling_plan_and_duration(engine):
    engine.flush_schema_cache()  # the cold star plan, not a cache hit
    r = Query(engine).columns("[Measures].[Sum Qty]").rows("[Customer].children").execute()
    assert "HashAggregate" in r.profiling_plan
    r.values  # materialise
    assert r.total_duration is not None and r.total_duration > 0


def test_profiling_plan_is_the_plan_that_ran(spark):
    """``profiling_plan`` prints the plan of the frame the accessors
    collect: on a cache-hit read of a grid moved to the driver, a bare
    ``LocalTableScan`` of the rows already sorted, not the unsorted grid
    nor a sort."""
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng.enable_cache()
    query = Query(eng).columns("[Measures].[Sum Qty]").rows("[Customer].children")
    try:
        query.execute().values  # fills the aggregate cache
        r = query.execute()
        r.values
        plan = r.profiling_plan
        assert eng.cache.hits >= 1
        assert eng.cache.resident_bytes > 0
        assert plan.startswith("LocalTableScan")
        assert "Sort" not in plan and "Coalesce" not in plan and "Exchange" not in plan
    finally:
        eng.flush_schema_cache()


# -------------------------------------------------------------- timeout
def test_timeout_triggers_on_heavy_query(spark, engine):
    """A short timeout cancels a heavy query (query_test.rb:1290-1336)."""
    from mondrian_olap_spark.result import Result

    fact = engine.fact
    heavy_df = (
        fact.crossJoin(fact.select(F.col("l_orderkey").alias("k2")))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
    res = Result(heavy_df, [], ["n"])
    res.timeout = 0.05
    with pytest.raises(QueryTimeoutError):
        res._collect()


def test_timeout_passes_trivial_query(engine):
    r = Query(engine).columns("[Measures].[Sum Qty]").execute(timeout=60)
    assert r.values  # completes well inside the budget


# ------------------------------------------------- aggregate-table routing
def test_materialize_aggregate_helper(spark, tmp_path):
    """materialize_aggregate builds, stores and registers the summary in one
    call; subsequent covered queries route to it (no fact scan)."""
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    summary = eng.materialize_aggregate(
        ["[Customer].[Nation]"],
        measures=["Sum Qty", "Count Order"],
        path=str(tmp_path / "agg_nation_auto"),
    )
    assert set(summary.columns) >= {"region_name", "nation_name", "sum_qty", "count_order"}
    routed = (
        Query(eng)
        .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
        .rows("[Customer].children")
        .execute()
        .df
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan
    fresh = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    expected = {
        r["region_name"]: (r["sum_qty"], r["count_order"])
        for r in Query(fresh)
        .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
        .rows("[Customer].children")
        .execute()
        .df.collect()
    }
    got = {r["region_name"]: (r["sum_qty"], r["count_order"]) for r in routed.collect()}
    assert got == expected  # whole-number sums + counts: exact


def test_materialize_aggregate_checkpoint_default(spark):
    """Without a path the summary is an eager localCheckpoint — still no
    fact scan in routed plans, no files needed."""
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng.materialize_aggregate(["[Customer].[Region]"], measures=["Sum Qty"])
    routed = (
        Query(eng).columns("[Measures].[Sum Qty]").rows("[Customer].children").execute().df
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan


def test_auto_materialize_closes_advisor_loop(spark, tmp_path):
    """advisor.auto_materialize in ONE call: observed query log in →
    recommended summaries built + registered → the covered warm query
    routes with ZERO fact scans; with path_prefix the summaries persist
    as parquet a fresh session can re-register (cross-session half)."""
    from mondrian_olap_spark.advisor import auto_materialize

    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng.__dict__.pop("_query_log", None)
    # warm-up workload recorded by the engine's own ring buffer
    for _ in range(4):
        (Query(eng).columns("[Measures].[Sum Qty]")
         .rows("[Customer].children").execute().df.collect())
    recs = auto_materialize(
        eng, path_prefix=str(tmp_path / "aggs"), measures=["Sum Qty"]
    )
    assert recs and recs[0].levels == ["[Customer].[Region]"]
    assert recs[0].path and recs[0].path.startswith(str(tmp_path))
    routed = (Query(eng).columns("[Measures].[Sum Qty]")
              .rows("[Customer].children").execute().df)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan  # zero fact scans
    # values identical to a fresh unrouted engine
    fresh = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    expected = {r["region_name"]: r["sum_qty"] for r in
                Query(fresh).columns("[Measures].[Sum Qty]")
                .rows("[Customer].children").execute().df.collect()}
    got = {r["region_name"]: r["sum_qty"] for r in routed.collect()}
    assert got == expected
    # cross-session: a NEW engine re-registers the persisted summaries
    # from the manifest in one call — no fact scan, no re-aggregation
    from mondrian_olap_spark.advisor import load_materialized

    eng2 = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    assert load_materialized(eng2, str(tmp_path / "aggs")) == len(recs)
    routed2 = (Query(eng2).columns("[Measures].[Sum Qty]")
               .rows("[Customer].children").execute().df)
    plan2 = routed2._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan2
    assert {r["region_name"]: r["sum_qty"]
            for r in routed2.collect()} == expected
    # explicit-log form bypasses the ring buffer
    eng3 = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    recs3 = auto_materialize(
        eng3, query_log=[["[Customer].[Nation]"]] * 2, measures=["Sum Qty"]
    )
    assert recs3[0].levels == ["[Customer].[Nation]"]
    assert recs3[0].path is None  # in-session checkpoint
    plan3 = (Query(eng3).columns("[Measures].[Sum Qty]")
             .rows("[Customer].[Nation].Members").execute()
             .df._jdf.queryExecution().executedPlan().toString())
    assert "lineitem" not in plan3


def test_refresh_aggregates_incremental_maintenance(spark, tmp_path):
    """Summary maintenance under fact APPEND: materialize from a base
    fact, refresh with only the delta rows, and the routed query must
    equal a full-fact re-materialization — grain keys new in the delta
    included — without the refresh ever scanning the appended fact.
    Both storage forms (checkpoint and parquet path_prefix) round-trip."""
    from mondrian_olap_spark.star import read_parquet_table

    full = read_parquet_table(spark, f"{SF_DIR}/lineitem.parquet")
    base = full.filter("l_orderkey % 10 != 0")
    delta = full.filter("l_orderkey % 10 = 0")
    assert delta.count() > 0

    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng.tables = {**eng.tables, "lineitem": base}
    eng.__init__(eng.cube, eng.tables, eng.parameters, eng.available_roles)
    eng.materialize_aggregate(
        ["[Customer].[Nation]"], measures=["Sum Qty", "Count Order"]
    )
    assert eng.refresh_aggregates(delta) == 1
    routed = (Query(eng)
              .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
              .rows("[Customer].children").execute().df)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan
    fresh = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    expected = {r["region_name"]: (r["sum_qty"], r["count_order"]) for r in
                Query(fresh)
                .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
                .rows("[Customer].children").execute().df.collect()}
    got = {r["region_name"]: (r["sum_qty"], r["count_order"])
           for r in routed.collect()}
    assert got == expected
    # parquet-persisted refresh form
    eng2 = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng2.tables = {**eng2.tables, "lineitem": base}
    eng2.__init__(eng2.cube, eng2.tables, eng2.parameters,
                  eng2.available_roles)
    eng2.materialize_aggregate(["[Customer].[Nation]"],
                               measures=["Sum Qty", "Count Order"])
    assert eng2.refresh_aggregates(
        delta, path_prefix=str(tmp_path / "refreshed")) == 1
    got2 = {r["region_name"]: (r["sum_qty"], r["count_order"]) for r in
            Query(eng2)
            .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
            .rows("[Customer].children").execute().df.collect()}
    assert got2 == expected
    # no registered summaries -> no-op
    assert engine_from_parquet(
        spark, SCHEMA, "Sales", SF_DIR).refresh_aggregates(delta) == 0


def test_refresh_updates_manifest_and_repeats_safely(spark, tmp_path):
    """auto_materialize(path_prefix) → refresh_aggregates(same prefix)
    must (a) survive REPEATED refreshes at the same paths (the merge is
    materialized before overwriting the files it reads) and (b) update
    _agg_manifest.json so a fresh session's load_materialized serves the
    REFRESHED values, never stale pre-refresh parquet."""
    from mondrian_olap_spark.advisor import auto_materialize, load_materialized
    from mondrian_olap_spark.star import read_parquet_table

    full = read_parquet_table(spark, f"{SF_DIR}/lineitem.parquet")
    base = full.filter("l_orderkey % 10 > 1")
    d1 = full.filter("l_orderkey % 10 = 0")
    d2 = full.filter("l_orderkey % 10 = 1")
    prefix = str(tmp_path / "aggs")
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng.__init__(eng.cube, {**eng.tables, "lineitem": base},
                 eng.parameters, eng.available_roles)
    (Query(eng).columns("[Measures].[Sum Qty]")
     .rows("[Customer].children").execute().df.collect())
    auto_materialize(eng, path_prefix=prefix, measures=["Sum Qty"])
    assert eng.refresh_aggregates(d1, path_prefix=prefix) == 1
    assert eng.refresh_aggregates(d2, path_prefix=prefix) == 1  # repeat OK
    # fresh session: manifest points at the refreshed summary
    eng2 = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    assert load_materialized(eng2, prefix) == 1
    routed = (Query(eng2).columns("[Measures].[Sum Qty]")
              .rows("[Customer].children").execute().df)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan
    expected = {r["region_name"]: r["sum_qty"] for r in
                Query(engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR))
                .columns("[Measures].[Sum Qty]")
                .rows("[Customer].children").execute().df.collect()}
    assert {r["region_name"]: r["sum_qty"]
            for r in routed.collect()} == expected


def test_materialize_aggregate_rejects_unrollable(spark):
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    with pytest.raises(ValueError):
        eng.materialize_aggregate(["[Customer].[Region]"], measures=["Avg Qty"])


def test_aggregate_table_routing(spark, tmp_path):
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    base = (
        Query(eng)
        .columns("[Measures].[Sum Price]", "[Measures].[Count Order]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    # materialise the nation-grain aggregate (a lazy DF would still carry
    # the fact scan in its lineage) and register it as a summary table
    summary_path = str(tmp_path / "agg_nation")
    base.write.parquet(summary_path)
    eng.register_aggregate(
        spark.read.parquet(summary_path),
        ["region_name", "nation_name"],
        {"sum_price": "sum", "count_order": "count"},
    )
    routed = (
        Query(eng)
        .columns("[Measures].[Sum Price]", "[Measures].[Count Order]")
        .rows("[Customer].children")
        .execute()
        .df
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan  # served from the summary, not the fact
    fresh = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)  # no summary registered
    expected = {
        r["region_name"]: (r["sum_price"], r["count_order"])
        for r in Query(fresh)
        .columns("[Measures].[Sum Price]", "[Measures].[Count Order]")
        .rows("[Customer].children")
        .execute()
        .df.collect()
    }
    got = {r["region_name"]: (r["sum_price"], r["count_order"]) for r in routed.collect()}
    assert got.keys() == expected.keys()
    for k in got:
        assert got[k][1] == expected[k][1]
        assert abs(got[k][0] - expected[k][0]) < 1e-4


def test_aggregate_table_routes_rollup_totals(spark, tmp_path):
    """totals('rollup') routes to a covering summary table: the grouping-sets
    pass runs over summary rows, no fact scan (schema.rb:374-414 — Mondrian
    routes GROUPING SETS loads to agg tables too)."""
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    base = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    summary_path = str(tmp_path / "agg_nation_rollup")
    base.write.parquet(summary_path)
    eng.register_aggregate(
        spark.read.parquet(summary_path),
        ["region_name", "nation_name"],
        {"sum_qty": "sum"},
    )
    routed = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .totals("rollup")
        .execute()
        .df
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan  # no fact scan in the routed rollup plan
    fresh = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    expected = {
        tuple(r)
        for r in Query(fresh)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .totals("rollup")
        .execute()
        .df
        .collect()
    }
    got = {tuple(r) for r in routed.collect()}
    assert got == expected


def test_aggregate_table_not_used_for_uncovered_grouping(spark):
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    agg = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].children")
        .execute()
        .df
    )
    eng.register_aggregate(agg, ["region_name"], {"sum_price": "sum"})
    # nation grouping is finer than the summary -> must hit the fact
    df = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    assert "lineitem" in df._jdf.queryExecution().executedPlan().toString()


def test_aggregate_table_rejects_unrollable(spark):
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    with pytest.raises(ValueError, match="roll-up-safe"):
        eng.register_aggregate(eng.fact, ["region_name"], {"avg_qty": "avg"})


# ------------------------------------------------------ empty-cell grid
def test_include_empty_expands_axis(engine):
    r = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Supplier].children")
        .crossjoin("[Time].[Year].Members")
        .where("[ReturnFlag].[R]")
        .include_empty()
        .execute()
    )
    rows = r.df.collect()
    nations = {row["supplier_nation"] for row in rows}
    years = {row["o_year"] for row in rows}
    assert len(rows) == len(nations) * len(years)  # full cross product
    # ISEMPTY semantics: empty cells are NULL, not 0
    empties = [row for row in rows if row["sum_qty"] is None]
    nonempty = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Supplier].children")
        .crossjoin("[Time].[Year].Members")
        .where("[ReturnFlag].[R]")
        .execute()
    ).df.count()
    assert len(rows) - len(empties) == nonempty


def test_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """At 100 TB the fact is date-partitioned; a time slicer must prune
    partitions at plan time (PartitionFilters on the scan), not filter
    rows after reading everything."""
    src = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    part_dir = str(tmp_path / "lineitem_by_year")
    src.withColumn("ship_year_part", F.year("l_shipdate")).write.partitionBy(
        "ship_year_part"
    ).parquet(part_dir)

    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure
    from mondrian_olap_spark.query import Query
    from mondrian_olap_spark.star import CubeEngine

    cube = Cube(
        name="PartSales",
        fact="lineitem_p",
        dimensions=(
            Dimension(
                name="ShipYear",
                levels=(Level("Year", "ship_year_part", output="ship_year_p"),),
            ),
        ),
        measures=(Measure("Sum Qty", "l_quantity", "sum", output="sum_qty"),),
    )
    eng = CubeEngine(cube, {"lineitem_p": spark.read.parquet(part_dir)})
    df = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .where("[ShipYear].[1996]")
        .execute()
        .df
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "1996" in plan.split("PartitionFilters", 1)[1][:200]
    # and the answer matches the unpartitioned scan
    expected = src.filter(F.year("l_shipdate") == 1996).agg(
        F.sum("l_quantity").alias("s")
    ).collect()[0]["s"]
    assert df.collect()[0]["sum_qty"] == expected


def test_materialize_aggregate_rejects_role_scoped_engine(spark):
    """A summary materialised through a role-scoped engine would bake the
    role's row filters into a table served role-agnostically to everyone
    (ADVICE r2 medium): refuse outright."""
    import dataclasses

    from mondrian_olap_spark.roles import MemberGrant, Role

    asia = Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    eng = engine_from_parquet(
        spark, dataclasses.replace(SCHEMA, roles=(asia,)), "Sales", SF_DIR
    )
    eng.set_role_name("asia")
    with pytest.raises(PermissionError, match="role-scoped"):
        eng.materialize_aggregate(["[Customer].[Region]"], measures=["Sum Qty"])
    eng.set_role_name()
    eng.materialize_aggregate(["[Customer].[Region]"], measures=["Sum Qty"])


def test_aggregate_pattern_recognition(spark, tmp_path):
    """AggPattern analog (schema.rb:374-414; schema_definition_test.rb:
    716-775): tables matching the name regex auto-register at the grain of
    whichever declared level columns they carry; AggExclude names skip."""
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    nation = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df.selectExpr(
            "region_name AS r", "nation_name AS n", "sum_price AS sp"
        )
    )
    region = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Region].Members")
        .execute()
        .df.selectExpr("region_name AS r", "sum_price AS sp")
    )
    nation.write.parquet(str(tmp_path / "agg_n"))
    region.write.parquet(str(tmp_path / "agg_r"))
    tables = dict(eng.tables)
    tables["agg_02_nation_sales"] = spark.read.parquet(str(tmp_path / "agg_n"))
    tables["agg_01_region_sales"] = spark.read.parquet(str(tmp_path / "agg_r"))
    tables["agg_99_skip_sales"] = tables["agg_01_region_sales"]
    eng2 = CubeEngine(SCHEMA.cube("Sales"), tables)
    got = eng2.register_aggregate_pattern(
        r"agg_.*_sales",
        levels={"[Customer].[Region]": "r", "[Customer].[Nation]": "n"},
        measures={"Sum Price": "sp"},
        exclude=("agg_99_skip_sales",),
    )
    assert sorted(got) == ["agg_01_region_sales", "agg_02_nation_sales"]
    # grains inferred per table from present columns
    grains = sorted(tuple(t[1]) for t in eng2.aggregate_tables)
    assert grains == [("region_name",), ("region_name", "nation_name")]
    routed = (
        Query(eng2)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].children")
        .execute()
        .df
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan  # served from a recognized summary
    expected = {
        r["region_name"]: r["sum_price"]
        for r in Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].children")
        .execute()
        .df.collect()
    }
    gotvals = {r["region_name"]: r["sum_price"] for r in routed.collect()}
    assert gotvals.keys() == expected.keys()
    for k in gotvals:
        assert abs(gotvals[k] - expected[k]) < 1e-6


def test_aggregate_pattern_validates_before_registering(spark):
    """A typo'd measure name in the declaration raises with NOTHING
    registered, and non-rollup-safe measures are skipped per table
    instead of aborting mid-loop (review fix)."""
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    agg = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Region].Members")
        .execute()
        .df.selectExpr("region_name AS r", "sum_price AS sp")
    )
    tables = dict(eng.tables)
    tables["agg_a_sales"] = agg
    tables["agg_b_sales"] = agg
    eng2 = CubeEngine(SCHEMA.cube("Sales"), tables)
    with pytest.raises(KeyError):
        eng2.register_aggregate_pattern(
            r"agg_.*_sales",
            levels={"[Customer].[Region]": "r"},
            measures={"Sum Price": "sp", "No Such Measure": "zz"},
        )
    assert eng2.aggregate_tables == []  # nothing half-registered
    # avg measures are skipped (never roll up from summaries), not fatal
    got = eng2.register_aggregate_pattern(
        r"agg_.*_sales",
        levels={"[Customer].[Region]": "r"},
        measures={"Sum Price": "sp", "Avg Price": "sp"},
    )
    assert sorted(got) == ["agg_a_sales", "agg_b_sales"]
    assert all(t[2] == {"sum_price": "sum"} for t in eng2.aggregate_tables)


def test_statement_cache_bounded_and_stale_evicted(spark):
    """_STATEMENTS is a bounded LRU that drops dead-session entries on
    sight — long-lived processes creating many sessions must not pin
    sessions or plans forever."""
    from mondrian_olap_spark import suite

    saved = dict(suite._STATEMENTS)
    suite._STATEMENTS.clear()
    try:
        calls = []

        def fake(sp, sf):
            calls.append(sf)
            return object()

        cached = None

        def deco_capture():
            nonlocal cached
            prev = suite.QUERIES.get("__evict_probe")
            suite.q("__evict_probe")(fake)
            cached = suite.QUERIES.pop("__evict_probe")
            if prev is not None:
                suite.QUERIES["__evict_probe"] = prev

        deco_capture()
        r1 = cached(spark, "sf-a")
        assert cached(spark, "sf-a") is r1 and calls == ["sf-a"]
        # stale-session entry is evicted, not pinned: same key id, new obj
        key = ("__evict_probe", id(spark), "sf-a")
        ghost = object()
        suite._STATEMENTS[key] = (ghost, r1)
        r2 = cached(spark, "sf-a")
        assert r2 is not r1 and suite._STATEMENTS[key][0] is spark
        # size cap: inserting past the max evicts the oldest entries
        for i in range(suite._STATEMENTS_MAX + 10):
            cached(spark, f"sf-{i}")
        assert len(suite._STATEMENTS) <= suite._STATEMENTS_MAX
    finally:
        suite._STATEMENTS.clear()
        suite._STATEMENTS.update(saved)


def test_profiling_golden_parity(engine):
    """Golden profiling parity (test/query_test.rb:1228-1263): the plan
    text pins the physical operator skeleton of a 1-axis query (the way
    the reference pins its calc tree), the timing string matches the
    reference's exact line shape with invoked counts, and total_duration
    is positive."""
    import re

    engine.flush_schema_cache()  # the cold star plan, not a cache hit
    r = (
        Query(engine)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].children")
        .where("[Time].[1995].[Q1]")
        .execute()
    )
    r.values  # materialise (records the Segment.load timer)

    # --- plan golden: operator skeleton, exprIds/codegen ids normalized
    ops = re.findall(r"(?m)^[\s:+*(\d)-]*([A-Za-z][A-Za-z]+)", r.profiling_plan)
    # the skeleton a star query must compile to: hash aggregation over a
    # broadcast star join reading parquet — and never a cartesian product
    for needed in ("HashAggregate", "BroadcastHashJoin", "Scan"):
        assert any(needed in o for o in ops), (needed, ops)
    assert not any("CartesianProduct" in o for o in ops)
    # the slicer predicate reaches the scan (pushdown visible in plan text)
    assert "PushedFilters" in r.profiling_plan

    # --- timing string: the reference's exact line shape
    line = r.profiling_timing_string.strip().splitlines()[0]
    assert re.fullmatch(
        r"SparkCollect-Segment\.load invoked 1 times for total of \d+ms\."
        r"  \(Avg\. \d+ms/invocation\)",
        line,
    ), line
    # repeat access does not re-invoke the load (statement reuse parity:
    # Mondrian's warm repeat query does 0 SQL)
    r.values
    assert "invoked 1 times" in r.profiling_timing_string

    # --- custom timer (query_test.rb:1252-1257 custom profiling handler)
    r.record_timing("MDX query time", 100)
    assert re.search(
        r"^MDX query time invoked 1 times for total of 100ms\."
        r"  \(Avg\. 100ms/invocation\)$",
        r.profiling_timing_string,
        re.M,
    )
    assert r.total_duration > 0


# ------------------------------------------- role x cache x routing audit
def _region_totals(eng, **kw):
    q = Query(eng).columns("[Measures].[Sum Price]").rows("[Customer].children")
    return {r["region_name"]: r["sum_price"] for r in q.execute().df.collect()}


def test_role_switch_flushes_warm_cache(spark):
    """In-place role switches flush the aggregate cache (its key has no
    role component): a warm full-access cell must never serve a
    restricted role, and vice versa on clearing."""
    from mondrian_olap_spark.roles import MemberGrant, Role

    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng.available_roles = (
        Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),)),
    )
    eng.enable_cache()
    full = _region_totals(eng)
    assert len(full) == 5 and len(eng.cache) > 0
    eng.set_role_name("asia")
    assert len(eng.cache) == 0  # flushed on switch
    restricted = _region_totals(eng)
    assert set(restricted) == {"ASIA"}
    assert restricted["ASIA"] == pytest.approx(full["ASIA"])
    eng.set_role_name()  # clear — must flush the role-scoped cells too
    assert len(eng.cache) == 0
    assert _region_totals(eng).keys() == full.keys()


def test_with_role_clone_never_shares_cache(spark):
    """with_role() clones drop the cache reference entirely — the clone
    cannot read the parent's cells and cannot poison them."""
    from mondrian_olap_spark.roles import MemberGrant, Role

    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng.enable_cache()
    full = _region_totals(eng)
    warm = len(eng.cache)
    clone = eng.with_role(
        Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    )
    assert clone.cache is None
    assert set(_region_totals(clone)) == {"ASIA"}
    # parent cache untouched and still serving full-access cells
    assert len(eng.cache) == warm
    assert _region_totals(eng).keys() == full.keys()


def test_routing_applies_role_predicates(spark, tmp_path):
    """A role-scoped query that routes to a summary table must filter the
    summary rows by the role's grants — never serve unrestricted summary
    cells."""
    from mondrian_olap_spark.roles import MemberGrant, Role

    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    base = (
        Query(eng).columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members").execute().df
    )
    path = str(tmp_path / "agg_nation_roles")
    base.write.parquet(path)
    eng.register_aggregate(
        spark.read.parquet(path), ["region_name", "nation_name"],
        {"sum_price": "sum"},
    )
    scoped = eng.with_role(
        Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    )
    df = (
        Query(scoped).columns("[Measures].[Sum Price]")
        .rows("[Customer].children").execute().df
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan  # still routed to the summary
    got = {r["region_name"]: r["sum_price"] for r in df.collect()}
    fresh = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR).with_role(
        Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    )
    expected = _region_totals(fresh)
    assert set(got) == {"ASIA"} and got["ASIA"] == pytest.approx(expected["ASIA"])


def test_routing_skips_summary_below_grant_depth(spark, tmp_path):
    """A role grant DEEPER than a summary table's grain makes the table
    non-covering (the grant predicate needs columns the summary lacks):
    the planner must fall back to the fact, not under-filter."""
    from mondrian_olap_spark.roles import MemberGrant, Role

    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    region_summary = (
        Query(eng).columns("[Measures].[Sum Price]")
        .rows("[Customer].children").execute().df
    )
    path = str(tmp_path / "agg_region_only")
    region_summary.write.parquet(path)
    eng.register_aggregate(
        spark.read.parquet(path), ["region_name"], {"sum_price": "sum"}
    )
    scoped = eng.with_role(
        Role("nation13", grants=(MemberGrant("Customer", ("EUROPE", "NATION_13")),))
    )
    df = (
        Query(scoped).columns("[Measures].[Sum Price]")
        .rows("[Customer].children").execute().df
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" in plan  # fell back to the fact — not under-filtered
    got = {r["region_name"]: r["sum_price"] for r in df.collect()}
    full = _region_totals(engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR))
    assert set(got) == {"EUROPE"} and got["EUROPE"] < full["EUROPE"]


def test_pattern_register_then_role_switch_then_query(spark, tmp_path):
    """The full 3-way combination: warm cache -> pattern registration ->
    in-place role switch -> query.  The answer must be the role-restricted
    cells (served via the pattern-matched summary with the grant applied),
    never the warm unrestricted cells."""
    from mondrian_olap_spark.roles import MemberGrant, Role

    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng.available_roles = (
        Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),)),
    )
    eng.enable_cache()
    full = _region_totals(eng)  # warms the cache with unrestricted cells
    nation = (
        Query(eng).columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members").execute().df
    )
    nation.write.parquet(str(tmp_path / "agg_sales_nation"))
    eng.tables["agg_sales_nation"] = spark.read.parquet(
        str(tmp_path / "agg_sales_nation")
    )
    registered = eng.register_aggregate_pattern(
        r"agg_sales_.*",
        {"[Customer].[Region]": "region_name", "[Customer].[Nation]": "nation_name"},
        {"Sum Price": "sum_price"},
    )
    assert registered == ["agg_sales_nation"]
    eng.set_role_name("asia")
    restricted = _region_totals(eng)
    assert set(restricted) == {"ASIA"}
    assert restricted["ASIA"] == pytest.approx(full["ASIA"])


def test_aggregate_advisor_recommendations(engine):
    """View-selection advisor: candidates score by benefit-per-row, a
    deeper grain covers coarser logged queries, budgets and the
    compression floor prune, and the top pick plugs straight into
    materialize_aggregate."""
    from mondrian_olap_spark.advisor import recommend_aggregates

    log = (
        [["[Customer].[Region]"]] * 5
        + [["[Customer].[Nation]", "[Time].[Quarter]"]] * 3
        + [["[Part].[Part]"]] * 1
    )
    recs = recommend_aggregates(engine, log)
    # region wins on benefit-per-row; the other two follow in
    # cardinality-dependent order
    assert recs[0].levels == ["[Customer].[Region]"]
    assert {tuple(r.levels) for r in recs} == {
        ("[Customer].[Region]",),
        ("[Customer].[Nation]", "[Time].[Quarter]"),
        ("[Part].[Part]",),
    }
    assert recs[0].est_rows == 5 and recs[0].queries_covered == 5
    # tiny-grain candidates excluded by budget: the deeper grain then
    # covers the coarser region queries too (rollup routing)
    budgeted = recommend_aggregates(engine, log, max_total_rows=4)
    assert budgeted == []
    nq_only = recommend_aggregates(
        engine,
        [["[Customer].[Nation]", "[Time].[Quarter]"]] * 3
        + [["[Customer].[Region]"]] * 5,
        top=1,
        max_total_rows=1000,
    )
    # region (5 rows) wins on benefit-per-row even here
    assert nq_only[0].levels == ["[Customer].[Region]"]
    assert recommend_aggregates(engine, []) == []
    # end-to-end: materialize the top pick and the routed query matches
    # the direct fact aggregation
    import dataclasses  # noqa: F401
    eng2 = engine.clone() if hasattr(engine, "clone") else engine
    direct = (
        Query(eng2).columns("[Measures].[Sum Qty]")
        .rows("[Customer].children").execute().df.collect()
    )
    eng2.materialize_aggregate(recs[0].levels)
    routed = (
        Query(eng2).columns("[Measures].[Sum Qty]")
        .rows("[Customer].children").execute().df.collect()
    )
    assert sorted(map(tuple, routed)) == sorted(map(tuple, direct))


def test_advisor_from_engine_query_log(engine):
    """Queries self-record their grains; recommend_from_engine advises
    from the engine's own ring buffer with no external log."""
    from mondrian_olap_spark.advisor import recommend_from_engine

    eng = engine
    eng.__dict__.pop("_query_log", None)
    assert recommend_from_engine(eng) == []
    for _ in range(4):
        (Query(eng).columns("[Measures].[Sum Qty]")
         .rows("[Customer].children").execute().df.collect())
    (Query(eng).columns("[Measures].[Sum Qty]")
     .rows("[Customer].[Nation].Members")
     .crossjoin("[Time].[Quarter].Members").execute().df.collect())
    recs = recommend_from_engine(eng)
    assert recs and recs[0].levels == ["[Customer].[Region]"]
    assert recs[0].queries_covered == 4
    grains = {tuple(r.levels) for r in recs}
    assert ("[Customer].[Nation]", "[Time].[Quarter]") in grains
    eng.__dict__.pop("_query_log", None)  # leave the shared engine clean


def test_refresh_preflight_validates_measure_outputs(spark, tmp_path):
    """refresh_aggregates is all-or-nothing: a hand-registered summary
    whose measure output matches no cube measure fails the PRE-FLIGHT
    (descriptive ValueError, not a mid-loop KeyError), before any other
    summary is refreshed or any parquet written."""
    from mondrian_olap_spark.star import read_parquet_table

    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng.materialize_aggregate(["[Customer].[Nation]"], measures=["Sum Qty"])
    bogus = spark.createDataFrame(
        [("AFRICA", 1.0)], "region_name string, bogus_total double"
    )
    eng.register_aggregate(bogus, ["region_name"], {"bogus_total": "sum"})
    delta = read_parquet_table(
        spark, f"{SF_DIR}/lineitem.parquet"
    ).limit(10)
    prefix = tmp_path / "refreshed"
    with pytest.raises(ValueError, match="summary measure output"):
        eng.refresh_aggregates(delta, path_prefix=str(prefix))
    # nothing was refreshed: no parquet written anywhere under the prefix
    assert not prefix.exists()


def test_auto_materialize_merges_manifest_across_runs(spark, tmp_path):
    """Periodic re-advising against the SAME path_prefix extends the
    manifest instead of replacing it: both runs' summaries register in a
    fresh session, path indexes never collide, and re-recommending an
    already-materialized grain replaces its entry rather than
    duplicating it."""
    import json

    from mondrian_olap_spark.advisor import (
        auto_materialize, load_materialized,
    )

    prefix = str(tmp_path / "aggs")
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    r1 = auto_materialize(
        eng, query_log=[["[Customer].[Region]"]] * 2,
        path_prefix=prefix, measures=["Sum Qty"],
    )
    r2 = auto_materialize(
        eng, query_log=[["[Customer].[Nation]"]] * 2,
        path_prefix=prefix, measures=["Sum Qty"],
    )
    assert r1[0].path != r2[0].path
    manifest_path = tmp_path / "aggs" / "_agg_manifest.json"
    manifest = json.loads(manifest_path.read_text())
    assert len(manifest["aggregates"]) == 2
    assert len({e["path"] for e in manifest["aggregates"]}) == 2
    # fresh session registers BOTH runs' summaries
    eng2 = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    assert load_materialized(eng2, prefix) == 2
    routed = (Query(eng2).columns("[Measures].[Sum Qty]")
              .rows("[Customer].[Nation].Members").execute().df)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan
    # re-advising the SAME grain replaces its entry (no duplicates), at
    # a fresh non-colliding path index
    r3 = auto_materialize(
        eng, query_log=[["[Customer].[Region]"]] * 2,
        path_prefix=prefix, measures=["Sum Qty"],
    )
    manifest = json.loads(manifest_path.read_text())
    assert len(manifest["aggregates"]) == 2
    assert r3[0].path in {e["path"] for e in manifest["aggregates"]}
    assert r3[0].path != r1[0].path


def test_concurrent_queries_through_shared_engine(spark):
    """Concurrent-session safety (the reference pools concurrent
    connections against one shared schema — connection.rb:157-181): two
    threads drive 50 queries each through ONE cached engine; every
    result is correct, the shared aggregate cache serves both threads
    without corruption, and the cache's stats remain coherent (hits +
    misses + rollups == lookups)."""
    import threading

    from mondrian_olap_spark.tpch import get_engine

    eng = get_engine(spark, SF_DIR)
    eng.cache.flush_all()
    expected_nations = {
        r["nation_name"]: r["sum_qty"] for r in
        Query(eng).columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members").execute().df.collect()
    }
    expected_regions = {
        r["region_name"]: r["sum_qty"] for r in
        Query(eng).columns("[Measures].[Sum Qty]")
        .rows("[Customer].children").execute().df.collect()
    }
    slicers = ["[Customer].[AFRICA]", "[Customer].[ASIA]",
               "[Customer].[EUROPE]", "[Customer].[AMERICA]",
               "[Customer].[MIDDLE EAST]"]
    errors: list = []

    def worker(tid: int) -> None:
        try:
            for i in range(50):
                kind = (tid + i) % 3
                if kind == 0:
                    got = {r["nation_name"]: r["sum_qty"] for r in
                           Query(eng).columns("[Measures].[Sum Qty]")
                           .rows("[Customer].[Nation].Members")
                           .execute().df.collect()}
                    assert got == expected_nations
                elif kind == 1:
                    got = {r["region_name"]: r["sum_qty"] for r in
                           Query(eng).columns("[Measures].[Sum Qty]")
                           .rows("[Customer].children")
                           .execute().df.collect()}
                    assert got == expected_regions
                else:
                    region = slicers[i % len(slicers)]
                    got = (Query(eng).columns("[Measures].[Sum Qty]")
                           .where(region).execute().df.collect())
                    key = region.split("[")[-1].rstrip("]")
                    assert got[0]["sum_qty"] == expected_regions[key]
        except Exception as e:  # surfaced below — thread exceptions
            errors.append((tid, repr(e)))

    threads = [threading.Thread(target=worker, args=(t,)) for t in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    c = eng.cache
    assert c.hits + c.misses + c.rollups >= 100  # every query hit the cache layer
    assert len(c) <= c.max_entries
