"""Aggregate-cache behavior tests — ports the *shape* of the reference's
cache-control suite (/root/reference/test/cube_cache_control_test.rb:79-219
and query_test.rb:1162-1213): warm queries don't rescan the fact, data
mutations stay invisible until a flush, region flush is targeted.
"""

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from mondrian_olap_spark.query import Query
from mondrian_olap_spark.star import CubeEngine, engine_from_parquet
from mondrian_olap_spark.tpch import SCHEMA

from .conftest import SF_DIR


@pytest.fixture()
def cached_engine(spark):
    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng.enable_cache()
    yield eng
    eng.flush_schema_cache()


def _q(eng, *, where=()):
    q = (
        Query(eng)
        .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
        .rows("[Customer].children")
    )
    if where:
        q = q.where(*where)
    return q.execute().df


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_warm_query_hits_cache_not_fact(cached_engine):
    cold = _q(cached_engine)
    cold_rows = {r["region_name"]: r["sum_qty"] for r in cold.collect()}
    assert cached_engine.cache.misses == 1

    warm = _q(cached_engine)
    warm_rows = {r["region_name"]: r["sum_qty"] for r in warm.collect()}
    assert warm_rows == cold_rows
    assert cached_engine.cache.hits == 1
    # the first hit moved the grid's few rows to the driver: the warm plan
    # reads them locally, with neither a fact scan nor the cached star plan
    # (reference: repeated query does 0 SQL — query_test.rb:1162-1213)
    p = plan_of(warm)
    assert "LocalTableScan" in p
    assert "Scan parquet" not in p and "InMemoryTableScan" not in p


_RATIO_READ = (
    "WITH MEMBER [Measures].[Price Per Unit] AS "
    "'[Measures].[Sum Price] / [Measures].[Sum Qty]' "
    "SELECT {[Measures].[Sum Qty], [Measures].[Sum Price], "
    "[Measures].[Price Per Unit]} ON COLUMNS, "
    "[Customer].[Nation].Members ON ROWS FROM [Sales] WHERE [Time].[1995]"
)
_ORDER_READ = (
    "SELECT {[Measures].[Sum Qty], [Measures].[Count Order]} ON COLUMNS, "
    "Order(Filter([Part].[Brand].Members, [Measures].[Sum Qty] > 5000), "
    "[Measures].[Sum Qty], BDESC) ON ROWS FROM [Sales]"
)
_TOPCOUNT_READ = (
    "SELECT {[Measures].[Sum Price]} ON COLUMNS, "
    "TopCount([Customer].[Nation].Members, 5, [Measures].[Sum Price]) "
    "ON ROWS FROM [Sales] WHERE [Time].[1995]"
)


def _drilldown_read(e):
    return (
        Query(e).columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Region].Members").drilldown("[Customer].[ASIA]")
        .hierarchize(post=True).execute()
    )


def _jobs_of(spark, read):
    """``(read(), number of Spark jobs it started)``."""
    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "read, jobs",
    [
        (lambda e: e.execute(_RATIO_READ), 0),
        (lambda e: e.execute(_ORDER_READ), 0),
        (_drilldown_read, 0),
        # TopCount's rank window and limit are not folded over local rows:
        # they and the final sort run in one task
        (lambda e: e.execute(_TOPCOUNT_READ), 1),
    ],
    ids=["level_axis_ratio", "order_filter_bdesc", "drilldown_union", "topcount"],
)
def test_cache_hit_read_job_count(spark, cached_engine, read, jobs):
    """A repeated read is answered from the aggregate cache, which moved
    the grid to the driver on its first hit.  A read that plans as a sort
    over those local rows (a drill-down over two grids: over their union)
    runs no Spark job (Mondrian: a warm repeat runs no SQL,
    query_test.rb:1162-1213); TopCount's window keeps one job, with no
    range-partitioning sample or shuffle."""
    read(cached_engine).formatted_values  # fills the aggregate cache
    res = read(cached_engine)  # its hit moves the grid to the driver
    _, n = _jobs_of(spark, lambda: res.formatted_values)
    assert cached_engine.cache.hits >= 1 and cached_engine.cache.resident_bytes > 0
    assert n == jobs
    # the read plans over local rows, with no Exchange (shuffle or
    # broadcast) left
    assert "Exchange" not in plan_of(res.df)


def test_drilldown_read_sorts_a_union_of_resident_grids(cached_engine):
    """A drill-down read over two resident grids plans as a sort over
    their union, and is served as one bare ``LocalTableScan``."""
    _drilldown_read(cached_engine).df.collect()  # fills the aggregate cache
    res = _drilldown_read(cached_engine)  # its hits move both grids
    unsorted = res._df.orderBy(*res.order_spec)._jdf.queryExecution().optimizedPlan()
    assert unsorted.nodeName() == "Sort" and unsorted.child().nodeName() == "Union"
    assert plan_of(res.df).startswith("LocalTableScan")


#: cache-hit grid shapes whose order the job-free sort must keep
_SORTED_SHAPES = {
    "hierarchize_rows_and_columns": lambda e: (
        Query(e).columns("[LineStatus].children", "[Measures].[Sum Qty]")
        .rows("[ReturnFlag].children").execute()
    ),
    "order_bdesc": lambda e: e.execute(_ORDER_READ),
    "hierarchical_order_asc": lambda e: e.execute(
        "SELECT {[Measures].[Sum Qty]} ON COLUMNS, "
        "Order([Customer].[Nation].Members, [Measures].[Sum Qty], ASC) "
        "ON ROWS FROM [Sales]"
    ),
    "hierarchize_post_drilldown": _drilldown_read,
    "rollup_totals": lambda e: (
        Query(e).columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Region].Members").totals("rollup").execute()
    ),
}


@pytest.mark.parametrize("shape", list(_SORTED_SHAPES))
def test_single_task_sort_matches_distributed_sort(spark, cached_engine, shape):
    """A resident cache-hit read, sorted on the driver with no job, returns
    the rows and order of the same grid sorted by Spark's
    range-partitioned ``orderBy``."""
    read = _SORTED_SHAPES[shape]
    read(cached_engine).df.collect()  # fills the aggregate cache
    res = read(cached_engine)  # its hit moves the grid to the driver
    rows, n = _jobs_of(spark, res.df.collect)
    distributed = res._df.orderBy(*res.order_spec)
    assert n == 0
    assert rows == distributed.collect()
    assert plan_of(res.df).startswith("LocalTableScan")
    assert "rangepartitioning" in plan_of(distributed)


#: keys and measures whose order Catalyst defines: NULLs, NaN (above every
#: double), -0.0 equal to 0.0, decimals and strings.  ``id`` breaks ties,
#: so a sort that put -0.0 before 0.0 would show.
_EDGE_ROWS = """
SELECT * FROM VALUES
  (1, CAST(NULL AS DOUBLE), CAST(2.50 AS DECIMAL(10, 2)), 'b'),
  (2, CAST('NaN' AS DOUBLE), CAST(NULL AS DECIMAL(10, 2)), 'a'),
  (3, CAST(0.0 AS DOUBLE), CAST(-1.25 AS DECIMAL(10, 2)), CAST(NULL AS STRING)),
  (4, CAST('-0.0' AS DOUBLE), CAST(10.00 AS DECIMAL(10, 2)), 'B'),
  (5, CAST(-3.5 AS DOUBLE), CAST(2.50 AS DECIMAL(10, 2)), ''),
  (6, CAST('NaN' AS DOUBLE), CAST(-1.25 AS DECIMAL(10, 2)), 'b'),
  (7, CAST(1e300 AS DOUBLE), CAST(NULL AS DECIMAL(10, 2)), 'ab'),
  (8, CAST(NULL AS DOUBLE), CAST(0.00 AS DECIMAL(10, 2)), 'a')
AS t(id, v, d, s)
"""


@pytest.mark.parametrize(
    "spec",
    [
        [("v", "asc_nulls_first"), ("id", "asc")],
        [("v", "asc_nulls_last"), ("id", "asc")],
        [("v", "desc_nulls_first"), ("id", "asc")],
        [("v", "desc_nulls_last"), ("id", "asc")],
        [("d", "asc_nulls_first"), ("s", "desc_nulls_last"), ("id", "asc")],
        [("d", "desc_nulls_last"), ("v", "desc_nulls_first"), ("id", "asc")],
        [("s", "asc_nulls_last"), ("d", "asc_nulls_first"), ("id", "asc")],
        [("s", "desc_nulls_first"), ("id", "asc")],
    ],
    ids=[
        "v_asc_nulls_first", "v_asc_nulls_last", "v_desc_nulls_first",
        "v_desc_nulls_last", "d_asc_s_desc", "d_desc_v_desc", "s_asc_d_asc",
        "s_desc_nulls_first",
    ],
)
def test_driver_sort_matches_executed_sort(spark, spec):
    """``Result.df`` over local rows orders them with no Spark job, exactly
    as Spark's executed, range-partitioned sort of the same rows does."""
    from mondrian_olap_spark.result import Result

    spec = [getattr(F.col(c), how)() for c, how in spec]
    local = spark.sql(_EDGE_ROWS)
    res = Result(local, [], ["v"], sort_spec=spec)
    rows, n = _jobs_of(spark, res.df.collect)
    executed = local.repartition(3).orderBy(*spec)
    assert n == 0 and plan_of(res.df).startswith("LocalTableScan")
    assert "rangepartitioning" in plan_of(executed)
    assert res.df.schema == local.schema
    # repr tells NaN (never == itself) and -0.0 from 0.0 apart
    assert [tuple(map(repr, r)) for r in rows] == [
        tuple(map(repr, r)) for r in executed.collect()
    ]


@pytest.mark.parametrize("shape", list(_SORTED_SHAPES))
def test_resident_hit_matches_cold_read(cached_engine, shape):
    """A read served from rows moved to the driver has the cold read's
    schema (decimal precision, nullability) and its rows in its order."""
    read = _SORTED_SHAPES[shape]
    cold = read(cached_engine).df
    cold_schema, cold_rows = cold.schema, cold.collect()
    read(cached_engine).df.collect()  # first hit: moves the grid
    resident = read(cached_engine).df
    assert cached_engine.cache.resident_bytes > 0
    assert "InMemoryTableScan" not in plan_of(resident)
    assert resident.schema == cold_schema
    assert resident.collect() == cold_rows


@pytest.mark.parametrize("limit", ["-1", "10b"], ids=["off", "below_grid"])
def test_driver_move_respects_broadcast_threshold(spark, cached_engine, limit):
    """``spark.sql.autoBroadcastJoinThreshold`` bounds the bytes moved to
    the driver: switched off, or smaller than the grid, every hit keeps
    reading the executor-held relation, with the same rows."""
    cold = _q(cached_engine).collect()
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, limit)
    try:
        for _ in range(2):
            warm = _q(cached_engine)
            assert warm.collect() == cold
    finally:
        spark.conf.set(key, old)
    assert cached_engine.cache.hits == 2
    assert cached_engine.cache.resident_bytes == 0
    assert "InMemoryTableScan" in plan_of(warm)


def test_flushes_release_driver_bytes(spark, cached_engine):
    """``resident_bytes`` rises when a hit moves a grid to the driver and
    falls to 0 on a whole flush, a region flush and an LRU eviction."""
    cache = cached_engine.cache
    _q(cached_engine).collect()
    assert cache.resident_bytes == 0  # a miss keeps the grid on executors
    _q(cached_engine).collect()
    assert cache.resident_bytes > 0
    assert cached_engine.flush_schema_cache() == 1
    assert cache.resident_bytes == 0

    for _ in range(2):
        _q(cached_engine, where=("[Customer].[ASIA]",)).collect()
    assert cache.resident_bytes > 0
    assert cached_engine.flush_region_cache(["[Customer].[ASIA]"]) == 1
    assert cache.resident_bytes == 0

    from mondrian_olap_spark.cache import AggregateCache

    lru = AggregateCache(max_entries=1)
    first = lru.get_or_build(("k", 0), [], lambda: spark.range(4).toDF("v"))
    first.collect()  # materializes the cached relation
    lru.get_or_build(("k", 0), [], lambda: spark.range(4).toDF("v"))
    assert lru.resident_bytes > 0
    lru.get_or_build(("k", 1), [], lambda: spark.range(2).toDF("v"))
    assert lru.evictions == 1 and lru.resident_bytes == 0
    lru.flush_all()


def test_rollup_from_resident_source_matches_fact_rescan(cached_engine):
    """A coarser request rolled up from a driver-resident finer grid
    equals the same request computed from the fact table."""
    def nations():
        return Query(cached_engine).columns(
            "[Measures].[Sum Qty]", "[Measures].[Sum Price]"
        ).rows("[Customer].[Nation].Members").execute().df.collect()

    def regions():
        return {
            r["region_name"]: r
            for r in Query(cached_engine).columns(
                "[Measures].[Sum Qty]", "[Measures].[Sum Price]"
            ).rows("[Customer].children").execute().df.collect()
        }

    nations()
    nations()  # first hit: moves the nation grid
    assert cached_engine.cache.resident_bytes > 0
    rolled = regions()
    assert cached_engine.cache.rollups == 1 and cached_engine.cache.misses == 1
    cached_engine.flush_schema_cache()
    rescanned = regions()
    assert cached_engine.cache.misses == 2
    assert rolled.keys() == rescanned.keys()
    for k, r in rescanned.items():
        assert rolled[k]["sum_price"] == r["sum_price"]
        assert abs(rolled[k]["sum_qty"] - r["sum_qty"]) < 1e-6


def test_concurrent_first_hits_move_once(cached_engine):
    """Several threads' first hits on one entry return identical rows and
    leave that one entry resident."""
    import threading

    cold = _q(cached_engine).collect()
    start = threading.Barrier(4)
    results, errors = [], []

    def hit():
        try:
            start.wait()
            results.append(_q(cached_engine).collect())
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=hit) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert results == [cold] * 4
    assert len(cached_engine.cache) == 1
    assert cached_engine.cache.resident_bytes > 0


def test_cold_reads_keep_the_distributed_sort(cached_engine):
    """The size gate keeps cold grids on Spark's distributed sort: before
    the aggregate cache holds the grid, its size estimate is that of the
    star scans.  A TopCount grid is already in one partition, so its plan
    has neither a range shuffle nor a coalesce, cold or warm."""
    cached_engine.flush_schema_cache()
    cold = plan_of(cached_engine.execute(_RATIO_READ).df)
    assert "Exchange rangepartitioning" in cold and "Coalesce" not in cold
    for _ in range(2):
        top = cached_engine.execute(_TOPCOUNT_READ).df
        plan = plan_of(top)
        assert "rangepartitioning" not in plan and "Coalesce" not in plan
        top.collect()


def test_distinct_slicers_are_distinct_entries(cached_engine):
    _q(cached_engine, where=("[Customer].[ASIA]",)).collect()
    _q(cached_engine, where=("[Customer].[EUROPE]",)).collect()
    assert cached_engine.cache.misses == 2
    assert len(cached_engine.cache) == 2


def test_region_flush_is_targeted(cached_engine):
    _q(cached_engine, where=("[Customer].[ASIA]",)).collect()
    _q(cached_engine, where=("[Customer].[EUROPE]",)).collect()
    # flushing the ASIA region must drop the ASIA entry and keep EUROPE
    # (cube_cache_control_test.rb:116-218 region semantics)
    flushed = cached_engine.flush_region_cache(["[Customer].[ASIA]"])
    assert flushed == 1
    assert len(cached_engine.cache) == 1


def test_flush_region_reference_named_entry_points(cached_engine):
    """cube.rb:528-536 parity: the segments form quotes/joins paths, the
    full-names form passes through — both hit the same region flush."""
    _q(cached_engine, where=("[Customer].[ASIA]",)).collect()
    assert cached_engine.flush_region_cache_with_segments(
        ("Customer", "ASIA")
    ) == 1
    _q(cached_engine, where=("[Customer].[ASIA]",)).collect()
    assert cached_engine.flush_region_cache_with_full_names(
        "[Customer].[ASIA]"
    ) == 1


def test_unconstrained_entries_overlap_every_region(cached_engine):
    _q(cached_engine).collect()  # grand aggregate, no slicer
    flushed = cached_engine.flush_region_cache(["[Customer].[ASIA]"])
    assert flushed == 1  # totals contain ASIA contributions -> must flush


def test_mutation_invisible_until_flush(spark, tmp_path):
    """DELETE → warm query unchanged → flush → new values
    (cube_cache_control_test.rb DELETE/UPDATE scenarios)."""
    data = str(tmp_path / "data")
    shutil.copytree(SF_DIR, data)
    eng = engine_from_parquet(spark, SCHEMA, "Sales", data)
    eng.enable_cache()

    before = {r["region_name"]: r["count_order"] for r in _q(eng).collect()}

    # mutate: drop all 'A' return-flag lines and rewrite the fact table
    li = spark.read.parquet(f"{data}/lineitem.parquet")
    li.filter(F.col("l_returnflag") != "A").write.mode("overwrite").parquet(
        f"{data}/lineitem_v2.parquet"
    )
    os.remove(f"{data}/lineitem.parquet")  # source fixture is a single file
    shutil.move(f"{data}/lineitem_v2.parquet", f"{data}/lineitem.parquet")

    warm = {r["region_name"]: r["count_order"] for r in _q(eng).collect()}
    assert warm == before  # cache still serves pre-mutation values

    eng.flush_schema_cache()
    spark.catalog.refreshByPath(f"{data}/lineitem.parquet")
    fresh_eng = engine_from_parquet(spark, SCHEMA, "Sales", data)
    fresh_eng.enable_cache()
    after = {r["region_name"]: r["count_order"] for r in _q(fresh_eng).collect()}
    assert all(after[k] < before[k] for k in before)
    fresh_eng.flush_schema_cache()


def test_schema_flush_drops_member_memos(cached_engine):
    """A schema flush drops the member memos with the cells, as Mondrian's
    schema flush drops its member cache: no member state outlives a
    cold-start flush."""
    eng = cached_engine
    brand = eng.level_members("Part", 0).collect()[0]["brand"]
    part = eng.level_members("Part", 1, (brand,)).collect()[0]["part_name"]
    assert eng.member_exists("Part", 1, (brand, part))
    assert eng.member_property_value("Part", 1, (brand, part), "part_size") is not None
    assert eng._exists_memo and eng._prop_memo
    eng.flush_schema_cache()
    assert eng._exists_memo == {} and eng._prop_memo == {}


def test_in_memory_rollup_reuse(cached_engine):
    """A coarser request re-aggregates a finer cached entry instead of
    rescanning the fact (EnableInMemoryRollup — SURVEY.md §4)."""
    fine = (
        Query(cached_engine)
        .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    fine.collect()
    assert cached_engine.cache.misses == 1

    coarse = (
        Query(cached_engine)
        .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
        .rows("[Customer].children")
        .execute()
        .df
    )
    rows = {r["region_name"]: r for r in coarse.collect()}
    assert cached_engine.cache.rollups == 1
    assert cached_engine.cache.misses == 1  # fact never rescanned
    # and values match a fresh computation
    fresh = {
        r["region_name"]: r
        for r in Query(cached_engine)
        .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
        .rows("[Customer].children")
        .execute()
        .df.collect()
    }
    for k in fresh:
        assert rows[k]["count_order"] == fresh[k]["count_order"]
        assert abs(rows[k]["sum_qty"] - fresh[k]["sum_qty"]) < 1e-6


def test_distinct_count_never_rolls_up(cached_engine):
    """distinct-count is not summable — must rescan (SURVEY.md §7.4)."""
    Query(cached_engine).columns("[Measures].[Distinct Parts]").rows(
        "[Customer].[Nation].Members"
    ).execute().df.collect()
    Query(cached_engine).columns("[Measures].[Distinct Parts]").rows(
        "[Customer].children"
    ).execute().df.collect()
    assert cached_engine.cache.rollups == 0
    assert cached_engine.cache.misses == 2


def test_flush_region_same_dim_union(spark):
    """A same-dimension member list is a UNION region: an entry overlapping
    ANY listed member must flush (cube.rb:519-547 segment semantics)."""
    from mondrian_olap_spark.star import engine_from_parquet
    from mondrian_olap_spark.tpch import SCHEMA
    from mondrian_olap_spark.query import Query

    from .conftest import SF_DIR

    eng = engine_from_parquet(spark, SCHEMA, "Sales", SF_DIR)
    eng.enable_cache()
    # warm an EUROPE-sliced aggregate
    Query(eng).columns("[Measures].[Sum Qty]").rows("[ReturnFlag].children").where(
        "[Customer].[EUROPE]"
    ).execute().df.collect()
    # flushing the {ASIA, EUROPE} union region must drop it
    n = eng.flush_region_cache(["[Customer].[ASIA]", "[Customer].[EUROPE]"])
    assert n >= 1


def test_set_role_name_flushes_cache(spark):
    """In-place role switches must not serve cached unrestricted cells."""
    import dataclasses

    from mondrian_olap_spark.roles import MemberGrant, Role
    from mondrian_olap_spark.star import engine_from_parquet
    from mondrian_olap_spark.tpch import SCHEMA
    from mondrian_olap_spark.query import Query

    from .conftest import SF_DIR

    asia = Role("asia", grants=(MemberGrant("Customer", ("ASIA",)),))
    eng = engine_from_parquet(
        spark, dataclasses.replace(SCHEMA, roles=(asia,)), "Sales", SF_DIR
    )
    cache = eng.enable_cache()
    full = Query(eng).columns("[Measures].[Count Order]").execute().df.collect()[0]
    eng.set_role_name("asia")
    restricted = Query(eng).columns("[Measures].[Count Order]").execute().df.collect()[0]
    assert restricted["count_order"] < full["count_order"]
    eng.set_role_name()


def test_flush_region_empty_is_noop(spark):
    """flush_region([]) overlaps nothing and must flush nothing (review
    fix: any([]) made every entry doomed)."""
    from mondrian_olap_spark.cache import AggregateCache

    cache = AggregateCache()
    df = spark.range(3)
    cache.get_or_build(("k",), [], lambda: df)
    assert len(cache) == 1
    assert cache.flush_region([]) == 0
    assert len(cache) == 1
    cache.flush_all()


def test_rollup_reuses_same_grain_different_order(spark, engine):
    """A cached aggregate at the SAME grain with a different key ordering
    serves the request via in-memory re-aggregation instead of a fact
    rescan (review fix)."""
    from mondrian_olap_spark.query import Query

    eng = engine.with_role(None) if False else engine
    import copy

    e2 = copy.copy(engine)
    e2.enable_cache()
    q1 = (
        Query(e2).columns("[Measures].[Sum Qty]")
        .rows("[Customer].children", "[ReturnFlag].children").execute().df
    )
    q1.collect()
    misses = e2.cache.misses
    q2 = (
        Query(e2).columns("[Measures].[Sum Qty]")
        .rows("[ReturnFlag].children", "[Customer].children").execute().df
    )
    q2.collect()
    assert e2.cache.rollups >= 1 and e2.cache.misses == misses
    a = {(r["region_name"], r["return_flag"]): r["sum_qty"] for r in q1.collect()}
    b = {(r["region_name"], r["return_flag"]): r["sum_qty"] for r in q2.collect()}
    assert a == b
    e2.cache.flush_all()


def test_aggregate_cache_lru_eviction(spark):
    """The aggregate cache is a BOUNDED LRU: inserts beyond max_entries
    evict (and unpersist) the least-recently-used entry; a hit refreshes
    recency so hot entries survive."""
    from mondrian_olap_spark.cache import AggregateCache

    cache = AggregateCache(max_entries=2)
    built = []

    def builder_for(i):
        def b():
            built.append(i)
            return spark.range(i + 1).toDF("v")
        return b

    k = lambda i: ("cube", ("g",), (), ("m",), None if i else None) + (i,)  # noqa: E731
    cache.get_or_build(k(0), [], builder_for(0))
    cache.get_or_build(k(1), [], builder_for(1))
    # touch k0 so k1 is the LRU victim when k2 arrives
    cache.get_or_build(k(0), [], builder_for(0))
    cache.get_or_build(k(2), [], builder_for(2))
    assert len(cache) == 2 and cache.evictions == 1
    # k0 still cached (no rebuild); k1 was evicted (rebuilds)
    n_built = len(built)
    cache.get_or_build(k(0), [], builder_for(0))
    assert len(built) == n_built
    cache.get_or_build(k(1), [], builder_for(1))
    assert len(built) == n_built + 1
