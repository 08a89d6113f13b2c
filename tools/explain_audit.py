#!/usr/bin/env python
"""Physical-plan audit: asserts the plans the engine produces are the plans
we'd want at 100 TB (SURVEY.md §4).

Checks per query:
* predicate pushdown — degenerate-dim slicers reach the parquet scan
  (PushedFilters non-empty on the fact scan);
* column pruning — the fact scan's ReadSchema contains only needed columns;
* join strategy — bounded-cardinality dims broadcast, no CartesianProduct in
  star joins;
* rollup — one Expand node (single-pass grouping sets), not N aggregations.

Run: python tools/explain_audit.py  (exit 1 on any failed property)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def fact_scan_lines(plan: str, table: str) -> list[str]:
    return [l for l in plan.splitlines() if "Scan parquet" in l and table in l]


def main() -> int:
    from pyspark.sql import SparkSession

    from mondrian_olap_spark.query import Query
    from mondrian_olap_spark.tpch import get_engine

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    eng = get_engine(spark, SF_DIR)
    failures: list[str] = []

    def check(name: str, ok: bool, detail: str = "") -> None:
        print(f"{'PASS' if ok else 'FAIL'} {name}" + (f": {detail}" if detail and not ok else ""))
        if not ok:
            failures.append(name)

    # 1. degenerate-dim slicer pushes to the parquet scan
    df = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].children")
        .where("[ReturnFlag].[A]")
        .execute()
        .df
    )
    p = plan_str(df)
    scans = fact_scan_lines(p, "lineitem")
    pushed = any("PushedFilters: [" in l and "l_returnflag" in l for l in p.splitlines())
    check("pushdown.degenerate_slicer_reaches_scan", pushed, p[:2000])

    # 2. column pruning: a 2-measure query reads only the needed fact columns
    df = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[ReturnFlag].children")
        .execute()
        .df
    )
    p = plan_str(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = set(re.findall(r"(\w+):", m.group(1))) if m else set()
    check(
        "pruning.fact_reads_only_needed_columns",
        cols == {"l_quantity", "l_returnflag"},
        f"read {sorted(cols)}",
    )

    # 3. guaranteed-small dim joins broadcast; no cartesian product
    df = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Supplier].children")
        .execute()
        .df
    )
    p = plan_str(df)
    check("join.small_dim_broadcasts", "BroadcastHashJoin" in p)
    check("join.no_cartesian_in_star", "CartesianProduct" not in p)

    # 4. orders-bridge dims coalesce: Customer + Time + Priority = ONE join
    #    of the fact against the merged bridge
    df = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].children")
        .crossjoin("[Time].[Year].Members", "[Priority].children")
        .execute()
        .df
    )
    p = plan_str(df)
    n_orders_scans = len(fact_scan_lines(p, "/orders.parquet"))
    check("join.bridge_dims_coalesced_single_orders_scan", n_orders_scans == 1,
          f"{n_orders_scans} orders scans")

    # 5. rollup runs as one Expand pass (single shuffle for all grouping sets)
    df = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .totals("rollup")
        .execute()
        .df
    )
    p = plan_str(df)
    check(
        "rollup.single_expand_pass",
        p.count("Expand") == 1 and len(fact_scan_lines(p, "lineitem")) == 1,
        f"expands={p.count('Expand')} fact_scans={len(fact_scan_lines(p, 'lineitem'))}",
    )

    # 6. member ranges (a:b) plan as a BETWEEN predicate — the range is never
    #    enumerated into members on the driver; only the two endpoints are
    #    resolved (1-row lookups).  The plan must show the ordinal bound as a
    #    filter, and the query must not add per-member jobs.
    df = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows()
        .member_range("[Time].[1996]", "[Time].[1998]")
        .execute()
        .df
    )
    p = plan_str(df)
    has_range_filter = bool(re.search(r">=\s*1996", p)) and bool(re.search(r"<=\s*1998", p))
    check("range.planned_as_between_predicate", has_range_filter, p[:2000])

    # 7b. IVF cell assignment is a pure projection: the corpus never
    #     shuffles (centroids are inlined literals — operators/similarity.py)
    from mondrian_olap_spark.operators.similarity import ivf_index
    from mondrian_olap_spark.star import read_parquet_table

    emb = read_parquet_table(spark, f"{SF_DIR}/embeddings.parquet")
    p = plan_str(ivf_index(emb, n_cells=4).drop("v"))
    assert_scan = "parquet" in p.lower()
    check(
        "ivf.assignment_no_shuffle",
        assert_scan and "Exchange" not in p,
        p[:1500],
    )

    # 7c. tuple scalar references attach via a BROADCAST join: the grid
    #     never reshuffles to pick up the member-scoped sub-aggregate
    #     (plan._attach_tuple_scalar)
    from mondrian_olap_spark.mdx import execute_mdx

    df = execute_mdx(
        eng,
        "WITH MEMBER [Measures].[Asia Qty] AS "
        "'([Measures].[Sum Qty], [Customer].[ASIA])' "
        "SELECT {[Measures].[Sum Qty], [Measures].[Asia Qty]} ON COLUMNS, "
        "[Time].[Year].Members ON ROWS FROM [Sales]",
    ).df
    p = plan_str(df)
    check(
        "tuple_scalar.subagg_broadcast_join",
        ("BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p)
        and "SortMergeJoin" not in p,
        p[:2000],
    )

    # 7d. Aggregate(set, expr) scalars attach the same way: they lower as
    #     the ``sum`` set statistic, whose per-member sub-aggregate +
    #     collapse rides a BROADCAST join — the grid never reshuffles
    #     (plan._attach_stat_scalar)
    df = execute_mdx(
        eng,
        "WITH MEMBER [Measures].[AA2] AS "
        "'Aggregate({[Customer].[ASIA], [Customer].[AFRICA]}, "
        "[Measures].[Sum Qty] * 2)' "
        "SELECT {[Measures].[Sum Qty], [Measures].[AA2]} ON COLUMNS, "
        "[Time].[Year].Members ON ROWS FROM [Sales]",
    ).df
    p = plan_str(df)
    check(
        "agg_scalar.subagg_broadcast_join",
        ("BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p)
        and "SortMergeJoin" not in p,
        p[:2000],
    )

    # 7. whole-stage codegen covers the aggregation path (inspect the FINAL
    #    adaptive plan — pre-execution AQE plans carry no codegen annotation)
    df = Query(eng).columns("[Measures].[Sum Qty]").rows("[ReturnFlag].children").execute().df
    df.collect()
    p = plan_str(df)
    # '*(n)' operator prefixes are the whole-stage-codegen stage markers in
    # the final adaptive plan's toString
    check("codegen.wholestage_active", "WholeStageCodegen" in p or "*(1)" in p, p[:1500])

    # 8. as-of join plans as union + ONE window exchange on the key —
    #    never a join operator (the range-join pair blowup it replaces)
    from mondrian_olap_spark.operators import events as ev_ops
    from mondrian_olap_spark.star import read_parquet_table

    ev = read_parquet_table(spark, f"{SF_DIR}/events.parquet")
    purchases = ev.filter("event_type = 'purchase'")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts", "value")
    df = ev_ops.asof_join(purchases, clicks, key="user_id", value_cols=["value"])
    p = plan_str(df)
    n_exchanges = p.count("Exchange hashpartitioning")
    has_join = any(
        j in p for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                         "CartesianProduct", "BroadcastNestedLoopJoin")
    )
    check(
        "asof.union_window_single_exchange_no_join",
        n_exchanges == 1 and not has_join and "Window" in p,
        f"exchanges={n_exchanges} join_present={has_join}",
    )

    # 9. segment dedup computes first-occurrence with a PARTIAL-combined
    #    aggregate + equi-join, never a window over the fingerprint: hot
    #    boilerplate segments must shrink map-side and stay AQE-splittable
    #    (window partitions cannot be split — operators/text.segment_dedup)
    from mondrian_olap_spark.operators import text as text_ops

    docs = read_parquet_table(spark, f"{SF_DIR}/documents.parquet")
    p = plan_str(text_ops.segment_dedup(docs))
    check(
        "segment_dedup.partial_agg_join_no_fingerprint_window",
        "Window" not in p and "partial_min" in p,
        p[:1500],
    )

    # 10. pack summary rides the packing window's partitioning: grouping by
    #     (source, pack_id) is satisfied by hashpartitioning(source), so the
    #     whole pack pipeline shuffles the corpus exactly once
    from mondrian_olap_spark.operators import packing

    p = plan_str(packing.pack_summary(docs, budget=512))
    n_exchanges = p.count("Exchange hashpartitioning")
    check(
        "packing.summary_reuses_window_partitioning_single_exchange",
        n_exchanges == 1,
        f"exchanges={n_exchanges}",
    )

    # 11. JSON props extraction stays JVM-side: from_json row parse inside
    #     the scan stage, one keyed-agg exchange, and NO Python evaluator
    #     (the failure mode would be a per-row UDF parse)
    from pyspark.sql import functions as F

    parsed = ev_ops.parse_props(ev, {"k": "int"})
    p = plan_str(
        parsed.groupBy("event_type").agg(F.sum("k").alias("sum_k"))
    )
    n_exchanges = p.count("Exchange hashpartitioning")
    py_eval = "EvalPython" in p  # Batch/ArrowEvalPython
    check(
        "props.from_json_codegen_single_exchange_no_python",
        "from_json" in p and n_exchanges == 1 and not py_eval,
        f"exchanges={n_exchanges} python={py_eval}",
    )

    # 12. quantization report is one expression-only scan + one keyed agg:
    #     a single exchange, no join (no materialized quantized copy), no
    #     Python evaluator
    from mondrian_olap_spark.operators import similarity as sim

    emb = read_parquet_table(spark, f"{SF_DIR}/embeddings.parquet")
    p = plan_str(sim.quantization_error_stats(emb))
    n_exchanges = p.count("Exchange hashpartitioning")
    has_join = any(
        j in p for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    check(
        "quantization.single_scan_single_exchange_no_join_no_python",
        n_exchanges == 1 and not has_join and "EvalPython" not in p,
        f"exchanges={n_exchanges} join={has_join}",
    )

    # 13. composed curation (dedup → quality → splits) is ONE corpus scan
    #     + ONE fingerprint shuffle: min-struct first-occurrence aggregate,
    #     never a join back, no Python evaluator anywhere in the plan
    from mondrian_olap_spark.operators import pipeline as pl

    docs = read_parquet_table(spark, f"{SF_DIR}/documents.parquet")
    p = plan_str(pl.curate_corpus(docs, split_weights={"train": 0.9, "val": 0.1}))
    n_exchanges = p.count("Exchange hashpartitioning")
    n_scans = p.count("FileScan parquet")
    has_join = any(
        j in p for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    check(
        "curation.single_scan_single_shuffle_no_join",
        n_exchanges == 1 and n_scans == 1 and not has_join and "EvalPython" not in p,
        f"exchanges={n_exchanges} scans={n_scans} join={has_join}",
    )

    # 14. count-min sketch: the whole corpus token stream collapses through
    #     ONE partial-combined exchange into the bounded depth*width cell
    #     table — no join, no Python, nothing proportional to corpus size
    #     crosses the wire beyond the cells
    from mondrian_olap_spark.operators import text as textops

    p = plan_str(textops.cms_sketch(docs, width=1024, depth=4))
    n_exchanges = p.count("Exchange hashpartitioning")
    has_join = any(
        j in p for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    has_partial = "partial_count" in p or "partial" in p.lower()
    check(
        "cms_sketch.single_partial_exchange_no_join",
        n_exchanges == 1 and not has_join and "EvalPython" not in p and has_partial,
        f"exchanges={n_exchanges} join={has_join}",
    )

    # 15. salted join: every shuffle that feeds the join is keyed by
    #     (join key, salt) — the hot key genuinely spreads over the salt
    #     shards instead of landing on one task
    from mondrian_olap_spark.operators import util as utilops

    ev = read_parquet_table(spark, f"{SF_DIR}/events.parquet")
    dim = ev.select("event_type").distinct().withColumn("w", F.length("event_type"))
    #     (hint forces the shuffle-join shape salting exists for — a dim
    #     small enough to broadcast wouldn't be salted in the first place)
    p = plan_str(
        utilops.salted_join(ev, dim.hint("shuffle_hash"), ["event_type"], buckets=8)
    )
    join_lines = [
        l for l in p.splitlines()
        if any(j in l for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    ]
    fact_exchanges = [
        l for l in p.splitlines()
        if "Exchange hashpartitioning" in l
        and "event_type" in l and "__salt" in l
    ]
    check(
        "salted_join.join_keyed_by_key_plus_salt",
        bool(join_lines)
        and all("__salt" in l for l in join_lines)
        and bool(fact_exchanges),
        f"join lines: {[l.strip()[:90] for l in join_lines]}",
    )

    # 16. distributed rank: the ranking window is PARTITIONED (by the
    #     physical partition id) — the global-order rank never plans as a
    #     single-task global window
    p = plan_str(
        utilops.distributed_rank(
            docs.select("doc_id"), ["doc_id"], rank_col="r"
        )
    )
    bad_windows = [
        l for l in p.splitlines()
        if "Window" in l and "row_number" in l and "__pid" not in l
    ]
    check(
        "distributed_rank.no_global_single_task_window",
        not bad_windows,
        f"global windows: {[l.strip()[:90] for l in bad_windows]}",
    )

    # 17. bloom probe (inline bitmap): a PURE PROJECTION — the probe plan
    #     contains no Exchange and no join; membership tests run entirely
    #     inside the scan's codegen stage
    from mondrian_olap_spark.operators import dedup as dedupops

    bloom = dedupops.bloom_build(docs, m_bits=62 * 33, k=4)
    p = plan_str(dedupops.bloom_probe(docs, bloom, 62 * 33, 4))
    probe_exchanges = [l for l in p.splitlines() if "Exchange" in l]
    probe_joins = [l for l in p.splitlines() if "Join" in l]
    check(
        "bloom_probe.inline_bitmap_zero_shuffle_zero_join",
        not probe_exchanges and not probe_joins,
        f"exchanges/joins: {[l.strip()[:90] for l in probe_exchanges + probe_joins]}",
    )

    # 18. column profiler: every metric of every column from ONE scan —
    #     the multi-distinct aggregate plans as a single Expand pass, never
    #     one scan per column
    p = plan_str(utilops.profile_columns(docs))
    n_scans = len([l for l in p.splitlines() if "Scan parquet" in l])
    n_expand = len([l for l in p.splitlines() if re.search(r"\bExpand\b", l)])
    check(
        "profile_columns.single_scan_expand",
        n_scans == 1 and n_expand == 1,
        f"scans={n_scans} expands={n_expand}",
    )

    # 19. incremental near-dup probe: the corpus enters verification only
    #     through LEFT-SEMI candidate restriction — the expensive shingle
    #     explosion never runs over the full corpus side
    new_docs = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    ).limit(50)
    p = plan_str(dedupops.incremental_neardup_pairs(new_docs, docs))
    semis = [l for l in p.splitlines() if "LeftSemi" in l]
    cart = [l for l in p.splitlines() if "CartesianProduct" in l]
    check(
        "incremental_neardup.corpus_semi_joined_no_cartesian",
        len(semis) >= 2 and not cart,
        f"semi={len(semis)} cartesian={len(cart)}",
    )

    # 20. vocabulary encode (inline map): a pure projection — no join,
    #     no exchange; the id arrays come straight out of the scan stage
    from mondrian_olap_spark.operators import text as textops

    vocab = textops.build_vocab(docs, vocab_size=50)
    p = plan_str(textops.tokens_to_ids(docs, vocab))
    bad = [l for l in p.splitlines() if "Join" in l or "Exchange" in l]
    check(
        "tokens_to_ids.inline_map_pure_projection",
        not bad,
        f"join/exchange lines: {[l.strip()[:90] for l in bad]}",
    )

    # 20b. vocabulary encode plan size is O(1) in vocab size: the packed
    #      string literals keep a 50k-entry vocab to a handful of plan
    #      nodes (the per-entry create_map form would be ~100k nodes)
    big_vocab = spark.createDataFrame(
        [(f"tok{i:05d}", i + 1) for i in range(50_000)],
        "token string, token_id bigint",
    )
    qe = textops.tokens_to_ids(docs, big_vocab)._jdf.queryExecution()
    n_nodes = qe.analyzed().numberedTreeString().count("\n") + 1
    check(
        "tokens_to_ids.plan_nodes_constant_at_50k_vocab",
        n_nodes < 50,
        f"analyzed plan nodes at 50k vocab: {n_nodes}",
    )

    # 21. PQ encode: codebooks inlined — zero joins, zero exchanges
    from mondrian_olap_spark.operators import similarity as simops
    from mondrian_olap_spark.star import read_parquet_table as _rpt

    embdf = _rpt(spark, f"{SF_DIR}/embeddings.parquet")
    cb, subw = simops.pq_seeds(embdf, m=4, k=8)
    p = plan_str(simops.pq_encode(embdf, cb, subw))
    bad = [l for l in p.splitlines() if "Join" in l or "Exchange" in l]
    check(
        "pq_encode.inlined_codebooks_zero_shuffle_zero_join",
        not bad,
        f"join/exchange lines: {[l.strip()[:90] for l in bad]}",
    )

    # 22. IVF append assignment: the delta is assigned with the
    #     artifact's inlined centroids — zero joins, zero exchanges
    #     (the same pure-projection shape as the build; ivf_append then
    #     only appends these rows into the cell partitions)
    seeds = simops.ivf_seeds(embdf, n_cells=4)
    delta_emb = embdf.filter("vec_id % 10 = 0")
    p = plan_str(simops.ivf_index(delta_emb, centroids=seeds))
    bad = [l for l in p.splitlines() if "Join" in l or "Exchange" in l]
    check(
        "ivf_append.delta_assignment_zero_shuffle_zero_join",
        not bad,
        f"join/exchange lines: {[l.strip()[:90] for l in bad]}",
    )

    # 23. refresh_aggregates merge: ONE exchange keyed by the grain (the
    #     summary-sized union + groupBy), and the merge plan never scans
    #     the fact parquet — only the summary and the delta-scoped
    #     aggregation feed it
    from mondrian_olap_spark.star import engine_from_parquet as _efp
    from mondrian_olap_spark.tpch import SCHEMA as _SCHEMA

    fact = _rpt(spark, f"{SF_DIR}/lineitem.parquet")
    base_fact = fact.filter("l_orderkey % 10 != 0")
    delta_fact = fact.filter("l_orderkey % 10 = 0")
    eng_r = _efp(spark, _SCHEMA, "Sales", SF_DIR)
    eng_r.__init__(
        eng_r.cube, {**eng_r.tables, "lineitem": base_fact},
        eng_r.parameters, eng_r.available_roles,
    )
    eng_r.materialize_aggregate(["[Customer].[Nation]"], measures=["Sum Qty"])
    eng_r.refresh_aggregates(delta_fact)
    summary_df = eng_r.aggregate_tables[0][0]
    p = plan_str(summary_df)
    # the refreshed summary is an eager checkpoint: routed reads carry NO
    # fact scan (lineage was truncated after the one delta aggregation)
    check(
        "refresh_aggregates.summary_lineage_carries_no_fact_scan",
        "lineitem" not in p,
        f"plan: {p[:160]}",
    )

    # 24. the All member ([Dim].DefaultMember on a hasAll hierarchy) is
    #     the PLAIN fact aggregate: no dimension join, no dim-table scan
    #     (an unconstrained semi-join would add a fact-sized shuffle and,
    #     under broken referential integrity, drop rows) — round-7
    #     DefaultMember-as-All wiring.  Checked COLD: with a warm cache
    #     the grand total is legitimately served by rolling up a cached
    #     finer grid (an InMemoryTableScan over 5 rows, whose lineage text
    #     would spuriously contain the original star joins, or the same
    #     rows as a LocalTableScan once a hit has moved them to the
    #     driver), and neither shows the plan this check is about.
    if eng.cache is not None:
        eng.cache.flush_all()
    df = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].DefaultMember")
        .execute()
        .df
    )
    p = plan_str(df)
    check(
        "all_member.grand_total_is_plain_fact_aggregate",
        "Join" not in p and "customer" not in p.lower().replace(
            "region_name", ""
        )
        and "orders" not in p,
        f"plan: {p[:400]}",
    )

    # 25. plan_shards: the prefix-sum window is PARTITIONED by the
    #     physical partition id (two-phase distributed cumsum) — token
    #     sharding never plans a single-task global window
    from mondrian_olap_spark.operators import pipeline as plops

    p = plan_str(plops.plan_shards(docs, num_shards=8))
    bad_windows = [
        l for l in p.splitlines()
        if "Window" in l and "sum(" in l and "__pid" not in l
    ]
    check(
        "plan_shards.no_global_single_task_window",
        not bad_windows,
        f"global windows: {[l.strip()[:90] for l in bad_windows]}",
    )

    # 26. IRR Newton fold: a scalar codegen expression — no Python
    #     evaluation node anywhere, and the only exchange is the
    #     group-by-series aggregation itself (the 40 iterations add ZERO
    #     plan operators)
    from mondrian_olap_spark.operators import finance as finops

    series = finops.cashflows(
        docs.selectExpr(
            "doc_id % 5 AS grp",
            "doc_id AS t",
            "CAST(CASE WHEN doc_id % 7 = 0 THEN -n_chars ELSE n_chars END AS DOUBLE) AS v",
        ),
        ["grp"], "t", "v",
    )
    p = plan_str(finops.with_irr(finops.with_npv(series, 0.08)))
    n_exchanges = len([l for l in p.splitlines() if "Exchange" in l])
    check(
        "finance_irr.newton_fold_scalar_no_python_one_exchange",
        "EvalPython" not in p and n_exchanges <= 1 and "Join" not in p,
        f"exchanges={n_exchanges} python={'EvalPython' in p}",
    )

    # 27. documents cube: the CUBE totals over the corpus table plan as
    #     ONE Expand pass over ONE scan — the same single-pass
    #     grouping-sets shape the star rollups pin, on a non-star table
    import mondrian_olap_spark.suite_pipeline  # noqa: F401
    from mondrian_olap_spark.suite import QUERIES

    p = plan_str(QUERIES["documents_quality_cube"](spark, SF_DIR))
    n_scans = len([l for l in p.splitlines() if "Scan parquet" in l])
    n_expand = len([l for l in p.splitlines() if re.search(r"\bExpand\b", l)])
    check(
        "documents_cube.single_scan_single_expand",
        n_scans == 1 and n_expand == 1,
        f"scans={n_scans} expands={n_expand}",
    )

    # 28. PCA basis projection: a pure zero-shuffle projection — no
    #     Exchange, no Join, no Python eval; centering stays inside it
    from mondrian_olap_spark.operators import similarity as simops
    from mondrian_olap_spark.star import read_parquet_table

    emb = read_parquet_table(spark, f"{SF_DIR}/embeddings.parquet")
    comps = [[1.0 / 8.0] * 64, [0.5] + [0.0] * 63]
    p = plan_str(
        simops.project_embeddings(emb, comps, mean=[0.01] * 64)
    )
    bad = [l for l in p.splitlines()
           if "Exchange" in l or "Join" in l or "EvalPython" in l]
    check(
        "project_embeddings.zero_shuffle_projection",
        not bad,
        f"nodes: {[l.strip()[:80] for l in bad]}",
    )

    # 29. URL canonicalization: one codegen projection — zero Exchange,
    #     zero Join, zero Python eval, whole-stage codegen active (the
    #     web dedup-key step must cost a map pass at any corpus size)
    from mondrian_olap_spark.operators import web as webops

    urls = docs.selectExpr(
        "doc_id",
        "'https://H' || CAST(doc_id % 7 AS STRING) || '.Example.COM:443//p//'"
        " || CAST(doc_id AS STRING) || '/?utm_source=x&b=2&a=1#f' AS url",
    )
    p = plan_str(webops.with_host(webops.canonicalize_urls(urls), "url"))
    bad = [l for l in p.splitlines()
           if "Exchange" in l or "Join" in l or "EvalPython" in l]
    check(
        "web_canonicalize.zero_shuffle_codegen_projection",
        not bad and ("WholeStageCodegen" in p or "*(1)" in p),
        f"nodes: {[l.strip()[:80] for l in bad]}",
    )

    # 30. Perceptron scoring: packed-literal weights — O(1) plan nodes at
    #     4096 buckets (plan text must not inline per-bucket literals),
    #     zero Exchange / Join / Python eval
    from mondrian_olap_spark.operators import text as textops

    model = {
        "bias": 3,
        "weights": list(range(4096)),
        "ngram": 1,
        "buckets": 4096,
    }
    p = plan_str(textops.score_with_perceptron(docs, model))
    bad = [l for l in p.splitlines()
           if "Exchange" in l or "Join" in l or "EvalPython" in l]
    # O(1) plan NODES: the 4096 weights ride inside ONE packed string
    # literal (plan text contains it, but the operator tree stays tiny
    # and the literal appears exactly once — margin is projected once
    # and prediction derives from the projected column)
    n_lines = len(p.splitlines())
    n_packed = p.count("4090,4091")
    check(
        "perceptron_score.zero_shuffle_packed_literal_plan",
        not bad and n_lines < 40 and n_packed == 1,
        f"lines={n_lines} packed_occurrences={n_packed} "
        f"bad={[l.strip()[:60] for l in bad]}",
    )

    # 31. line_dedup: the boilerplate-frequency side must reach the doc
    #     regroup as an AGGREGATE-then-join (no Window over the line key
    #     anywhere — hot boilerplate lines stay splittable)
    p = plan_str(textops.line_dedup(docs, 3))
    has_window = any("Window" in l for l in p.splitlines())
    check(
        "line_dedup.aggregate_then_join_no_line_window",
        not has_window,
        "Window node found in line_dedup plan",
    )

    # 32. value_histogram: ONE exchange (the bounded cell aggregation,
    #     map-side combined) — corpus size only moves the scan
    from mondrian_olap_spark.operators import sketches as skops

    li = read_parquet_table(spark, f"{SF_DIR}/lineitem.parquet")
    p = plan_str(skops.value_histogram(
        li, "l_extendedprice", 900.0, 105000.0, 32, ["l_returnflag"]))
    n_ex = len([l for l in p.splitlines() if "Exchange" in l])
    has_partial = "partial_count" in p or "partial" in p.lower()
    check(
        "value_histogram.single_exchange_partial_combine",
        n_ex == 1 and has_partial,
        f"exchanges={n_ex} partial={has_partial}",
    )

    # 33. scd2_enrich: the as-of version resolution carries ZERO join
    #     operators — tag+union+window only (the docstring's scalability
    #     claim vs the broadcast-nested-loop BETWEEN join)
    from mondrian_olap_spark.operators.events import scd2_enrich as scd2

    ev = read_parquet_table(spark, f"{SF_DIR}/events.parquet")
    facts = ev.selectExpr("event_id", "user_id % 50 AS seg", "ts")
    segs = spark.range(0, 50).selectExpr(
        "id AS seg",
        "TIMESTAMP '2024-01-01' AS valid_from",
        "TIMESTAMP '2024-01-10' AS valid_to",
        "id * 100 AS tier",
    )
    p = plan_str(scd2(facts, segs, key="seg", value_cols=["tier"]))
    joins = [l.strip()[:60] for l in p.splitlines()
             if "Join" in l or "CartesianProduct" in l]
    check(
        "scd2_enrich.zero_join_operators",
        not joins,
        f"joins: {joins}",
    )

    # 37. Ytd(member) axis set plans as an ordinal-BETWEEN predicate —
    #     the to-date range reaches the scan as a filter, never an
    #     enumerated member IN-list (query.periods_to_date lowering)
    from mondrian_olap_spark.mdx import execute_mdx

    r = execute_mdx(
        eng,
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               Ytd([Time].[1995].[Q2].[5]) ON ROWS FROM [Sales]
        """,
    )
    p = plan_str(r.df)
    has_between = bool(
        re.search(r"month\(.*\)\s*(>=|<=)|\(month.*>= 1\b", p)
    ) or (">= 1" in p and "<= 5" in p)
    check(
        "timeintel.ytd_axis_plans_as_ordinal_between",
        has_between and "o_orderdate" in p,
        p[:1500],
    )

    # 38. a formula block of set statistics over ONE set shares a single
    #     sub-aggregate: exactly one extra lineitem scan beyond the grid's
    #     own, not one per statistic
    r = execute_mdx(
        eng,
        """
        WITH MEMBER [Measures].[A] AS 'Median([Customer].[Region].Members, [Measures].[Sum Qty])'
        MEMBER [Measures].[B] AS 'Stdev([Customer].[Region].Members, [Measures].[Sum Qty])'
        MEMBER [Measures].[C] AS 'Max([Customer].[Region].Members, [Measures].[Sum Qty])'
        SELECT {[Measures].[A], [Measures].[B], [Measures].[C]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    )
    p = plan_str(r.df)
    n_fact_scans = len(fact_scan_lines(p, "lineitem"))
    check(
        "setstat.shared_set_shares_one_subaggregate",
        n_fact_scans == 2,
        f"{n_fact_scans} lineitem scans (want grid + ONE shared sub-plan)",
    )

    # 39. visual_totals re-aggregates the grid in memory — adding it must
    #     not add a fact scan (parent totals come from visible child rows)
    base = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .filter("sum_price > 1000")
    )
    p_plain = plan_str(base.execute().df)
    base_vt = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .filter("sum_price > 1000")
        .visual_totals()
    )
    p_vt = plan_str(base_vt.execute().df)
    # the checkpointed grid feeds both union branches, so the VT plan
    # shows ≤ the plain plan's fact scans (0 = reads the materialized
    # grid; >1 would mean the parent branch re-ran the fact scan)
    check(
        "visualtotals.no_extra_fact_scan",
        len(fact_scan_lines(p_vt, "lineitem"))
        <= len(fact_scan_lines(p_plain, "lineitem")),
        f"{len(fact_scan_lines(p_vt, 'lineitem'))} vs "
        f"{len(fact_scan_lines(p_plain, 'lineitem'))} lineitem scans",
    )

    # 40. date-PARTITIONED fact: a degenerate time slicer reaches the
    #     scan as a STATIC PartitionFilters entry — whole o_year=
    #     directories pruned before any row is read (the single biggest
    #     scan lever on a date-partitioned 100 TB fact; previously never
    #     exercised because every fixture fact was unpartitioned)
    from mondrian_olap_spark.tpch import partitioned_fact_engines

    part_eng, _flat = partitioned_fact_engines(spark, SF_DIR)
    p = plan_str(
        Query(part_eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[ReturnFlag].children")
        .where("[Time].[1995]")
        .execute()
        .df
    )
    scan = [l for l in p.splitlines() if "fact_part" in l]
    check(
        "partitioned_fact.time_slicer_prunes_statically",
        bool(scan)
        and bool(re.search(r"PartitionFilters: \[[^\]]*o_year[^\]]*1995", p)),
        f"fact scan: {scan[0].strip()[:220] if scan else 'MISSING'}",
    )

    # 41. filtering a dim TABLE joined on the partition column plans
    #     DYNAMIC partition pruning: the fact scan carries a
    #     dynamicpruningexpression fed by a subquery over the filtered
    #     dim (the classic filtered-date-dim star shape at 100 TB)
    p = plan_str(
        Query(part_eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[ReturnFlag].children")
        .where("[Epoch].[EPOCH_1]")
        .execute()
        .df
    )
    check(
        "partitioned_fact.dim_filter_plans_dynamic_pruning",
        "dynamicpruningexpression" in p,
        f"plan: {p[:400]}",
    )

    # 42. GENERATE string form over member metadata: the WITH formula's
    #     value folds from the MEMBER LIST at translation time — the
    #     query's only lineitem scan is the grid's own (no set-statistic
    #     fact sub-aggregate for an expression that reads no measures)
    r = execute_mdx(
        eng,
        """
        WITH MEMBER [Measures].[RN] AS '[Customer].CurrentMember.Name'
        MEMBER [Measures].[G] AS
          'Generate([Customer].[Region].Members, [Measures].[RN], ",")'
        SELECT {[Measures].[Sum Qty], [Measures].[G]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """,
    )
    p = plan_str(r.df)
    check(
        "generate_string.metadata_form_zero_extra_fact_scan",
        len(fact_scan_lines(p, "lineitem")) == 1,
        f"{len(fact_scan_lines(p, 'lineitem'))} lineitem scans (want 1)",
    )

    # 43. EXISTS with a computed second set: the member evaluation is a
    #     bounded sub-query at plan time; the grid itself keeps the
    #     broadcast semi-join shape — no cartesian product, and the
    #     qualifying-member join broadcasts
    r = execute_mdx(
        eng,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXISTS([Customer].[Customer].Members, "
        "  FILTER([Customer].[Nation].Members, [Measures].[Sum Qty] > 0)) "
        "ON ROWS FROM [Sales]",
    )
    p = plan_str(r.df)
    check(
        "exists_expr.no_cartesian_broadcast_semi",
        "CartesianProduct" not in p
        and ("LeftSemi" in p and "Broadcast" in p),
        f"plan: {p[:400]}",
    )

    eng.flush_schema_cache()  # scan counts need a cold aggregate cache
    # 44. EXISTING statistic: ONE sub-aggregate whose collapse keeps the
    #     grid grain — no per-cell recomputation (exactly 2 lineitem
    #     scans: the grid's own + one stat sub-plan), no cartesian
    r = execute_mdx(
        eng,
        "WITH MEMBER [Measures].[C] AS "
        "  'Count(EXISTING [Customer].[Nation].Members)' "
        "SELECT {[Measures].[Sum Qty], [Measures].[C]} ON COLUMNS, "
        "[Customer].[Region].Members ON ROWS FROM [Sales]",
    )
    p = plan_str(r.df)
    check(
        "existing_stat.single_subaggregate_no_cartesian",
        len(fact_scan_lines(p, "lineitem")) == 2
        and "CartesianProduct" not in p,
        f"{len(fact_scan_lines(p, 'lineitem'))} lineitem scans (want 2)",
    )

    # 45. genconcat over an EXPLICIT member list orders by the written-
    #     position CASE — no __setrank broadcast join (exactly 2 lineitem
    #     scans, no member-rank frame join beyond the star's own)
    r = execute_mdx(
        eng,
        """
        WITH MEMBER [Measures].[G] AS
          'Generate({[Customer].[EUROPE], [Customer].[ASIA]},
                    Cast(Cast([Measures].[Sum Qty] AS bigint) AS String),
                    "|")'
        SELECT {[Measures].[G]} ON COLUMNS FROM [Sales]
        """,
    )
    p = plan_str(r.df)
    check(
        "genconcat.written_order_no_setrank_join",
        "__setrank" not in p and "CartesianProduct" not in p,
        f"plan: {p[:400]}",
    )

    eng.flush_schema_cache()  # scan counts need a cold aggregate cache
    # 46. Filter(set, cond) statistic argument: the condition filters the
    #     sub-aggregate (a Filter node over the stat sub-plan), still one
    #     stat sub-aggregate + the grid scan, no cartesian
    r = execute_mdx(
        eng,
        "WITH MEMBER [Measures].[C] AS "
        "  'Count(Filter([Customer].[Nation].Members, "
        "                [Measures].[Sum Qty] > 9000))' "
        "SELECT {[Measures].[Sum Qty], [Measures].[C]} ON COLUMNS, "
        "[Customer].[Region].Members ON ROWS FROM [Sales]",
    )
    p = plan_str(r.df)
    check(
        "filter_stat.subaggregate_filtered_no_cartesian",
        len(fact_scan_lines(p, "lineitem")) == 2
        and "CartesianProduct" not in p,
        f"{len(fact_scan_lines(p, 'lineitem'))} lineitem scans (want 2)",
    )

    eng.flush_schema_cache()
    # 47. MIXED-DEPTH computed set (round 12): one sub-aggregate per depth
    #     feeds the bounded member collect, then the axis applies the
    #     evaluated members as a SLICER OR-predicate — the final grid plan
    #     has no cartesian and the member constraint lands in the orders
    #     bridge (year/quarter predicates), never a per-member loop
    r = execute_mdx(
        eng,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXISTS([Customer].[Nation].Members, "
        "  TAIL(ORDER({[Time].[1995], [Time].[1996], [Time].[1995].[Q1]}, "
        "       [Measures].[Sum Qty], BDESC), 2)) "
        "ON ROWS FROM [Sales]",
    )
    p = plan_str(r.df)
    check(
        "mixed_depth_set.no_cartesian_broadcast_semi",
        "CartesianProduct" not in p and "LeftSemi" in p,
        f"plan: {p[:400]}",
    )

    # 48. ragged hidden-member filter stays a codegen Filter over the
    #     aggregated grid — no extra shuffle (exchange count equals the
    #     unfiltered equivalent: 1 agg exchange + broadcasts)
    from mondrian_olap_spark.model import Cube, Dimension, Level, Measure
    from mondrian_olap_spark.sources.registry import with_sql_views
    from mondrian_olap_spark.star import CubeEngine, read_parquet_table

    base_t = {
        t: read_parquet_table(spark, f"{SF_DIR}/{t}.parquet")
        for t in ("nation", "region", "supplier")
    }
    tables = with_sql_views(
        spark,
        base_t,
        {
            "ragged_geo": (
                "SELECT n_nationkey, r_name, "
                "CASE WHEN n_nationkey % 5 = 0 THEN '' ELSE n_name END "
                "AS city "
                "FROM nation JOIN region ON n_regionkey = r_regionkey"
            )
        },
    )
    rcube = Cube(
        name="Ragged",
        fact="supplier",
        dimensions=(
            Dimension(
                name="Geo", foreign_key="s_nationkey", table="ragged_geo",
                primary_key="n_nationkey",
                levels=(
                    Level("Region", "r_name", output="region_name"),
                    Level(
                        "City", "city", output="city_name",
                        hide_member_if="IfBlankName",
                    ),
                ),
                guaranteed_small=True,
            ),
        ),
        measures=(
            Measure("Suppliers", "s_suppkey", "count", output="suppliers"),
        ),
    )
    reng = CubeEngine(rcube, tables)
    df = (
        Query(reng)
        .columns("[Measures].[Suppliers]")
        .rows("[Geo].[City].Members")
        .execute()
        .df
    )
    p = plan_str(df)
    # SHUFFLE exchanges only (broadcasts are free at this size): the
    # hidden-member predicate pushes into the DIM SCAN (Catalyst folds
    # the post-agg filter through the join — verified in the plan), so
    # the grid keeps its 2 shuffles (aggregate + output sort)
    n_shuffles = p.count("Exchange") - p.count("BroadcastExchange")
    check(
        "ragged_hidden.filter_no_extra_shuffle",
        n_shuffles <= 2
        and "CartesianProduct" not in p
        and "city_name" in p,
        f"{n_shuffles} shuffle exchanges (want <=2)",
    )

    # 49. per-member GENERATE + trailing TOPCOUNT: the composition stays
    #     window-based on the final grid — one fact aggregation for the
    #     result axis, no cartesian, no extra join for the top-k
    r = execute_mdx(
        eng,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOPCOUNT(GENERATE([Time].[Year].Members, "
        "  TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty])), "
        "  3, [Measures].[Sum Qty]) "
        "ON ROWS FROM [Sales]",
    )
    p = plan_str(r.df)
    check(
        "generate_post_ops.windowed_topk_no_cartesian",
        "CartesianProduct" not in p and "Window" in p,
        f"plan: {p[:400]}",
    )

    # 50. a nested set's op chain is ONE computed set: a CROSSJOIN argument
    #     Head(Filter(...)) plans one set sub-aggregate (2 lineitem scans:
    #     the grid's + the set's) and one semi-join, not one per op
    eng.flush_schema_cache()  # scan counts need a cold aggregate cache
    r = execute_mdx(
        eng,
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "CrossJoin([ReturnFlag].[ReturnFlag].Members, "
        "  Head(Filter([Customer].[Region].Members, "
        "       [Measures].[Sum Qty] > 31000), 2)) "
        "ON ROWS FROM [Sales]",
    )
    p = plan_str(r.df)
    n_scans = len(fact_scan_lines(p, "lineitem"))
    n_semis = sum("LeftSemi" in line for line in p.splitlines())
    check(
        "nested_set.one_subaggregate_one_semi_join",
        n_scans == 2 and n_semis == 1,
        f"{n_scans} lineitem scans (want 2), {n_semis} semi-joins (want 1)",
    )

    # 51. resident cache-hit read: once a hit has moved a grid to the
    #     driver, a read whose axis sort sits directly over those local
    #     rows (Sort <- LocalRelation) is sorted in the JVM and executes
    #     as a bare LocalTableScan, with no Sort, Coalesce or Exchange
    eng.flush_schema_cache()
    query = Query(eng).columns("[Measures].[Sum Qty]").rows("[Customer].children")
    query.execute().df.collect()  # fills the aggregate cache
    res = query.execute()  # its hit moves the grid to the driver
    sort = res._df.orderBy(*res.order_spec)._jdf.queryExecution().optimizedPlan()
    p = plan_str(res.df)
    check(
        "resident_hit.sort_over_local_rows_is_bare_local_scan",
        sort.nodeName() == "Sort"
        and sort.child().nodeName() == "LocalRelation"
        and p.startswith("LocalTableScan")
        and not any(n in p for n in ("Sort", "Coalesce", "Exchange")),
        f"optimized: {sort.nodeName()} <- {sort.child().nodeName()}; plan: {p[:400]}",
    )

    print(f"\n{len(failures)} failed properties" if failures else "\nall plan properties hold")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
