#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

HEADLINE = [
    "flagship_region_quarter",
    "pricing_summary_flags",
    "crossjoin_nation_priority",
    "rollup_region_nation",
    "distinct_count_by_region",
    "topcount_nations",
    "toppercent_nations",
    "ytd_monthly",
    "parallel_period_month",
    "calc_member_chain",
    "drillthrough_cell",
    "generate_customer_list",
    "events_by_type",
    "virtual_sales_orders",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_pairs",
    "embed_cosine_topk",
    "text_quality_features",
    "parent_child_rollup",
    "tuple_case_contextual",
    "multimodal_decode_features",
    # round-5 operators
    "events_asof_attribution",
    "events_funnel_steps",
    "text_segment_dedup",
    "text_inverted_index",
    "pipeline_pack_concat",
    "events_props_json_stats",
    "embed_quantization_report",
    "pipeline_skew_profile",
    "pipeline_end_to_end_curation",
    # late round-5 operators
    "text_bpe_pair_counts",
    "text_top_ngrams",
    "pipeline_length_histogram",
    "pipeline_decontamination_report",
    "pipeline_temperature_mix",
    "pipeline_corpus_diff",
    # round-5 continuation operators
    "multimodal_real_wav_gate",
    "text_cms_frequency_gate",
    "pipeline_apply_changes",
    "events_zorder_cells",
    "events_salted_join",
    "pipeline_shuffle_order",
    "pipeline_padding_efficiency",
    "text_bigram_perplexity",
    # incremental-ingestion + profiling operators
    "dedup_incremental_bloom",
    "dedup_incremental_neardup",
    "text_normalize_gate",
    "pipeline_column_profile",
    "events_daily_anomaly",
    "events_user_sequences",
    "pipeline_length_deciles",
    "text_cdc_chunks",
    "text_script_profile",
    "sketch_distinct_rollup",
    "text_repeated_segments_removed",
    "filter_member_property_gate",
    "pipeline_incremental_curation",
    "text_tokens_to_ids",
    "embed_pq_codes",
    "embed_pq_topk",
    "text_mojibake_gate",
    "events_inter_event_stats",
    "pipeline_negative_samples",
    "text_blocklist_filter",
    "text_doc_keywords",
    # round-6 maintenance operators (artifact build + delta fold + probe)
    "aggregate_refresh_gate",
    "embed_ivf_append_gate",
    "dedup_index_append_gate",
    "dedup_bloom_append_gate",
    "pipeline_stateful_ingest_gate",
    "pipeline_stateful_neardup_gate",
    "advisor_auto_materialize_gate",
    # round-7 operators
    "default_member_all_gate",
    "vba_excel_breadth_gate",
    "vba_financial_gate",
    "embed_cluster_balanced_sample",
    "text_importance_weights",
    "text_importance_sample_gate",
    "embed_semantic_dedup_gate",
    "text_importance_hashed_gate",
    "streaming_importance_gate",
    # round-8 operators
    "finance_npv_irr_by_nation",
    "pipeline_plan_shards",
    "pipeline_shard_summary",
    "embed_ann_recall_gate",
    "documents_quality_cube",
    "vba_breadth2_gate",
    "pipeline_shard_append_gate",
    "dedup_lsh_recall_gate",
    "text_bpe_train_merges",
    "vba_breadth3_gate",
    "embed_scatter_covariance",
    # round-8 late-session operators
    "web_canonical_urls",
    "web_host_cap_gate",
    "text_line_dedup_gate",
    "text_perceptron_gate",
    "dedup_ngram_collision_gate",
    "sketch_histogram_quantiles",
    "sketch_histogram_append_gate",
    "events_scd2_enrich",
    "web_curation_chain_gate",
    # round-9 operators
    "linreg_formula_text_gate",
    "setstat_formula_text_gate",
    "ytd_mdx_gate",
    "parallelperiod_mdx_gate",
    "ytd_axis_gate",
    "visualtotals_mdx_gate",
    "union_intersect_mdx_gate",
    "catalog_xml_import_gate",
    "prevmember_formula_gate",
    "dedup_substring_spans_gate",
    "dedup_span_ingest_gate",
    "events_pagerank_gate",
    "parallelperiod_quarter_gate",
    "openingperiod_ancestor_gate",
    # round-10 operators
    "generate_string_formula_gate",
    "strtomember_mdx_gate",
    "currentdatemember_formula_gate",
    "xml_aggname_routing_gate",
    "partitioned_fact_dpp_gate",
    "generate_measure_concat_gate",
    # round-11 operators
    "exists_set_expression_gate",
    "except_set_expression_gate",
    "drilldown_set_expression_gate",
    "existing_context_gate",
    "descendants_flags_gate",
    "count_filter_formula_gate",
    "generate_per_member_gate",
    "union_set_expression_gate",
    # round-12 operators
    "exists_mixed_depth_set_gate",
    "descendants_ragged_leaves_gate",
    "generate_post_ops_gate",
]



def compact_line(detail: dict, queries_n: int, budget: int = 1700) -> str:
    """The ONE stdout JSON line the driver parses.  The driver keeps only
    a ~2000-char tail of bench stdout, and rounds 5-7 silently recorded
    parsed=null when the per-query map outgrew it — so the emitted line
    is filled slowest-warm-first and HARD-capped at ``budget`` chars
    (full per-query detail lives in BENCH_DETAIL.json).  Unit-pinned.

    ``omitted_n`` counts entries that fell below the cap: absence of a
    name from ``queries`` with ``omitted_n > 0`` means "below the
    slowest-first cutoff", NOT "dropped from the bench" — round-12 PERF
    recorded 5 phantom drops for entries that got FASTER and fell off
    the line (queries_n was unchanged both rounds)."""
    line = {
        "metric": "headline warm wall time (full detail: BENCH_DETAIL.json)",
        "value": detail["value"],
        "unit": "sec",
        "cold_value": detail["cold_value"],
        "queries_n": queries_n,
        # placeholder at the widest value omitted_n can take (it counts
        # at most queries_n entries), so the budget check reserves its room
        "omitted_n": queries_n,
        "sf": detail["sf"],
        "queries": {},
    }
    warm = detail["queries"]
    for name in sorted(warm, key=lambda n: warm[n], reverse=True):
        line["queries"][name] = warm[name]
        if len(json.dumps(line, separators=(",", ":"))) > budget:
            del line["queries"][name]
            break
    line["omitted_n"] = queries_n - len(line["queries"])
    return json.dumps(line, separators=(",", ":"))


#: query classes whose scans want small splits (see _tune_splits)
PIPELINE_PREFIXES = ("dedup_", "embed_", "text_", "pipeline_", "multimodal_")

#: in-suite warm time > CHURN_FACTOR × last round's → isolated re-time
CHURN_FACTOR = 1.5
#: absolute grace on the isolated verdict: sub-50 ms entries have noise
#: amplitudes far above 1.5× of themselves — a "regression" label needs
#: the isolated time to exceed BOTH the ratio and this absolute margin
CHURN_ABS_GRACE = 0.1
#: bound the isolated re-time cost per bench run
CHURN_MAX_ISOLATES = 8


def load_prev_history(
    paths, sf_val, cpus_val
) -> tuple[dict, dict]:
    """Load (prev_warm, isolated_baselines) from the first candidate file
    that matches BOTH the scale factor and the core count.

    A baseline is like-for-like only at the same sf AND cpus: files
    written before the ``cpus`` key existed, or by a run at another core
    count, are NOT comparable — round-12's 8-core scaling sweep
    adjudicated 8-core isolates against 32-core baselines and emitted two
    untrustable "regression" verdicts (pipeline_negative_samples scales
    2.34× with cores).  Mismatching history is ignored entirely: the next
    same-core run then RECORDS fresh baselines (verdict "baseline")
    instead of cross-core regressions."""
    for source in paths:
        try:
            with open(source) as f:
                prev = json.load(f)
        except (OSError, ValueError):
            continue
        if prev.get("sf") == sf_val and prev.get("cpus") == cpus_val:
            # per-entry isolated baselines persist ACROSS runs so a mover
            # is adjudicated isolated-vs-isolated (like-for-like), never
            # isolated-vs-in-suite (round-11 VERDICT demerit #1); carried
            # forward verbatim for entries not re-isolated this run
            return prev.get("queries", {}), dict(
                prev.get("isolated_baselines", {})
            )
    return {}, {}


def churn_verdict(
    isolated_warm: float,
    baseline_warm: float,
    baseline_kind: str,
) -> str:
    """Adjudicate an isolated re-time against its baseline.

    ``baseline_kind`` names where the baseline came from: ``"isolated"``
    (a previous run's isolated warm for the same entry — like-for-like,
    trustworthy) or ``"in_suite"`` (no isolated history yet; the previous
    full-suite warm).  An in-suite baseline is measured after ~130 queries
    of C2 compilation, so a freshly-warmed isolate JVM can only look
    slower — such comparisons may only ever produce ``"churn"`` or
    ``"baseline"`` (meaning: recorded as the first isolated baseline,
    regression call deferred to the next like-for-like comparison).
    Round-11 VERDICT demerit #1: the old detector compared isolated vs
    in-suite and emitted untrustable "regression" labels.
    """
    if isolated_warm <= CHURN_FACTOR * baseline_warm + CHURN_ABS_GRACE:
        return "churn"
    return "regression" if baseline_kind == "isolated" else "baseline"


def _build_spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("mondrian-olap-spark-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _tune_splits(spark, name: str) -> None:
    # Split sizing is per query CLASS, set at runtime (both confs are
    # dynamic SQL confs).  Pipeline entries (dedup/ANN/text) explode a
    # single small parquet file ~100× — a 4 MB split spreads that scan and
    # the explosion across the local executor threads, the local-mode
    # analog of what multi-file layout gives a real cluster for free.
    # Star/OLAP queries scan tiny dims + one fact file; shrinking their
    # splits just multiplies scheduler overhead (~10× more tasks for the
    # same bytes — the r2 regressions), so they keep the 128 MB default,
    # which is also the right setting at 100 TB.
    if name.startswith(PIPELINE_PREFIXES):
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", str(1024 * 1024))
    else:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))


def _flush_caches(spark) -> None:
    """Drop every engine-level cache so the next run rebuilds the plan
    and re-reads the fact table: statement cache (analyzed DataFrames),
    aggregate caches (persisted cell segments), and any other persisted
    intermediates.  The JVM stays warm — cold here means cold PLAN, the
    measurement that reflects plan quality at scale."""
    from mondrian_olap_spark import suite, tpch

    suite._STATEMENTS.clear()
    for eng in tpch._ENGINES.values():
        eng.flush_schema_cache()
    spark.catalog.clearCache()


def isolate(name: str) -> None:
    """Fresh-JVM re-time of ONE entry (``bench.py --isolate <name>``) —
    the churn detector's cross-check: an entry that regressed in-suite
    but times flat in isolation is suite-order JIT/GC churn, not a plan
    regression.  Prints one JSON line {"name", "cold", "warm"}."""
    import mondrian_olap_spark.suite_pipeline  # noqa: F401 — registers entries
    from mondrian_olap_spark.suite import QUERIES

    spark = _build_spark()
    QUERIES["flagship_region_quarter"](spark, SF_DIR).collect()  # JVM warm
    fn = QUERIES[name]
    _tune_splits(spark, name)
    # Warm the entry's OWN codegen before timing (runs 1-2 untimed, timed
    # runs are 3+).  Codegen-heavy entries (MinHash's 100+ hash exprs)
    # need their own generated classes C2-compiled before a warm number
    # is comparable to an in-suite warm measured after the full sweep —
    # round-11 VERDICT demerit #1.
    for _ in range(2):
        fn(spark, SF_DIR).collect()
    _flush_caches(spark)
    t0 = time.perf_counter()
    fn(spark, SF_DIR).collect()
    cold = round(time.perf_counter() - t0, 3)
    w = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, SF_DIR).collect()
        w = min(w, time.perf_counter() - t0)
    print(json.dumps({"name": name, "cold": cold, "warm": round(w, 3)}))


def main() -> None:
    import mondrian_olap_spark.suite_pipeline  # noqa: F401 — registers entries
    from mondrian_olap_spark.suite import QUERIES

    spark = _build_spark()

    # warm the JVM + parquet footers with one throwaway run (cold-start JIT
    # noise is not what we're measuring; the reference engine likewise
    # measures warm-cache behavior — BASELINE.md)
    QUERIES["flagship_region_quarter"](spark, SF_DIR).collect()

    # Pass 1 — COLD: caches flushed before every query; times plan build +
    # full execution (what a first-run query costs, the number that scales
    # with data volume).  Passes 2-3 — WARM: per-query min with caches on,
    # the reference's measurement convention (Mondrian's warm repeat query
    # does 0 SQL — BASELINE.md).
    # Noise-robust per-query signal alongside wall time: whole-JVM GC ms
    # (MX beans, exact cumulative counter — the sequential one-JVM sweep
    # inflates tails 20-30% under GC pressure, so a flat-vs-regressed call
    # needs the GC share visible).  Per-query values are before/after
    # deltas.  (The status store's executor totalDuration was evaluated
    # and rejected: it lags the listener bus and under-reports parallel
    # task time in local mode even after waitUntilEmpty.)
    def _jvm_gc_ms() -> int:
        beans = (
            spark._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        it, total = beans.iterator(), 0
        while it.hasNext():
            total += it.next().getCollectionTime()
        return total

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    cold_gc: dict[str, int] = {}
    warm_gc: dict[str, int] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        _tune_splits(spark, name)
        _flush_caches(spark)
        gc0 = _jvm_gc_ms()
        t0 = time.perf_counter()
        fn(spark, SF_DIR).collect()
        cold[name] = round(time.perf_counter() - t0, 3)
        cold_gc[name] = _jvm_gc_ms() - gc0
    for _ in range(2):
        for name in HEADLINE:
            fn = QUERIES[name]
            _tune_splits(spark, name)
            gc0 = _jvm_gc_ms()
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            dt = round(time.perf_counter() - t0, 3)
            if dt <= warm.get(name, float("inf")):
                # GC ms of the run that set the reported minimum
                warm_gc[name] = _jvm_gc_ms() - gc0
            warm[name] = min(warm.get(name, dt), dt)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # Full per-query detail (warm + cold + GC) goes to BENCH_DETAIL.json —
    # the stdout contract is ONE short JSON line.  The driver keeps only
    # the final ~2000 chars of stdout, so the printed line must stay well
    # under that or it records parsed=null (this silently ate the bench
    # numbers for rounds 5-7 once the suite passed ~45 entries).
    detail = {
        "metric": (
            "headline-query wall time (warm-cache steady state; "
            "cold = fresh plans + flushed caches, warm JVM)"
        ),
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        "queries": warm,
        "cold_value": round(sum(cold.values()), 3),
        "cold_queries": cold,
        "cold_gc_ms": cold_gc,
        "warm_gc_ms": warm_gc,
        "sf": sf_val,
    }
    cpus_val = int(CPUS)
    detail["cpus"] = cpus_val
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo_dir, "BENCH_DETAIL.json")
    # per-core-count archive: the driver's scaling sweep re-runs the bench
    # at a lower CPUS and used to overwrite BENCH_DETAIL.json, destroying
    # the 32-core per-query detail AND feeding 8-core isolates to 32-core
    # baselines (round-12 VERDICT "What's wrong" #2/#6).  Baseline history
    # is now read from the SAME-core archive, never the mixed latest-run
    # file.
    percore_path = os.path.join(repo_dir, f"BENCH_DETAIL_c{cpus_val}.json")
    # churn containment: any entry whose in-suite warm time regressed
    # >CHURN_FACTOR× vs the PREVIOUS run (same sf AND same core count) is
    # re-timed in a fresh JVM subprocess — flat-in-isolation means
    # suite-order JIT/GC churn, not a plan regression; the isolated
    # numbers land in BENCH_DETAIL mechanically so STATUS cites them
    # instead of hand-investigating
    prev_warm, iso_baselines = load_prev_history(
        (percore_path, detail_path), sf_val, cpus_val
    )
    movers = sorted(
        (
            n
            for n in HEADLINE
            if n in prev_warm and warm[n] > CHURN_FACTOR * prev_warm[n]
        ),
        key=lambda n: warm[n] / prev_warm[n],
        reverse=True,
    )
    isolated: dict[str, dict] = {}
    if movers:
        import subprocess

        for name in movers[:CHURN_MAX_ISOLATES]:
            rec: dict = {
                "in_suite_warm": warm[name],
                "prev_warm": prev_warm[name],
            }
            try:
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--isolate", name],
                    capture_output=True, text=True, timeout=600,
                    env=os.environ.copy(),
                )
                lines = [
                    ln for ln in out.stdout.strip().splitlines()
                    if ln.startswith("{")
                ]
                rec.update(json.loads(lines[-1]))
                base = iso_baselines.get(name)
                if base:
                    rec["baseline_warm"] = base["warm"]
                    rec["baseline_kind"] = "isolated"
                else:
                    rec["baseline_warm"] = prev_warm[name]
                    rec["baseline_kind"] = "in_suite"
                rec["verdict"] = churn_verdict(
                    rec["warm"], rec["baseline_warm"], rec["baseline_kind"]
                )
                if rec["verdict"] != "regression":
                    # a regression keeps the PRE-regression baseline: a
                    # persistent slowdown must flag on every re-check,
                    # and creeping sub-factor drifts must accumulate
                    # against the last-good number, not the drifted one
                    iso_baselines[name] = {
                        "warm": rec["warm"], "cold": rec["cold"]
                    }
            except Exception as e:  # noqa: BLE001 — record, never fail bench
                rec["error"] = str(e)[:300]
            isolated[name] = rec
        detail["isolated"] = isolated
    if iso_baselines:
        detail["isolated_baselines"] = iso_baselines
    for path in (detail_path, percore_path):
        with open(path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)

    print(compact_line(detail, len(HEADLINE)))


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--isolate":
        isolate(sys.argv[2])
    else:
        main()
