#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload olap_warm_session --seed 1 --seconds 10 --trace 0

Prints one line per metric (name, value, unit), then, as the last line, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones, measured for
``--seconds``; with ``--trace 1`` they are the per-layer ones, from one
round replayed with spans between two runs of it without.  Metric names and units
come from ``BENCHMARK.json``; ``perfbench/spec.json`` says what each workload
and metric is.

Everything the run writes stays under ``.bench_build/perfbench`` in the
checkout: the generated tables, cached oracle answers, Spark's local
directories and the traced run's span file.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants: the JVM and the
    Python workers it forks."""
    parent: dict[int, int] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # exited while listing
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0


def _start_session(build: str):
    from pyspark.sql import SparkSession

    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(build, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        # a fixed 1 GiB heap (-Xms = -Xmx): far below physical memory, and
        # the JVM's share of peak_rss_mb does not depend on when G1 grows it
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(build, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(build, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Xms1g -Djava.io.tmpdir={tmp}")
        # Python workers import the package from this checkout
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def _percentile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    k = max(0, math.ceil(p / 100.0 * len(sorted_vals)) - 1)
    return sorted_vals[k]


def _tail_percentile(n: int) -> float:
    """The highest of p99.9 ... p50 with at least ten of ``n`` samples
    beyond it; 100 (the maximum) when ``n`` is under twenty."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1.0 - p / 100.0) >= 10.0:
            return p
    return 100.0


def _run_round(wl, rng, tracer) -> list:
    from perfbench.workloads import Op

    try:
        return wl.round(rng, tracer)
    except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
        print(f"perfbench: {wl.name} operation failed: {e!r}", file=sys.stderr)
        return [Op("error", 0.0, error=repr(e))]


def _ops_per_s(ops) -> float:
    busy = sum(op.seconds for op in ops)
    done = sum(op.error is None for op in ops)
    return done / busy if busy else 0.0


def _ms(ops) -> list[float]:
    return sorted(op.seconds * 1000.0 for op in ops if op.error is None) or [0.0]


def _timed(wl, seconds: float, setup_s: float) -> tuple[list, dict, str]:
    """Untraced rounds until ``seconds`` have passed, and at least the
    workload's ``min_rounds``: the end-to-end metrics.  Every round starts
    from the state the warm-up left, so a run of one round and a run of two
    measure the same mix of operations.  The tail is the median over rounds
    of each round's tail percentile, so the percentile does not depend on
    how many rounds fit."""
    rounds: list[list] = []
    deadline = time.perf_counter() + seconds
    while len(rounds) < wl.min_rounds or time.perf_counter() < deadline:
        rounds.append(_run_round(wl, wl.rng, None))
    ops = [op for r in rounds for op in r]
    p = _tail_percentile(len(rounds[0]))
    metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(_ms(ops)),
        "latency_tail_ms": statistics.median(_percentile(_ms(r), p) for r in rounds),
        "ops_per_s": _ops_per_s(ops),
        "peak_rss_mb": _peak_rss_mb(),
    }
    return ops, metrics, f"tail p{p:g} of {len(rounds[0])} ops, median of {len(rounds)} rounds"


def _traced(wl, spark, span_file: str) -> tuple[list, dict, str]:
    """The same round three times, each from the same rng state and cache
    state: without spans, with them, and without them again.  The traced
    round gives the per-layer metrics; comparing it with the mean of the
    two around it gives the cost of tracing, with a trend in speed (the JIT
    still warming) cancelled out."""
    from perfbench import trace
    from perfbench.workloads import CURATION_ENTRIES

    state = wl.rng.getstate()
    plain = _run_round(wl, wl.rng, None)
    tracer = trace.Tracer(spark)
    wl.rng.setstate(state)
    cache0 = wl.cache_stats()
    traced = _run_round(wl, wl.rng, tracer)
    cache1 = wl.cache_stats()
    wl.rng.setstate(state)
    after = _run_round(wl, wl.rng, None)
    tracer.write(span_file)
    metrics = trace.layer_metrics(tracer, CURATION_ENTRIES)
    for k in cache0:
        metrics[f"cache.{k}"] = float(cache1[k] - cache0[k])
    lookups = sum(metrics[f"cache.{k}"] for k in ("hits", "misses", "rollups"))
    metrics["cache.hit_ratio"] = (
        (metrics["cache.hits"] + metrics["cache.rollups"]) / lookups if lookups else 0.0
    )
    base = (_ops_per_s(plain) + _ops_per_s(after)) / 2.0
    metrics["trace.overhead_pct"] = 100.0 * (1.0 - _ops_per_s(traced) / base) if base else 0.0
    return plain + traced + after, metrics, f"{len(traced)} traced ops"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing orders the engine's sets and dicts, and through
        # them its plans; a fixed seed makes every run plan alike
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    if not os.path.isfile(os.path.join(ROOT, "mondrian_olap_spark", "__init__.py")):
        print(
            "perfbench: no mondrian_olap_spark package next to perfbench/; "
            "run from the root of a repository checkout",
            file=sys.stderr,
        )
        return 2
    build = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(os.path.join(build, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(build, "tmp")
    # the JVM, and the Python workers it starts, inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    from perfbench import datagen
    from perfbench.oracle import Oracle
    from perfbench.workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    data_dir, gen_s = datagen.ensure(build)
    t0 = time.perf_counter()
    spark = _start_session(build)
    session_s = time.perf_counter() - t0
    oracle = Oracle(data_dir, os.path.join(build, f"oracle-v{datagen.VERSION}"))
    try:
        wl = WORKLOADS[args.workload](Bench(spark, data_dir, oracle), args.seed)
        t0 = time.perf_counter()
        wl.build()
        engine_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t0
        # from process start to the first timed operation, less the one-off
        # generation of the input tables in a fresh checkout
        setup_s = _process_age_s() - gen_s
        if args.trace:
            span_file = os.path.join(build, f"trace-{wl.name}-seed{args.seed}.json")
            ops, metrics, note = _traced(wl, spark, span_file)
            metrics["setup.session_s"] = session_s
            metrics["setup.engine_s"] = engine_s
            metrics["setup.warmup_s"] = warmup_s
        else:
            ops, metrics, note = _timed(wl, args.seconds, setup_s)
    finally:
        _stop_session(spark)

    # outputs are checked here, after the timed region and after Spark
    # has stopped
    setup_errors = wl.check_setup()
    failed = 0
    for op in ops:
        err = op.error or (op.check() if op.check is not None else None)
        if err:
            failed += 1
            print(f"perfbench: {op.kind} failed or wrong: {err}", file=sys.stderr)
    for err in setup_errors:
        print(f"perfbench: warm-up result wrong: {err}", file=sys.stderr)
    oracle.close()

    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[section]}
    print(f"{wl.name} seed={args.seed} trace={args.trace}: {len(ops)} ops, {note}")
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.seconds * 1000.0)
    for kind, vals in sorted(by_kind.items()):
        print(f"  op {kind}: {len(vals)} ops, median {statistics.median(vals):.6g} ms")
    print(f"  error_rate {failed / max(1, len(ops)):.6g} ratio")
    for name in units:
        print(f"  {name} {metrics[name]:.6g} {units[name]}")
    result = {
        "correct": failed == 0 and not setup_errors,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
