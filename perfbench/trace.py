"""Spans and Spark counters for the traced run, recorded from outside the
engine.

Every operation is one span tree sharing an op id: an ``op`` root with
sequential child spans, one per layer boundary the benchmark calls across
(``mdx.parse``, ``query.build``, ``catalyst``, ``exec``, ``result.format``;
``operators.build`` for a curation entry; ``cache.flush`` for a write).
Spans stay in memory and are written to a JSON file when the run ends.  A
span's self time is its duration minus the time its child spans cover.

Each child span runs its Spark jobs under its own job group, so jobs, stages
and tasks are attributed to the layer that started them.  Counts are read
from Spark's status store after the listener bus has drained, so no job's
end event is missed.  Set expressions that the parser evaluates while it
parses (Generate, for one) run Spark jobs inside ``mdx.parse``; the interval
those jobs cover becomes a ``query.translate`` child span, so their time is
charged to the query layer, like translation-time jobs started later.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

#: span → the per-layer metric carrying its mean self time
SPAN_METRICS = {
    "mdx.parse": "mdx.parse_ms",
    "query.translate": "query.build_ms",
    "query.build": "query.build_ms",
    "catalyst": "catalyst.ms",
    "exec": "exec.ms",
    "result.format": "result.format_ms",
    "cache.flush": "cache.flush_ms",
}
#: Catalyst phase (QueryPlanningTracker) → per-layer metric
PHASE_METRICS = {
    "analysis": "catalyst.analysis_ms",
    "optimization": "catalyst.optimization_ms",
    "planning": "catalyst.planning_ms",
}
#: per-op counts, averaged over the ops that have them
COUNT_METRICS = (
    "query.build_jobs",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.failed_tasks",
    "exec.gc_ms",
    "exec.shuffle_write_bytes",
    "plan.exchanges",
    "plan.broadcast_exchanges",
    "plan.python_evals",
    "cache.flushed_entries",
) + tuple(PHASE_METRICS.values())


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jvm = self._sc._jvm
        self._tracker = self._sc.statusTracker()
        #: (op id, span name, parent name, start, end) in perf_counter
        #: seconds; the root span of every op is named ``op``
        self.spans: list[tuple[int, str, str | None, float, float]] = []
        #: op id → operation kind (``mdx``, ``flush`` or a curation entry)
        self.kinds: dict[int, str] = {}
        #: op id → counter name → value
        self.counts: dict[int, dict[str, float]] = defaultdict(dict)
        self._op = 0
        #: epoch seconds minus perf_counter seconds, for Spark's job times
        self._epoch = time.time() - time.perf_counter()

    # -- spans -------------------------------------------------------------
    @contextmanager
    def op(self, kind: str):
        """Root span of one operation; yields its op id."""
        self._op += 1
        op = self._op
        self._bus.waitUntilEmpty()
        gc0, shuffle0 = self._gc_ms(), self._shuffle_write()
        t0 = time.perf_counter()
        try:
            yield op
        finally:
            t1 = time.perf_counter()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.kinds[op] = kind
            self.spans.append((op, "op", None, t0, t1))
            self._bus.waitUntilEmpty()
            c = self.counts[op]
            c["exec.gc_ms"] = self._gc_ms() - gc0
            c["exec.shuffle_write_bytes"] = self._shuffle_write() - shuffle0

    @contextmanager
    def span(self, op: int, name: str):
        """A child span of ``op``; Spark jobs started inside it are counted
        against ``name``."""
        self._sc.setJobGroup(self._group(op, name), name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((op, name, "op", t0, time.perf_counter()))

    def seconds(self, op: int) -> float:
        return next(t1 - t0 for o, _n, p, t0, t1 in self.spans if o == op and p is None)

    def nest_jobs(self, op: int, name: str, child: str) -> None:
        """Add a ``child`` span of ``name`` covering the jobs ``name``
        started, from their submission to their completion."""
        jobs = self.jobs(op, name)
        times = [
            (j.submissionTime().get().getTime(), j.completionTime().get().getTime())
            for j in jobs
            if j.submissionTime().isDefined() and j.completionTime().isDefined()
        ]
        if not times:
            return
        _o, _n, _p, s0, s1 = next(sp for sp in self.spans if sp[0] == op and sp[1] == name)
        t0 = max(s0, min(a for a, _ in times) / 1000.0 - self._epoch)
        t1 = min(s1, max(b for _, b in times) / 1000.0 - self._epoch)
        if t1 > t0:
            self.spans.append((op, child, name, t0, t1))

    def jobs(self, op: int, name: str) -> list:
        """Status-store records of the jobs started inside span ``name``."""
        return [self._store.job(j) for j in self._tracker.getJobIdsForGroup(self._group(op, name))]

    @staticmethod
    def _group(op: int, name: str) -> str:
        return f"perfbench-{op}-{name}"

    # -- per-op records ----------------------------------------------------
    def record_plan(self, op: int, df, qe) -> None:
        """Catalyst phase times, the job split and the executed plan's shape
        of one op's result DataFrame."""
        from mondrian_olap_spark.operators.util import explain_report

        c = self.counts[op]
        phases = qe.tracker().phases()
        for phase, metric in PHASE_METRICS.items():
            summary = phases.get(phase)
            c[metric] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
        report = explain_report(df)
        c["plan.exchanges"] = report["exchanges"]
        c["plan.broadcast_exchanges"] = sum(j.startswith("Broadcast") for j in report["joins"])
        c["plan.python_evals"] = len(report["python_evals"])
        build = self.jobs(op, "mdx.parse") + self.jobs(op, "query.build")
        build += self.jobs(op, "operators.build")
        c["query.build_jobs"] = len(build)
        execs = self.jobs(op, "exec")
        c["exec.jobs"] = len(execs)
        c["exec.stages"] = sum(j.numCompletedStages() for j in execs)
        c["exec.tasks"] = sum(j.numCompletedTasks() for j in execs)
        c["exec.failed_tasks"] = sum(j.numFailedTasks() for j in execs)
        c["jobs"] = len(build) + len(execs)

    def self_times(self) -> dict[int, dict[str, float]]:
        """op id → span name → self time in seconds.  Child spans of one
        parent are sequential, so the time they cover is their sum."""
        covered: dict[tuple[int, str], float] = defaultdict(float)
        for op, _name, parent, t0, t1 in self.spans:
            if parent is not None:
                covered[(op, parent)] += t1 - t0
        out: dict[int, dict[str, float]] = defaultdict(dict)
        for op, name, _parent, t0, t1 in self.spans:
            out[op][name] = (t1 - t0) - covered[(op, name)]
        return out

    def write(self, path: str) -> None:
        spans = [
            {"op": op, "kind": self.kinds[op], "name": n, "parent": p, "start": t0, "end": t1}
            for op, n, p, t0, t1 in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counts": self.counts}, f, indent=1)

    # -- Spark counters ----------------------------------------------------
    def _gc_ms(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def _shuffle_write(self) -> float:
        execs = self._store.executorList(True)
        return float(sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size())))


def _cache_rows(res, rows) -> None:
    """Hand rows collected from ``res.df`` to the Result, as its own first
    collect would, so formatting is timed on rows already collected."""
    if not hasattr(res, "_rows_cache"):
        raise RuntimeError("Result no longer keeps collected rows in _rows_cache")
    res._rows_cache = rows


def traced_mdx(tr: Tracer, engine, mdx: str):
    """``engine.execute(mdx)`` split at its layer boundaries; returns the
    Result and the op's seconds."""
    from mondrian_olap_spark.mdx import MdxParser

    with tr.op("mdx") as op:
        with tr.span(op, "mdx.parse"):
            q, _drill = MdxParser(engine, mdx).parse_statement()
        with tr.span(op, "query.build"):
            res = q.execute()
        with tr.span(op, "catalyst"):
            df = res.df
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        with tr.span(op, "exec"):
            rows = df.collect()
        _cache_rows(res, rows)
        with tr.span(op, "result.format"):
            res.formatted_values
            res.pivot()
    tr.nest_jobs(op, "mdx.parse", "query.translate")
    tr.record_plan(op, df, qe)
    return res, tr.seconds(op)


def traced_entry(tr: Tracer, name: str, fn, spark, data_dir: str):
    """One curation entry: build its DataFrame, plan it, collect it."""
    with tr.op(name) as op:
        with tr.span(op, "operators.build"):
            df = fn(spark, data_dir)
        with tr.span(op, "catalyst"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        with tr.span(op, "exec"):
            rows = df.collect()
    tr.record_plan(op, df, qe)
    return df, rows, tr.seconds(op)


def traced_flush(tr: Tracer, engine, segments: tuple) -> float:
    with tr.op("flush") as op:
        with tr.span(op, "cache.flush"):
            n = engine.flush_region_cache_with_segments(segments)
    tr.counts[op]["cache.flushed_entries"] = n
    return tr.seconds(op)


def layer_metrics(tr: Tracer, entries: tuple[str, ...]) -> dict[str, float]:
    """Per-layer metrics of the traced window: span self times (ms) and
    per-op counts, each averaged over the ops that have it, plus each
    curation entry's op time and job count."""
    selfs = tr.self_times()
    kinds = tr.kinds
    out: dict[str, float] = {}
    for metric in dict.fromkeys(SPAN_METRICS.values()):
        spans = [s for s, m in SPAN_METRICS.items() if m == metric]
        vals = [sum(st.get(s, 0.0) for s in spans) for st in selfs.values() if any(s in st for s in spans)]
        out[metric] = 1000.0 * sum(vals) / len(vals) if vals else 0.0
    for metric in COUNT_METRICS:
        vals = [c[metric] for c in tr.counts.values() if metric in c]
        out[metric] = float(sum(vals)) / len(vals) if vals else 0.0
    for entry in entries:
        ops = [op for op, k in kinds.items() if k == entry]
        out[f"operators.{entry}.ms"] = (
            1000.0 * sum(tr.seconds(op) for op in ops) / len(ops) if ops else 0.0
        )
        out[f"operators.{entry}.jobs"] = (
            float(sum(tr.counts[op]["jobs"] for op in ops)) / len(ops) if ops else 0.0
        )
    total = sum(tr.seconds(op) for op in kinds)
    untracked = sum(s["op"] for s in selfs.values())
    out["trace.coverage_pct"] = 100.0 * (1.0 - untracked / total) if total else 0.0
    return out
