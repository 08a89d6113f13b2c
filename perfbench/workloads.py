"""The three workloads: what one operation is, how set-up warms the engine,
and how each output is checked.

All three are closed loops with one client.  A workload runs in rounds; the
untraced run repeats rounds until ``--seconds`` have passed.  The traced run
replays one round with spans between two runs of it without, so its
counters repeat exactly for a given seed and the timings compare like for
like.  Every round starts from the state the warm-up left.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from . import mdxgen, trace
from .oracle import compare


@dataclass
class Bench:
    """What every workload runs against."""

    spark: object
    data_dir: str
    oracle: object


@dataclass
class Op:
    kind: str
    seconds: float
    #: what to check once the timed region is over: a callable returning an
    #: error string or None
    check: object = None
    error: str | None = None


def concurrently(fns) -> list:
    """Run the callables on one thread per core and return their results.

    Warm-up only: one statement at a time leaves most cores idle while Spark
    schedules many small jobs, and the JIT warms the same either way."""
    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
        futures = [pool.submit(fn) for fn in fns]
        return [f.result() for f in futures]


def tidy(res) -> tuple[list[str], list[tuple]]:
    """The Result's cells as named rows: rows-axis members, then measures.

    Every template puts only measures on COLUMNS, so the pivot's columns are
    the measure names.  An axis built from several sets lists its columns
    once per set; the first occurrence of each name is kept."""
    p = res.pivot()
    keys = res.axis_columns[1] if len(res.axis_columns) > 1 else []
    first: dict[str, int] = {}
    for i, c in enumerate(keys):
        first.setdefault(c, i)
    cols = list(first) + [m for _, m in p["columns"]]
    rows = [
        tuple(rk[i] for i in first.values()) + tuple(vals)
        for rk, vals in zip(p["rows"], p["values"])
    ]
    return cols, rows


class Workload:
    name = ""
    #: the untraced run times at least this many rounds, however long they take
    min_rounds = 1

    def __init__(self, bench, seed: int):
        self.bench = bench
        self.spark = bench.spark
        self.rng = random.Random(seed)
        self.engine = None

    def build(self) -> None:
        """Set-up step between the session and the warm-up."""

    def warm_up(self) -> None:
        raise NotImplementedError

    def round(self, rng: random.Random, tracer=None) -> list[Op]:
        raise NotImplementedError

    def check_setup(self) -> list[str]:
        """Errors in results the set-up kept for later comparison."""
        return []

    def cache_stats(self) -> dict[str, int]:
        c = self.engine.cache if self.engine is not None else None
        if c is None:
            return {"hits": 0, "misses": 0, "rollups": 0, "evictions": 0}
        return {"hits": c.hits, "misses": c.misses, "rollups": c.rollups, "evictions": c.evictions}

    # -- one MDX statement ------------------------------------------------
    def _execute(self, st: mdxgen.Statement):
        """One operation: MDX text to formatted cells and the pivoted grid."""
        res = self.engine.execute(st.mdx)
        res.formatted_values
        res.pivot()
        return res

    def _mdx(self, st: mdxgen.Statement, tracer) -> tuple[Op, object]:
        if tracer is None:
            t0 = time.perf_counter()
            res = self._execute(st)
            seconds = time.perf_counter() - t0
        else:
            res, seconds = trace.traced_mdx(tracer, self.engine, st.mdx)
        return Op(st.family, seconds), res

    def _get_engine(self):
        from mondrian_olap_spark.tpch import get_engine

        return get_engine(self.spark, self.bench.data_dir)


class OlapCold(Workload):
    """Seeded MDX statements, one per template family per round, with the
    aggregate cache and Spark's cache cleared before each."""

    name = "olap_cold"

    def build(self) -> None:
        self.engine = self._get_engine()

    def _flush(self) -> None:
        self.engine.flush_schema_cache()
        self.spark.catalog.clearCache()

    def warm_up(self) -> None:
        rng = random.Random(0)
        statements = [family(rng) for family in mdxgen.FAMILIES]
        concurrently([lambda st=st: self._execute(st) for st in statements])

    def round(self, rng: random.Random, tracer=None) -> list[Op]:
        families = list(mdxgen.FAMILIES)
        rng.shuffle(families)
        ops = []
        for family in families:
            st = family(rng)
            self._flush()
            op, res = self._mdx(st, tracer)
            cols, rows = tidy(res)
            op.check = lambda st=st, cols=cols, rows=rows: self.bench.oracle.check(st.sql, cols, rows)
            ops.append(op)
        return ops


@dataclass
class _Pooled:
    st: mdxgen.Statement
    cols: list = field(default_factory=list)
    rows: list = field(default_factory=list)


#: families a warm session revisits.  Statements with translation-time sets
#: (Exists over a Filter, per-member Generate) re-run their Spark jobs on
#: every read, and a time-intelligence read costs twice a plain one; as a
#: sixth of all reads it would sit right at p75 and make the tail jump
#: between two clusters.  olap_cold exercises all three.
WARM_FAMILIES = (
    mdxgen.level_axis,
    mdxgen.crossjoin_nonempty,
    mdxgen.topcount,
    mdxgen.filter_order,
    mdxgen.strtomember,
)


class OlapWarmSession(Workload):
    """An analyst's walk over a statement pool, one seeded statement per
    warm family, with a hot aggregate cache.

    Each segment of a round writes once, a region flush of one year as
    after an ETL load, then reads every pool statement ``PASSES`` times in a
    seeded order, moving between levels, slicers and axes (drill down, roll
    up, re-slice, re-pivot).  The flush drops the entries of that year and
    those not sliced by year (one to three of the five), so a few reads
    after each write rebuild: under one read in ten, beyond p75.  The reads
    after the last write rebuild what it dropped, so every round ends, as it
    starts, with the whole pool cached."""

    name = "olap_warm_session"
    PASSES = 6
    SEGMENTS = 2
    #: concurrent warm-up reads of each pool statement
    WARM_READS = 4

    def build(self) -> None:
        self.engine = self._get_engine()
        self.pool = [_Pooled(family(self.rng)) for family in WARM_FAMILIES]

    def warm_up(self) -> None:
        # the pool fits in AggregateCache.max_entries: afterwards every read
        # is served from cache until a flush drops its entry
        results = concurrently([lambda p=p: self._execute(p.st) for p in self.pool])
        for p, res in zip(self.pool, results):
            p.cols, p.rows = tidy(res)
        # then warm the cache-hit path: reads keep getting faster for about
        # a hundred of them, which run faster concurrently; then a serial pass
        concurrently([lambda p=p: self._execute(p.st) for p in self.pool * self.WARM_READS])
        for p in self.pool:
            self._execute(p.st)

    def check_setup(self) -> list[str]:
        """Oracle check of the pool results kept by the warm-up."""
        errs = []
        for p in self.pool:
            err = self.bench.oracle.check(p.st.sql, p.cols, p.rows)
            if err:
                errs.append(f"{p.st.family}: {err}")
        return errs

    def round(self, rng: random.Random, tracer=None) -> list[Op]:
        ops = []
        for _ in range(self.SEGMENTS):
            ops.append(self._write(("Time", str(rng.choice(mdxgen.YEARS))), tracer))
            for _ in range(self.PASSES):
                for p in rng.sample(self.pool, len(self.pool)):
                    op, res = self._mdx(p.st, tracer)
                    cols, rows = tidy(res)
                    # a read must return the cells the statement returned
                    # before any flush; those are checked against the oracle
                    op.check = lambda p=p, cols=cols, rows=rows: compare(rows, cols, p.rows, p.cols)
                    ops.append(op)
        return ops

    def _write(self, segments: tuple, tracer) -> Op:
        if tracer is not None:
            return Op("flush", trace.traced_flush(tracer, self.engine, segments))
        t0 = time.perf_counter()
        self.engine.flush_region_cache_with_segments(segments)
        return Op("flush", time.perf_counter() - t0)


#: the curation entries, each called through ``__wrapped__`` so the suite's
#: statement cache cannot turn a pass into a re-collect of a built plan
CURATION_ENTRIES = (
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_pairs",
    "text_cdc_chunks",
    "text_quality_features",
    "embed_pq_topk",
    "multimodal_decode_features",
)


class CurationBatch(Workload):
    """Passes over six data-curation pipeline entries on the documents and
    embeddings tables; a round is one pass, in an order the seed picks."""

    name = "curation_batch"
    #: a pass takes about as long as a 10 s window, so without a floor a
    #: slow host would time one pass (the slower first one) and a fast host
    #: two; the tail, one entry's latency, would jump between the two
    min_rounds = 2

    def build(self) -> None:
        from mondrian_olap_spark import suite, suite_pipeline  # noqa: F401 — registers entries

        self.suite = suite

    def _entry(self, name: str):
        return self.suite.QUERIES[name].__wrapped__

    def warm_up(self) -> None:
        # one pass, one entry at a time, on the full tables: smaller inputs
        # plan (and so compile) differently.  It takes out the first pass,
        # 2-3x slower than later ones; the second is still 20-30 % slower
        # than the third, but a second untimed pass would add about 15 s of
        # set-up to every run
        for name in CURATION_ENTRIES:
            self._entry(name)(self.spark, self.bench.data_dir).collect()

    def round(self, rng: random.Random, tracer=None) -> list[Op]:
        names = rng.sample(CURATION_ENTRIES, len(CURATION_ENTRIES))
        ops = []
        for name in names:
            fn = self._entry(name)
            if tracer is None:
                t0 = time.perf_counter()
                df = fn(self.spark, self.bench.data_dir)
                rows = df.collect()
                op = Op(name, time.perf_counter() - t0)
            else:
                df, rows, seconds = trace.traced_entry(
                    tracer, name, fn, self.spark, self.bench.data_dir
                )
                op = Op(name, seconds)
            rows = [tuple(r) for r in rows]
            sql = self.suite.ORACLE[name]
            op.check = lambda sql=sql, cols=df.columns, rows=rows: self.bench.oracle.check(sql, cols, rows)
            ops.append(op)
        return ops


WORKLOADS = {w.name: w for w in (OlapCold, OlapWarmSession, CurationBatch)}
