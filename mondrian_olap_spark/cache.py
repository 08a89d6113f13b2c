"""Aggregate-DataFrame cache — the Spark analog of Mondrian's segment cache
(SURVEY.md §4; ``jar!mondrian/rolap/agg/SegmentCacheManager``,
``mondrian/spi/SegmentCache``).

Where Mondrian caches dense/sparse arrays of aggregated cells keyed by
(measure, level tuple, predicate), we cache *persisted aggregate DataFrames*
keyed by the logical aggregation signature (cube, grouping columns, slicer
fingerprint, measure set, totals mode).  A warm repeat query reuses the
persisted aggregate — zero fact scans, matching the reference's warm-cache
behavior (``test/query_test.rb:1162-1213``: repeated query does 0 SQL until
flush).

Two tiers hold the cached grids.  A new entry is a persisted DataFrame: its
rows live on the executors as an ``InMemoryRelation``, and a read of it
re-plans the cached star plan.  On a later hit, once that relation is
materialized, a small entry moves to the driver: its rows are collected
once into a ``LocalRelation`` (``Dataset.ofRows`` over
``LocalRelation.fromExternalRows``, fresh attributes) and the executor
copy is unpersisted.  A read of a resident entry then plans over a few
local rows — calculated members, casts and filters fold in the optimizer,
and no Exchange or broadcast is left.  When that plan is the axis sort
over those rows, ``Result.df`` sorts them in the JVM and the read runs no
Spark job, as Mondrian answers a warm repeat from the cell arrays in its
own memory; a read with a TopCount window still runs one.  The bytes held
on the driver stay within ``spark.sql.autoBroadcastJoinThreshold``, the
size Spark itself collects to the driver for a broadcast (``-1`` keeps
every entry on the executors).  Every flush and eviction drops the driver
copy with its entry.

Region flush reproduces ``cube.flush_region_cache_with_segments``
(``lib/mondrian/olap/cube.rb:519-547``; behavior spec
``test/cube_cache_control_test.rb:116-218``): flushing a member region drops
every cached aggregate that might contain cells for those members.  An entry
survives only if its slicer *provably excludes* the region (conservative
over-flushing is always correct; under-flushing never is).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from .members import MemberSetRef


def slicer_fingerprint(slicer: list[MemberSetRef]) -> tuple:
    """Canonical, order-insensitive slicer signature.  Range bounds are part
    of the identity — two ranges over the same level with different endpoints
    must not share a cache entry."""
    return tuple(
        sorted(
            (
                ref.dimension.name,
                ref.kind,
                ref.depth,
                ref.path,
                tuple(map(str, ref.ordinal_range)) if ref.ordinal_range else (),
                # a drilled range constrains the PARENT level's ordinal: the
                # same bounds at a different range_depth select different
                # rows and must not share a cache entry
                ref.range_depth,
            )
            for ref in slicer
        )
    )


#: aggregators whose cached per-group values roll up to coarser groupings
ROLLABLE = frozenset({"sum", "count", "min", "max"})


@dataclass
class _Entry:
    df: DataFrame
    #: dim name → set of constrained member paths (from the slicer);
    #: a dim absent from this map is unconstrained in this aggregate
    slicer_paths: dict[str, set[tuple]] = field(default_factory=dict)
    #: grouping columns of this aggregate (for in-memory rollup reuse)
    group_cols: tuple = ()
    #: measure output → aggregator
    measures: dict = field(default_factory=dict)
    #: bytes of this entry's rows held on the driver (0: on the executors)
    resident_bytes: int = 0
    #: a hit is collecting this entry's rows to the driver
    moving: bool = False


class AggregateCache:
    def __init__(
        self,
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
        max_entries: int = 256,
    ):
        import threading
        from collections import OrderedDict

        #: LRU-ordered: hits move an entry to the end, inserts beyond
        #: ``max_entries`` evict (and UNPERSIST) the least-recently-used —
        #: cached aggregates pin executor memory/disk, so an unbounded
        #: cache in a long-lived session is a slow leak (the segment-cache
        #: analog of Mondrian's bounded SegmentCacheManager)
        self._entries: "OrderedDict[tuple, _Entry]" = OrderedDict()
        #: guards _entries and the stat counters: the reference serves
        #: CONCURRENT connections against one shared schema's segment
        #: cache (connection.rb:157-181), so lookup/insert/flush must be
        #: safe from multiple Python threads.  Builds run OUTSIDE the
        #: lock (a Spark job must not serialize unrelated queries); a
        #: losing duplicate build is unpersisted and the winner returned.
        self._lock = threading.RLock()
        self._storage_level = storage_level
        self.max_entries = int(max_entries)
        self.hits = 0
        self.misses = 0
        #: coarser requests served by re-aggregating a finer cached entry
        self.rollups = 0
        #: entries dropped by the LRU bound (observability)
        self.evictions = 0

    def __len__(self) -> int:
        return len(self._entries)

    @property
    def resident_bytes(self) -> int:
        """Bytes of cached rows held on the driver (observability)."""
        with self._lock:
            return sum(e.resident_bytes for e in self._entries.values())

    def get_or_build(
        self,
        key: tuple,
        slicer: list[MemberSetRef],
        builder,
        group_cols: list[str] | None = None,
        measures: dict[str, str] | None = None,
        rollup_fn=None,
    ) -> DataFrame:
        src = None
        with self._lock:
            entry = self._entries.get(key)
            if entry is not None:
                self.hits += 1
                self._entries.move_to_end(key)  # LRU touch
                if entry.resident_bytes or entry.moving:
                    return entry.df
                entry.moving = True  # one hit at a time tries the move
            elif rollup_fn is not None and measures:
                src = self._rollup_source(key, group_cols or [], measures)
        if entry is not None:
            return self._move_to_driver(key, entry)
        # build OUTSIDE the lock: a Spark job here must never serialize
        # the other threads' unrelated cache lookups
        if src is not None:
            # in-memory rollup: re-aggregate the finer cached grid
            # instead of rescanning the fact
            # (mondrian.rolap.EnableInMemoryRollup — SURVEY.md §4;
            # distinct-count/avg never roll up).  The source df stays
            # computable even if concurrently evicted (unpersist only
            # drops the storage, not the plan).
            df = rollup_fn(src)
        else:
            df = builder()
        df = df.persist(self._storage_level)
        paths: dict[str, set[tuple]] = {}
        for ref in slicer:
            if ref.path:
                paths.setdefault(ref.dimension.name, set()).add(ref.path)
        with self._lock:
            raced = self._entries.get(key)
            if raced is not None:
                # a concurrent build of the same key won the insert — keep
                # the winner, drop our duplicate's storage
                df.unpersist()
                self.hits += 1
                self._entries.move_to_end(key)
                return raced.df
            if src is not None:
                self.rollups += 1
            else:
                self.misses += 1
            self._entries[key] = _Entry(
                df=df,
                slicer_paths=paths,
                group_cols=tuple(group_cols or ()),
                measures=dict(measures or {}),
            )
            while len(self._entries) > self.max_entries:
                _, old = self._entries.popitem(last=False)
                old.df.unpersist()
                self.evictions += 1
        return df

    def _move_to_driver(self, key: tuple, entry: _Entry) -> DataFrame:
        """Serve a hit on an executor-held entry, first moving its rows to
        the driver when its cached relation is materialized and fits the
        driver budget.  The collect runs OUTSIDE the lock; the swap is made
        under it, and only if the entry is still cached and still fits."""
        df = entry.df
        local = None
        try:
            fit = self._driver_fit(df)
            if fit is not None:
                size, limit = fit
                # the JVM createDataFrame(rows, schema) is Dataset.ofRows over
                # LocalRelation.fromExternalRows with fresh attributes; the
                # rows never pass through Python
                session, jdf = df.sparkSession, df._jdf
                local = DataFrame(
                    session._jsparkSession.createDataFrame(
                        jdf.collectAsList(), jdf.schema()
                    ),
                    session,
                )
        finally:
            with self._lock:
                entry.moving = False
                swapped = (
                    local is not None
                    and self._entries.get(key) is entry
                    and size + self.resident_bytes <= limit
                )
                if swapped:
                    entry.df, entry.resident_bytes = local, size
        if not swapped:
            return df
        df.unpersist()
        return local

    def _driver_fit(self, df: DataFrame) -> tuple[int, int] | None:
        """``(size, limit)`` when ``df``'s cached relation is materialized
        and its exact size plus the bytes already on the driver stay within
        ``limit`` (``spark.sql.autoBroadcastJoinThreshold``); else None."""
        jsession = df.sparkSession._jsparkSession
        limit = jsession.sessionState().conf().autoBroadcastJoinThreshold()
        if limit < 0:
            return None
        cached = jsession.sharedState().cacheManager().lookupCachedData(df._jdf)
        if not cached.isDefined():
            return None
        relation = cached.get().cachedRepresentation()
        if not relation.cacheBuilder().isCachedColumnBuffersLoaded():
            return None
        size = int(relation.computeStats().sizeInBytes())
        if size + self.resident_bytes > limit:
            return None
        return size, limit

    def _rollup_source(
        self, key: tuple, group_cols: list[str], measures: dict[str, str]
    ) -> DataFrame | None:
        """A cached finer-grain aggregate that can serve this request: same
        cube + slicer fingerprint + totals, superset grouping, all requested
        measures present and roll-up-safe."""
        cube, _gc, fp, _m, totals = key
        if totals is not None:
            return None
        if any(agg not in ROLLABLE for agg in measures.values()):
            return None
        for other_key, e in self._entries.items():
            o_cube, _ogc, o_fp, _om, o_totals = other_key
            if o_cube != cube or o_fp != fp or o_totals is not None:
                continue
            if not set(group_cols) <= set(e.group_cols):
                continue
            # same grain with a different key ORDERING also qualifies:
            # groupBy is order-insensitive, so re-aggregating the cached
            # grid is exact and beats a full fact rescan
            if all(out in e.measures for out in measures):
                return e.df
        return None

    def flush_all(self) -> int:
        """Whole-schema flush (``connection.rb:153-181`` flush_schema_cache)."""
        with self._lock:
            n = len(self._entries)
            for e in self._entries.values():
                e.df.unpersist()
            self._entries.clear()
            return n

    def flush_region(self, region: list[MemberSetRef]) -> int:
        """Drop cached aggregates overlapping a member region.

        Region semantics (cube.rb:519-547 flush_region_cache_with_segments):
        same-dimension members form a UNION, distinct dimensions a cross
        product.  An entry is safe only if, for some dimension in the
        region, the entry excludes EVERY member of that dimension's group
        (no overlap on one cross-product axis ⇒ no intersection).  Keeping
        an entry because it excludes merely *one* member of a same-dim
        union would under-flush — stale cells for the other members.
        Unconstrained entries (grand totals, other-dim aggregates) always
        overlap — their cells contain contributions from the region's rows.
        """
        if not region:
            return 0  # an empty region overlaps nothing — flush nothing
        by_dim: dict[str, list[MemberSetRef]] = {}
        for ref in region:
            by_dim.setdefault(ref.dimension.name, []).append(ref)
        with self._lock:
            doomed = []
            for key, entry in self._entries.items():
                if any(
                    all(self._excludes(entry, ref) for ref in refs)
                    for refs in by_dim.values()
                ):
                    continue
                doomed.append(key)
            for key in doomed:
                self._entries[key].df.unpersist()
                del self._entries[key]
            return len(doomed)

    @staticmethod
    def _excludes(entry: _Entry, ref: MemberSetRef) -> bool:
        """True if the entry's slicer provably excludes the region member."""
        if not ref.path:
            return False  # region covers the whole dimension
        allowed = entry.slicer_paths.get(ref.dimension.name)
        if not allowed:
            return False  # entry unconstrained on this dim → overlaps
        for path in allowed:
            k = min(len(path), len(ref.path))
            if tuple(path[:k]) == tuple(ref.path[:k]):
                return False  # shared prefix → possible overlap
        return True
