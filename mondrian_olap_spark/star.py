"""Star-schema assembly: semantic model + source DataFrames → dimension and
fact views.

The reference engine generates star-join SQL per query
(``/root/reference/README.md:132-143``: LEFT JOIN fact to each dimension
table on ``foreign_key = primary_key``; snowflake ``Join`` elements chain
further tables — ``lib/mondrian/olap/schema.rb:169-174``).  Here each
dimension is assembled *once* into a lazy DataFrame view (pk + one column per
level + ordinal/property expressions, all built by ``_level_columns``) and
reused by every query plan; Spark never materialises it until an action
runs, and Catalyst prunes unused columns per query, so the "assemble once"
view costs nothing at scan time.  Every dimension has one such view (a
degenerate dimension's view projects the fact), and every member lookup
reads it through one visible-member frame (``CubeEngine._visible_members``),
the analog of Mondrian's role-restricted member reader.

Scale notes (SURVEY.md §4):

* dimensions flagged ``guaranteed_small`` (region/nation-like: bounded
  cardinality at any data scale) get an explicit ``broadcast()`` hint at join
  time; everything else is left to Catalyst's size-based broadcast decision +
  AQE runtime re-planning, because a customer-like dimension is *not*
  broadcastable at 100 TB;
* degenerate (fact-column) dimension predicates filter the fact scan
  directly → parquet predicate pushdown;
* slicer predicates on table dimensions are applied to the dimension view
  *before* the join, so a broadcast hash join drops fact rows at scan time
  (and on a real cluster enables dynamic partition pruning).
"""

from __future__ import annotations

import re as _re_mod
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .model import Cube, Dimension, Schema


#: aggregators that can be re-aggregated from a summary table
#: (avg / distinct-count never roll up — SURVEY.md §7.4)
_ROLLUP_SAFE = frozenset({"sum", "count", "min", "max"})


def _ordinal_out(dim: Dimension, level) -> str:
    return f"__ord_{level.out}"


def _caption_col(lv, locale: str | None = None) -> "F.Column":
    """Display caption source for a level: the locale-selected caption
    expression (connection.rb:213-223 locale surface), else the declared
    caption expression, else the key column — optionally passed through a
    Python MEMBER FORMATTER as an Arrow-batched pandas UDF
    (schema_udf.rb:241-249 MemberFormatter — the only Python-in-the-loop
    path for member display, never per-row)."""
    from .model import localized

    expr = localized(lv.caption_locales, locale, lv.caption)
    src = F.expr(expr) if expr else F.expr(lv.column)
    if lv.formatter is None:
        return src
    fmt = lv.formatter

    @F.pandas_udf("string")
    def _apply(s):
        import pandas as pd

        return s.map(lambda v: None if pd.isna(v) else str(fmt(v)))

    # the formatter receives the RAW member value (int keys stay ints —
    # Mondrian's MemberFormatter contract); only the OUTPUT is a string
    return _apply(src)


def _formatted_property_col(pexpr: str, fmt) -> "F.Column":
    """Python PROPERTY FORMATTER (schema_udf.rb:252-261 PropertyFormatter):
    raw typed property value in, display string out — Arrow-batched as a
    pandas UDF exactly like the member formatter above, never per-row.
    The raw column stays alongside (Mondrian's getPropertyValue vs
    getPropertyFormattedValue duality)."""

    @F.pandas_udf("string")
    def _apply(s):
        import pandas as pd

        return s.map(lambda v: None if pd.isna(v) else str(fmt(v)))

    return _apply(F.expr(pexpr))


def _has_caption(lv) -> bool:
    return (
        lv.caption is not None
        or lv.formatter is not None
        or bool(lv.caption_locales)
    )


def hide_member_predicate(levels, i: int):
    """Boolean Column: the member key at ``levels[i]`` is VISIBLE under
    the ragged ``hide_member_if`` rules (schema.rb:222-230), or ``None``
    when the level has no rule.  THE single definition — listings,
    navigation, the grid filter, and the LEAVES walk all derive from it
    so they can never disagree about which members exist."""
    lv = levels[i]
    c = F.col(lv.out)
    if lv.hide_member_if == "IfBlankName":
        return c.isNotNull() & (c != "")
    if lv.hide_member_if == "IfParentsName" and i > 0:
        return ~c.eqNullSafe(F.col(levels[i - 1].out))
    return None


def _apply_member_visibility(df, dim, levels, role, depth):
    """Shared member-visibility rules — role member grants
    (connection_role_test.rb:101-184) plus ragged ``hide_member_if``
    (schema.rb:222-230) — used by level_members AND the positional
    sibling lookups so navigation and listing can never disagree about
    which members exist."""
    if role is not None:
        vis = role.member_visibility_predicate(dim, depth)
        if vis is not None:
            df = df.filter(vis)
    for i in range(len(levels)):
        p = hide_member_predicate(levels, i)
        if p is not None:
            df = df.filter(p)
    return df


def _level_columns(
    dim: Dimension, locale: str | None = None, want: set[str] | None = None
) -> list:
    """Every level's member columns: key (``level.out``), ``__ord_<out>``
    ordinal, caption, declared properties and formatted properties — all
    of them, or only the names in ``want``.  THE single builder: the
    member views, and the join view the planner ships, both read it."""
    cols = []

    def add(name, make):
        if want is None or name in want:
            cols.append(make().alias(name))

    for lv in dim.levels:
        add(lv.out, lambda: F.expr(lv.column))
        add(_ordinal_out(dim, lv), lambda: F.expr(lv.ordinal_expr))
        if _has_caption(lv):
            add(f"{lv.out}_caption", lambda: _caption_col(lv, locale))
        for pname, pexpr, pfmt in lv.property_defs:
            add(pname, lambda: F.expr(pexpr))
            if pfmt is not None:
                add(
                    f"{pname}_formatted",
                    lambda: _formatted_property_col(pexpr, pfmt),
                )
    return cols


class DimView:
    """One dimension's member view — every dimension has one, degenerate
    dimensions included.

    ``member_df`` holds one row per source row with the columns of
    :func:`_level_columns`; every member lookup reads it through
    :meth:`CubeEngine._visible_members`.  ``df`` is the join view
    (``__pk`` + the same columns) of a table dimension; a degenerate
    dimension never joins, so its ``df`` is None and its ``member_df``
    projects the fact.
    """

    def __init__(
        self,
        dim: Dimension,
        tables: Mapping[str, DataFrame],
        fact: DataFrame,
        locale: str | None = None,
    ):
        self.dim = dim
        level_cols = _level_columns(dim, locale)
        if dim.degenerate:
            self.df = None
            self.member_df = fact.select(*level_cols)
            return
        base = tables[dim.table]
        for link in dim.joins:
            right = tables[link.table]
            if link.alias:
                right = right.alias(link.alias)
            # snowflake hop (schema.rb:169-174); equi join, Catalyst picks
            # broadcast for small right sides
            base = base.join(right, F.col(link.left_key) == right[link.right_key], "inner")
        self.df = base.select(F.col(dim.primary_key).alias("__pk"), *level_cols)
        # member view: members exist independently of the bridge/fact
        # (members_from_join — model.py); defaults to the joined view
        if dim.members_from_join is None:
            self.member_df = self.df.drop("__pk")
        else:
            start = dim.members_from_join
            mbase = tables[dim.joins[start].table]
            if dim.joins[start].alias:
                mbase = mbase.alias(dim.joins[start].alias)
            for link in dim.joins[start + 1 :]:
                right = tables[link.table]
                if link.alias:
                    right = right.alias(link.alias)
                mbase = mbase.join(
                    right, F.col(link.left_key) == right[link.right_key], "inner"
                )
            self.member_df = mbase.select(*level_cols)


class CubeEngine:
    """Executable cube: semantic model bound to source DataFrames.

    The Spark analog of a Mondrian connection + RolapCube
    (``lib/mondrian/olap/connection.rb``, ``lib/mondrian/olap/cube.rb``):
    holds the fact view (degenerate level columns materialised as named
    expressions) and one :class:`DimView` per dimension, degenerate ones
    included.  Every member lookup — listing, navigation, existence,
    range bounds, property values — reads a dimension's view through one
    visible-member frame (:meth:`_visible_members`), so the role's level
    bounds and member grants and the ragged hiding rules apply alike to
    all of them.

    **Concurrency contract** (the reference pools concurrent connections
    against one shared schema — connection.rb:157-181): concurrent query
    EXECUTION through a shared engine is supported — the query path only
    reads the model, and the shared aggregate cache
    (:class:`..cache.AggregateCache`) locks its own lookup/insert/flush.
    Schema-MUTATING operations (``register_aggregate`` /
    ``materialize_aggregate`` / ``refresh_aggregates``,
    ``enable_cache``/``flush_*``, role switches, parameter edits) are
    administrative: run them from one thread, or synchronize externally —
    they are not internally locked against each other (matching the
    reference, where schema changes also require a coordinated flush).
    """

    def __init__(
        self,
        cube: Cube,
        tables: Mapping[str, DataFrame],
        parameters: tuple = (),
        roles: tuple = (),
    ):
        self.cube = cube
        self.tables = tables
        #: schema-declared typed parameters (schema.rb:515-524)
        self.parameters = tuple(parameters)
        #: schema-declared roles selectable via :meth:`set_role_name`
        self.available_roles = tuple(roles)
        fact = tables[cube.fact]
        if cube.fact_filter:
            # Table-element inline WHERE (schema.rb:71-79)
            fact = fact.filter(F.expr(cube.fact_filter))
        # materialise degenerate-dimension level columns on the fact view;
        # unused ones are pruned by Catalyst per query
        for dim in cube.dimensions:
            if dim.degenerate:
                for lv in dim.levels:
                    fact = fact.withColumn(lv.out, F.expr(lv.column))
        self.fact = fact
        #: active locale (connection.rb:213-223); 'en' default, set via the
        #: ``locale`` property / :meth:`with_locale`
        self._locale = "en"
        self.dims: dict[str, DimView] = {}
        self._rebuild_dims()
        #: optional aggregate cache (segment-cache analog, SURVEY.md §4)
        self.cache = None
        #: optional access-control role applied to every plan (§2 roles)
        self.role = None
        #: registered pre-aggregated summary tables (AggName matcher analog)
        self.aggregate_tables: list = []
        # schema-declared aggregate tables (XML AggName/AggPattern →
        # cube.aggregate_declarations, catalog_xml): register every
        # declared summary present in this engine's tables map, so a
        # migrating Mondrian schema's physical aggregates keep routing
        for decl in getattr(cube, "aggregate_declarations", ()):
            kind, raw, lv_pairs, m_pairs, excludes = decl
            pattern = _re_mod.escape(raw) if kind == "name" else raw
            self.register_aggregate_pattern(
                pattern,
                dict(lv_pairs),
                dict(m_pairs),
                exclude=tuple(
                    _re_mod.escape(x) if k == "name" else x
                    for k, x in excludes
                ),
            )

    def register_aggregate(
        self,
        df: DataFrame,
        group_outputs: list[str],
        measures: dict[str, str],
    ) -> None:
        """Register a pre-aggregated summary table — the declared
        aggregate-table surface (AggName — schema.rb:374-414; matcher
        ``jar!mondrian/rolap/aggmatcher/AggStar``).

        ``df`` holds one row per ``group_outputs`` combination with
        already-aggregated measure columns; ``measures`` maps measure output
        name → its aggregator ('sum'|'count'|'min'|'max').  The planner
        routes any query whose grouping ⊆ ``group_outputs``, whose
        predicates reference only those outputs, and whose measures are
        roll-up-safe to this table instead of the fact (avg and
        distinct-count are never rolled up from summaries — SURVEY.md §7.4
        distinct-count caveat)."""
        bad = {m: a for m, a in measures.items() if a not in _ROLLUP_SAFE}
        if bad:
            raise ValueError(f"aggregators not roll-up-safe from a summary table: {bad}")
        self.aggregate_tables.append((df, list(group_outputs), dict(measures)))

    def register_aggregate_pattern(
        self,
        pattern: str,
        levels: Mapping[str, str],
        measures: Mapping[str, str],
        exclude: tuple = (),
        ignorecase: bool = True,
    ) -> list[str]:
        """Pattern-matched aggregate tables — the ``AggPattern`` analog
        (schema.rb:374-414 AggPattern/AggExclude; recognizer
        ``jar!mondrian/rolap/aggmatcher``; rendered form
        test/schema_definition_test.rb:716-775).

        Every table in this engine's ``tables`` whose NAME matches
        ``pattern`` (a regex) registers as a summary table.  ``levels``
        maps level identifiers (``'[Customer].[Nation]'``) to physical
        column names; ``measures`` maps measure names to physical column
        names.  A matched table registers at the grain of whichever mapped
        level columns it actually HAS — Mondrian's recognizer performs the
        same per-table column check, which is how one declaration covers
        agg tables at several grains.  ``exclude`` entries (exact names or
        regexes, AggExclude) are skipped.  Returns the registered names.
        """
        import re

        from .members import resolve_level

        flags = re.IGNORECASE if ignorecase else 0
        pat = re.compile(pattern, flags)
        excl = [re.compile(e, flags) for e in exclude]
        # resolve the DECLARATION fully before touching any state: a typo'd
        # level/measure name raises here with nothing registered, and
        # non-rollup-safe measures (avg/distinct-count) are skipped per
        # table like Mondrian's recognizer skips unusable columns —
        # register_aggregate must never abort the loop mid-way
        level_outs: list[tuple[str, str]] = []  # (physical col, out)
        for ident, col in levels.items():
            dim, lvl_idx = resolve_level(self.cube, ident)
            level_outs.append((col, dim.levels[lvl_idx].out))
        measure_outs: list[tuple[str, str, str]] = []  # (col, out, agg)
        for mname, col in measures.items():
            m = self.cube.measure(mname)  # raises KeyError on typos
            if m.aggregator not in _ROLLUP_SAFE:
                continue  # avg/distinct-count never roll up from summaries
            measure_outs.append((col, m.out, m.aggregator))
        registered: list[str] = []
        for name, df in self.tables.items():
            if not pat.fullmatch(name):
                continue
            if any(e.fullmatch(name) for e in excl):
                continue
            cols = set(df.columns)
            sel = []
            group_outputs: list[str] = []
            agg_measures: dict[str, str] = {}
            for col, out in level_outs:
                if col not in cols:
                    continue  # this table is at a coarser grain
                sel.append(F.col(col).alias(out))
                group_outputs.append(out)
            for col, out, agg in measure_outs:
                if col not in cols:
                    continue
                sel.append(F.col(col).alias(out))
                agg_measures[out] = agg
            if not group_outputs or not agg_measures:
                continue  # nothing usable — not a recognizable summary
            self.register_aggregate(df.select(*sel), group_outputs, agg_measures)
            registered.append(name)
        return registered

    def materialize_aggregate(
        self,
        levels: list[str],
        measures: list[str] | None = None,
        path: str | None = None,
        bucket_by: str | None = None,
        num_buckets: int = 32,
        table_name: str | None = None,
    ) -> DataFrame:
        """Materialise + register a summary table at the grain of ``levels``
        — the "materialise this grain" convenience on top of
        :meth:`register_aggregate` (Mondrian declares agg tables in the
        schema and expects them pre-built — schema.rb:374-414; this builds
        them from the cube definition itself).

        ``levels``: ``["[Customer].[Nation]", "[Time].[Quarter]"]`` grain.
        ``measures``: measure names to carry (default: every roll-up-safe
        base measure — sum/count/min/max; avg and distinct-count cannot be
        rolled up from summaries).  Storage: ``path`` writes plain parquet;
        ``bucket_by`` + ``table_name`` writes a bucketed saveAsTable so
        grain-key joins/groupings over the summary are shuffle-free;
        neither → an eager ``localCheckpoint`` (lineage truncated so routed
        plans carry no fact scan, but the summary dies with the session).

        Note: measures with a deterministic edge cast store their *cast*
        cell values; re-rollups from the summary re-aggregate those, which
        is only bit-identical to fact-level aggregation for whole-number
        sums/counts (SCALE.md "Determinism vs speed")."""
        from .members import resolve_level
        from .model import CalculatedMember
        from .plan import Planner

        if self.role is not None:
            # A summary built through a role-scoped engine would be silently
            # filtered by that role's grants, then served role-agnostically
            # to every other connection (register_aggregate publishes to the
            # shared aggregate_tables list).  Materialise through the
            # unscoped engine instead.
            raise PermissionError(
                "materialize_aggregate is not allowed on a role-scoped engine: "
                f"role {self.role.name!r} would bake its row filters into a "
                "summary shared by all roles"
            )
        if measures is None:
            ms = [
                m for m in self.cube.measures
                if not isinstance(m, CalculatedMember) and m.aggregator in _ROLLUP_SAFE
            ]
        else:
            ms = [self.cube.measure(n) for n in measures]
            # validate BEFORE planning/writing: failing only at the final
            # register_aggregate would leave a fully-written orphaned
            # summary on disk (and calc members have no .aggregator at all)
            bad = [
                m.name
                for m in ms
                if isinstance(m, CalculatedMember)
                or m.aggregator not in _ROLLUP_SAFE
            ]
            if bad:
                raise ValueError(
                    f"aggregators not roll-up-safe for a summary table: {bad}"
                )
        if not ms:
            raise ValueError("no roll-up-safe measures to materialise")
        from .members import MemberSetRef

        refs = []
        for ident in levels:
            dim, idx = resolve_level(self.cube, ident)
            refs.append(MemberSetRef(dim, depth=idx, kind="level_members"))
        df, group_cols = Planner(self).aggregate([refs], [], ms)
        spark = self.fact.sparkSession
        if path is not None:
            df.write.mode("overwrite").parquet(path)
            df = spark.read.parquet(path)
        elif bucket_by is not None or table_name is not None:
            name = table_name or "agg_" + "_".join(group_cols)
            keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by or group_cols)
            (
                df.write.mode("overwrite").format("parquet")
                .bucketBy(num_buckets, *keys).sortBy(*keys)
                .saveAsTable(name)
            )
            df = spark.table(name)
        else:
            df = df.localCheckpoint(eager=True)
        self.register_aggregate(df, group_cols, {m.out: m.aggregator for m in ms})
        return df

    def refresh_aggregates(
        self, delta_fact: DataFrame, path_prefix: str | None = None
    ) -> int:
        """Incrementally maintain every registered summary under a fact
        APPEND: aggregate ONLY the delta at each summary's grain (through
        a delta-scoped engine sharing this engine's dimension tables),
        merge into the registered summary by grain keys, and re-register.
        The merge is exactly why only roll-up-safe aggregators may
        register (:meth:`register_aggregate`): sum⊎sum=sum, count⊎count
        adds, min/min and max/max fold — so the refreshed summary is
        IDENTICAL to re-materializing over the appended fact, without
        ever rescanning it.  At 100 TB this turns summary maintenance
        from a full-corpus job into one delta-sized aggregation plus a
        summary-sized merge per grain.

        ``delta_fact`` is the raw new fact rows (same shape as the fact
        table; the cube's fact_filter and degenerate level columns are
        re-applied here).  ``path_prefix`` persists each refreshed
        summary as parquet (``{path_prefix}/refresh_<i>``); omitted,
        refreshed summaries are lineage-truncated checkpoints.  Returns
        the number of summaries refreshed.
        """
        if not self.aggregate_tables:
            return 0
        from .members import MemberSetRef
        from .plan import Planner

        delta_engine = CubeEngine(
            self.cube, {**self.tables, self.cube.fact: delta_fact},
            parameters=self.parameters, roles=self.available_roles,
        )
        by_out = {m.out: m for m in self.cube.measures}
        # locate each level-out column's (dimension, depth) once
        level_of: dict[str, tuple] = {}
        for dim in self.cube.dimensions:
            for i, lv in enumerate(dim.levels):
                level_of[lv.out] = (dim, i)
        spark = self.fact.sparkSession
        # pre-flight: validate EVERY summary's grain before touching
        # anything — a mid-loop failure would otherwise leave some
        # summaries refreshed (and parquet written) and others stale,
        # with no error until the unknown output was reached
        grains: list[dict[str, int]] = []
        for old, group_outputs, measures in self.aggregate_tables:
            grain: dict[str, int] = {}
            for out in group_outputs:
                if out not in level_of:
                    raise ValueError(
                        f"summary group output {out!r} is not a level "
                        "column of this cube; cannot re-derive its grain "
                        "— nothing was refreshed (de-register the "
                        "hand-built summary or refresh it yourself)"
                    )
                dim, depth = level_of[out]
                grain[dim.name] = max(grain.get(dim.name, -1), depth)
            for out in measures:
                if out not in by_out:
                    raise ValueError(
                        f"summary measure output {out!r} matches no cube "
                        "measure; cannot re-aggregate its delta — nothing "
                        "was refreshed (de-register the hand-built "
                        "summary or refresh it yourself)"
                    )
            grains.append(grain)
        refreshed = []
        for idx, (old, group_outputs, measures) in enumerate(
            self.aggregate_tables
        ):
            grain = grains[idx]
            refs = [
                MemberSetRef(
                    self.cube.dimension(d), depth=depth, kind="level_members"
                )
                for d, depth in grain.items()
            ]
            ms = [by_out[out] for out in measures]
            delta_sum, _ = Planner(delta_engine).aggregate([refs], [], ms)
            merges = []
            for out, agg in measures.items():
                c = F.col(out)
                fold = (
                    F.sum(c) if agg in ("sum", "count")
                    else F.min(c) if agg == "min"
                    else F.max(c)
                )
                m = by_out[out]
                if m.dtype:
                    fold = fold.cast(m.dtype)
                merges.append(fold.alias(out))
            cols = list(group_outputs) + list(measures)
            merged = (
                old.select(*cols)
                .unionByName(delta_sum.select(*cols))
                .groupBy(*group_outputs)
                .agg(*merges)
                .select(*cols)
            )
            # materialize BEFORE any write: a repeated refresh with the
            # same path_prefix would otherwise overwrite the very files
            # the merge plan is still reading (`old` may be last
            # generation's refresh output at the same path)
            merged = merged.localCheckpoint(eager=True)
            new_path = None
            if path_prefix is not None:
                new_path = f"{path_prefix.rstrip('/')}/refresh_{idx:02d}"
                merged.write.mode("overwrite").parquet(new_path)
                merged = spark.read.parquet(new_path)
            refreshed.append((merged, group_outputs, measures, new_path))
        self.aggregate_tables[:] = [r[:3] for r in refreshed]
        if path_prefix is not None:
            self._update_agg_manifest(path_prefix, refreshed)
        return len(refreshed)

    def _update_agg_manifest(self, path_prefix: str, refreshed) -> None:
        """Keep ``_agg_manifest.json`` (written by
        :func:`..advisor.auto_materialize`) coherent after a refresh: a
        fresh session's :func:`..advisor.load_materialized` must load the
        REFRESHED summaries, never the stale pre-refresh parquet.
        Entries match by group-output set; unmatched manifest entries are
        left alone."""
        import json

        from . import fsio

        spark = self.fact.sparkSession
        manifest_path = f"{path_prefix.rstrip('/')}/_agg_manifest.json"
        if not fsio.exists(spark, manifest_path):
            return
        manifest = json.loads(fsio.read_text(spark, manifest_path))
        by_grain = {
            frozenset(go): p for _, go, _, p in refreshed if p is not None
        }
        for entry in manifest.get("aggregates", ()):
            p = by_grain.get(frozenset(entry["group_outputs"]))
            if p is not None:
                entry["path"] = p
        fsio.write_text(spark, manifest_path, json.dumps(manifest, indent=2))

    def enable_cache(self, storage_level=None):
        """Turn on the aggregate cache (CACHE fun-def analog + segment
        cache; ``jar!mondrian/olap/fun/CacheFunDef``)."""
        from pyspark.storagelevel import StorageLevel

        from .cache import AggregateCache

        self.cache = AggregateCache(storage_level or StorageLevel.MEMORY_AND_DISK)
        return self.cache

    def flush_schema_cache(self) -> int:
        """Whole-schema cache flush (``connection.rb:153-181``) — also
        releases grids pinned by the MDX ``Cache(expr)`` hint and empties
        the member memos (existence and property values), as Mondrian's
        schema flush drops its member cache.  The memos are cleared in
        place: role clones share them."""
        for memo in ("_exists_memo", "_prop_memo"):
            self.__dict__.get(memo, {}).clear()
        for df in self.__dict__.pop("_cache_hint_pins", []):
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — a dead session is fine
                pass
        return self.cache.flush_all() if self.cache else 0

    def flush_region_cache(self, members: list[str]) -> int:
        """Targeted region flush by member identifiers
        (``cube.rb:519-547`` flush_region_cache_with_segments)."""
        if not self.cache:
            return 0
        from .members import resolve

        refs = [resolve(self.cube, m) for m in members]
        return self.cache.flush_region(refs)

    def flush_region_cache_with_full_names(self, *full_names: str) -> int:
        """Reference-named entry point (``cube.rb:533-536``): each region
        member as a full ``[Dim].[A].[B]`` identifier."""
        return self.flush_region_cache(list(full_names))

    def flush_region_cache_with_segments(self, *segment_names) -> int:
        """Reference-named entry point (``cube.rb:528-531``): each region
        member as an ordered path-segment sequence, e.g.
        ``("Time", "2010", "Q1")``.  Segments are bracket-quoted (with
        ``]`` doubled) and joined into the full identifier."""
        names = [
            ".".join("[" + str(s).replace("]", "]]") + "]" for s in segs)
            for segs in segment_names
        ]
        return self.flush_region_cache(names)

    def parameter(self, name: str):
        """Schema parameter definition lookup (``mondrian_parameter`` —
        connection.rb; None for unknown names)."""
        for p in self.parameters:
            if p.name.lower() == name.lower():
                return p
        return None

    def execute(self, mdx: str, parameters: dict | None = None):
        """Execute an MDX string — entry point A
        (``connection.rb:75-86`` execute, ``:498-520`` parameters)."""
        from .mdx import execute_mdx

        return execute_mdx(self, mdx, parameters)

    # ------------------------------------------------------------------
    # locale surface (connection.rb:213-223; test/connection_test.rb:69-86)
    # ------------------------------------------------------------------
    @property
    def locale(self) -> str:
        return self._locale

    @staticmethod
    def _check_locale(value: str) -> str:
        """1 to 3 underscore-separated non-empty elements
        (connection.rb:218-220's validation)."""
        parts = str(value).split("_")
        if not 1 <= len(parts) <= 3 or not all(parts):
            raise ValueError(f"invalid locale string {value!r}")
        return str(value)

    def _rebuild_dims(self) -> None:
        self.dims = {
            d.name: DimView(d, self.tables, self.fact, self._locale)
            for d in self.cube.dimensions
        }

    @locale.setter
    def locale(self, value: str) -> None:
        """Set the active locale.  Rebuilds the dimension views so
        locale-selected caption expressions take effect, and flushes the
        cell cache (cached grids may carry caption columns from the
        previous locale)."""
        value = self._check_locale(value)
        if value == self._locale:
            return
        self._locale = value
        self._rebuild_dims()
        if self.cache is not None:
            self.cache.flush_all()

    def with_locale(self, locale: str) -> "CubeEngine":
        """A shallow engine copy bound to ``locale`` (per-connection locale
        — the reference sets it as a connection parameter)."""
        import copy

        clone = copy.copy(self)
        clone.cache = None  # caption columns differ per locale
        clone._locale = self._check_locale(locale)
        clone._rebuild_dims()
        return clone

    def with_role(self, role) -> "CubeEngine":
        """A shallow engine copy with an access-control role bound; every
        query planned through it gets the role's grants applied
        (``lib/mondrian/olap/connection.rb:183-211`` role_name=…)."""
        import copy

        clone = copy.copy(self)
        clone.role = role
        clone.cache = None  # per-role results must not share the cache
        return clone

    # ------------------------------------------------------------------
    # member metadata queries (entry point C — SURVEY.md §3;
    # lib/mondrian/olap/cube.rb:328-332 level.members,
    # :437-468 children/descendants)
    # ------------------------------------------------------------------
    @property
    def role_names(self) -> list[str]:
        """Available role names (connection_role_test.rb:105-108)."""
        return [r.name for r in self.available_roles]

    @property
    def role_name(self) -> str | None:
        """Active role name, or None (connection_role_test.rb:109-119)."""
        return self.role.name if self.role is not None else None

    def set_role_name(self, *names: str) -> None:
        """Select the active role by schema-declared name; several names
        combine as a union role (connection.rb:183-211 role_name= /
        role_names=); empty call clears.  Unknown names raise KeyError
        (connection_role_test.rb:120-128)."""
        by_name = {r.name.lower(): r for r in self.available_roles}
        picked = []
        for n in names:
            if n.lower() not in by_name:
                # validate BEFORE flushing: a typo must not destroy a warm
                # cache while leaving the role unchanged
                raise KeyError(f"schema declares no role {n!r}")
            picked.append(by_name[n.lower()])
        # the aggregate cache key has no role component — cached cells from
        # one role must never serve another (with_role() guarantees this by
        # cloning with cache=None); flush on every in-place role switch
        if self.cache is not None:
            self.cache.flush_all()
        if not names:
            self.role = None
            return
        if len(picked) == 1:
            self.role = picked[0]
        else:
            from .roles import union_roles

            self.role = union_roles("+".join(r.name for r in picked), *picked)

    def metadata(self):
        """Olap4j-style introspection surface (cube.rb; test/cube_test.rb):
        ``engine.metadata().dimension('Customer').level('Nation').members``,
        ``.member('[Customer].[ASIA]').children`` …  Lazy views over
        :meth:`level_members` — nothing collects until navigated."""
        from .metadata import CubeMeta

        return CubeMeta(self)

    def member(self, identifier: str) -> DataFrame:
        """Member lookup by full name — ``cube.member('[A].[B]')``
        (cube.rb:106-116 lookupMember; StrToMember,
        jar!mondrian/olap/fun/StrToMemberFunDef).  Returns the member's key
        columns as a one-row DataFrame (empty if no such member)."""
        from .members import resolve

        ref = resolve(self.cube, identifier)
        return self.level_members(ref.dimension.name, ref.depth, ref.path)

    def _visible_members(self, dim: Dimension, depth: int, path: tuple):
        """The visible-member frame: ``dim``'s member view under ancestor
        ``path`` with the members invisible at ``depth`` removed — role
        level bounds (schema.rb:440-466 top_level/bottom_level; a denied
        level raises), role member grants (connection_role_test.rb:101-184)
        and ragged ``hide_member_if`` (schema.rb:222-230).  Mondrian's
        ``RestrictedMemberReader`` analog: every member lookup reads this
        frame, so listing, navigation, existence, range bounds and
        property values never disagree about which members exist.  One
        row per source row; callers group by the member key."""
        role = getattr(self, "role", None)
        if role is not None:
            role.check_level(dim, depth)
        df = self.dims[dim.name].member_df
        for i, key in enumerate(path):
            df = df.filter(F.col(dim.levels[i].out) == F.lit(key))
        return _apply_member_visibility(
            df, dim, dim.levels[: depth + 1], role, depth
        )

    def level_members(
        self,
        dim_name: str,
        depth: int,
        path: tuple[str, ...] = (),
        include_properties: bool = False,
        _with_rank: bool = False,
        _rank_within_parent: bool = False,
    ) -> DataFrame:
        """Distinct members at ``depth`` (optionally under ancestor ``path``),
        hierarchy-ordered by ordinal expressions.

        Spark mapping of ``SqlTupleReader`` member loads (SURVEY.md §2.1):
        ``dim.select(level_cols).distinct().orderBy(ordinals)``.  Members stay
        distributed — no driver materialisation (the reference's
        high-cardinality streaming concern disappears, SURVEY.md §4).
        """
        dim = self.cube.dimension(dim_name)
        df = self._visible_members(dim, depth, tuple(path))
        # ancestor columns ABOVE a role's top_level stay invisible in
        # listings; the path and grant predicates above may still read them
        role = getattr(self, "role", None)
        bounds = role.level_bounds(dim) if role is not None else None
        levels = dim.levels[: depth + 1]
        visible_levels = levels[bounds[0] if bounds else 0 :]
        outs = [lv.out for lv in visible_levels]
        props = []
        if include_properties:
            for lv in visible_levels:
                for p, _e, pf in lv.property_defs:
                    props.append(p)
                    if pf is not None:
                        props.append(f"{p}_formatted")
            props += [
                f"{lv.out}_caption" for lv in visible_levels if _has_caption(lv)
            ]
        # dedupe by member key with min() as the deterministic representative
        # for ordinals/properties: Mondrian assumes properties are
        # functionally dependent on the level key (depends_on_level_value,
        # schema.rb:277-281); where the data violates that, an arbitrary
        # dropDuplicates row would be nondeterministic across runs
        ord_cols = [_ordinal_out(dim, lv) for lv in levels]
        agg_cols = [F.min(c).alias(c) for c in (*ord_cols, *props)]
        df = df.groupBy(*outs).agg(*agg_cols)
        if _with_rank:
            # ``__setrank``: the member's 1-based position in hierarchy
            # order (MDX ``Rank(member, <level>.Members)`` — jar!mondrian/
            # olap/fun/RankFunDef).  Data-independent: rank comes from the
            # member list, so an empty member still occupies its position.
            # Unpartitioned window = single task, which is fine here: the
            # frame is one row per member of ONE level, the same bounded
            # frame every broadcast-attach consumes; the rank of a
            # billion-member level is not a meaningful set statistic.
            from pyspark.sql import Window

            w = Window.orderBy(
                *[F.col(c) for c in ord_cols], *[F.col(o) for o in outs]
            )
            df = df.withColumn("__setrank", F.row_number().over(w))
            return df.orderBy(*ord_cols).select(*outs, *props, "__setrank")
        if _rank_within_parent:
            # ``__pos_<out>``: the member's 1-based position among its
            # SIBLINGS (partitioned by the parent levels) — the positional
            # cousin coordinate ParallelPeriod below the top level needs
            # (month 5 is position 2 of Q2; its cousin one quarter back is
            # position 2 of Q1, i.e. month 2 — never month 5 of an earlier
            # year).  Same bounded member frame as ``__setrank``.
            from pyspark.sql import Window

            parents = [lv.out for lv in levels[:-1]]
            w = (
                Window.partitionBy(*parents)
                if parents
                else Window.partitionBy(F.lit(1))
            ).orderBy(*[F.col(c) for c in ord_cols], *[F.col(o) for o in outs])
            pos = f"__pos_{levels[-1].out}"
            df = df.withColumn(pos, F.row_number().over(w))
            return df.orderBy(*ord_cols).select(*outs, *props, pos)
        return df.orderBy(*ord_cols).select(*outs, *props)

    def current_date_member(
        self, dim_name: str, depth: int, today=None
    ) -> tuple[str, ...]:
        """``[Dim].[Level].CurrentDateMember`` resolution (the reference's
        schema formula idiom,
        /root/reference/test/schema_definition_test.rb:580-591): the
        member of ``depth`` whose period contains the evaluation date —
        or, when the data does not reach it, the LATEST member before it
        (Mondrian CurrentDateMember BEFORE matching).

        Level walk: the top level picks the latest key numerically ≤
        today's year when keys parse as integers (calendar years),
        otherwise the last member in hierarchy order; each deeper level
        picks the last member under the chosen path, capped at today's
        position WITHIN THE IMMEDIATE PARENT unit (month-of-quarter under
        a Quarter parent, day-of-week under a Week parent, …) only while
        the path is still IN the current period — a wholly-past parent
        closes at its own last member.  Member lists collect at the
        driver: bounded frames (years, quarters-of-one-year, …), the
        same contract as ``edge_member``."""
        import datetime

        dim = self.cube.dimension(dim_name)
        today = today or datetime.date.today()
        rows = self.level_members(dim_name, 0).collect()
        if not rows:
            raise KeyError(f"no members in {dim.name}")
        key0 = dim.levels[0].out
        keys = [r[key0] for r in rows]
        try:
            nums = [int(str(v)) for v in keys]
        except (TypeError, ValueError):
            nums = None
        if nums is not None:
            cands = [v for v, n in zip(keys, nums) if n <= today.year]
            chosen = cands[-1] if cands else keys[-1]
            in_current = int(str(chosen)) == today.year
        else:
            chosen, in_current = keys[-1], False
        path = [str(chosen)]

        def _unit_cap(parent_type: str | None, level_type: str):
            """today's 1-based position within its IMMEDIATE parent unit —
            the coordinate ``_rank_within_parent`` positions compare
            against.  An absolute calendar position (month-of-year under a
            Quarter parent) would overshoot; unknown parent/level pairs
            return None (no cap → the parent's last member, still BEFORE
            matching)."""
            iso_year, iso_week, iso_wday = today.isocalendar()
            table = {
                ("TimeYears", "TimeQuarters"): (today.month - 1) // 3 + 1,
                ("TimeYears", "TimeMonths"): today.month,
                # ISO week numbers belong to the ISO year: on boundary
                # days (late Dec / early Jan) the number is ~52 off the
                # calendar year's weeks — no cap there
                ("TimeYears", "TimeWeeks"): (
                    iso_week if iso_year == today.year else None
                ),
                ("TimeYears", "TimeDays"): today.timetuple().tm_yday,
                ("TimeQuarters", "TimeMonths"): (today.month - 1) % 3 + 1,
                ("TimeMonths", "TimeDays"): today.day,
                ("TimeWeeks", "TimeDays"): iso_wday,
            }
            return table.get((parent_type, level_type))

        for li in range(1, depth + 1):
            lv = dim.levels[li]
            sub = self.level_members(
                dim_name, li, path=tuple(path), _rank_within_parent=True
            ).collect()
            if not sub:
                raise KeyError(
                    f"no members at {dim.name}.{lv.name} under {path!r}"
                )
            pick = sub[-1]
            cap = (
                _unit_cap(dim.levels[li - 1].level_type, lv.level_type)
                if in_current
                else None
            )
            if cap is not None:
                within = [r for r in sub if r[f"__pos_{lv.out}"] <= cap]
                if within:
                    pick = within[-1]
                    in_current = pick[f"__pos_{lv.out}"] == cap
                else:
                    in_current = False
            path.append(str(pick[lv.out]))
        return tuple(path)

    def edge_member(
        self, dim_name: str, depth: int, path: tuple = (), last: bool = False
    ):
        """First/last member key at ``depth`` under ``path`` in HIERARCHY
        (ordinal) order — a single-row lookup backing FirstChild/LastChild/
        FirstSibling/LastSibling/DefaultMember resolution.  Key-column sort
        is NOT hierarchy order when a level declares an ordinal expression
        (month names ordered by month number), so slicing the key-ordered
        grid would pick the wrong member; this asks the member view for the
        ordinal-extreme row directly.  Rides :meth:`_member_keys_at`, so
        role-hidden and ragged-hidden members can never be the edge."""
        dim = self.cube.dimension(dim_name)
        lv = dim.levels[depth]
        df = self._member_keys_at(dim_name, depth, tuple(path))
        row = df.orderBy(
            F.col("o").desc() if last else F.col("o").asc(), F.col("k")
        ).limit(1).collect()
        if not row:
            raise KeyError(
                f"no members at {dim.name}.{lv.name} under {path!r}"
            )
        return row[0]["k"]

    def _member_keys_at(self, dim_name: str, depth: int, path: tuple):
        """Distinct (key, min-ordinal) frame of VISIBLE members at ``depth``
        under ``path`` — shared base for the positional sibling lookups
        below: a hidden member must neither count toward sibling
        positions nor be returnable as a lookup result."""
        dim = self.cube.dimension(dim_name)
        lv = dim.levels[depth]
        return (
            self._visible_members(dim, depth, tuple(path))
            .select(F.col(lv.out).alias("k"), F.col(_ordinal_out(dim, lv)).alias("o"))
            .groupBy("k")
            .agg(F.min("o").alias("o"))
        )

    def member_position(self, dim_name: str, depth: int, path: tuple) -> int:
        """0-based sibling position of the member at ``path`` in hierarchy
        (ordinal) order — computed as a COUNT of siblings ordered strictly
        before it, so exactly two scalars reach the driver regardless of
        sibling cardinality (the COUSIN source position,
        jar!mondrian/olap/fun/CousinFunDef; replaces the sibling-list
        collect flagged in the r2 review)."""
        df = self._member_keys_at(dim_name, depth, tuple(path[:-1]))
        key = path[-1]
        t = df.filter(F.col("k") == F.lit(key)).agg(
            F.min("o").alias("o"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        if t["n"] == 0:
            raise KeyError(f"member {path!r} not found among its siblings")
        before = df.filter(
            (F.col("o") < F.lit(t["o"]))
            | ((F.col("o") == F.lit(t["o"])) & (F.col("k") < F.lit(key)))
        ).count()
        return int(before)

    def member_exists(self, dim_name: str, depth: int, path: tuple) -> bool:
        """1-row existence probe for a full member path (accessor-fold
        validation: a typo'd member must raise the reference's
        member-not-found error, not fold to a plausible constant); ≤1 row
        reaches the driver.  Memoized per (path, role): member data is
        immutable parquet, so repeated accessors on one member cost one
        job, not one per occurrence — the key includes the active role
        itself (its grants, not just its name: two roles may share a name)
        because visibility is role-dependent and clones share this dict."""
        memo = self.__dict__.setdefault("_exists_memo", {})
        key = (dim_name, depth, tuple(path), self.role)
        if key not in memo:
            dim = self.cube.dimension(dim_name)
            memo[key] = (
                self._visible_members(dim, depth, tuple(path)).limit(1).count() > 0
            )
        return memo[key]

    def member_property_value(
        self, dim_name: str, depth: int, path: tuple, prop: str
    ):
        """The VALUE of a level property for one pinned member — the
        evaluation behind ``<member>.Properties('X')`` in a formula
        (mondrian_test.rb:157-190: date/datetime property values feed
        format strings).  A memoized 1-row lookup, keyed like
        :meth:`member_exists`; raises ``KeyError`` for an unknown property
        or a member the active role cannot see.  Values keep their column
        type — a DATE property arrives as ``datetime.date``, not a
        string."""
        dim = self.cube.dimension(dim_name)
        lv = dim.levels[depth]
        by_name = {n.lower(): n for n, _e, _f in lv.property_defs}
        if prop.lower() not in by_name:
            raise KeyError(
                f"level {dim.name}.{lv.name} declares no property {prop!r}"
            )
        pname = by_name[prop.lower()]
        memo = self.__dict__.setdefault("_prop_memo", {})
        key = (dim_name, depth, tuple(path), pname, self.role)
        if key not in memo:
            # min() instead of limit(1): a deterministic value when source
            # rows disagree on a property (Mondrian assumes functional
            # dependency; an arbitrary row read would vary run-to-run)
            row = (
                self._visible_members(dim, depth, tuple(path))
                .agg(F.min(pname).alias("v"), F.count(F.lit(1)).alias("n"))
                .collect()[0]
            )
            if not row["n"]:
                raise KeyError(f"member {path!r} not found in {dim.name}")
            memo[key] = row["v"]
        return memo[key]

    def member_at_position(
        self, dim_name: str, depth: int, parent_path: tuple, position: int
    ):
        """Member key at 0-based ``position`` under ``parent_path`` in
        hierarchy order — a window ``row_number`` slice fetching ONE row
        (the COUSIN target lookup).  Returns None past the end."""
        from pyspark.sql import Window

        df = self._member_keys_at(dim_name, depth, tuple(parent_path))
        w = Window.orderBy(F.col("o"), F.col("k"))
        rows = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == int(position) + 1)
            .limit(1)
            .collect()
        )
        return rows[0]["k"] if rows else None

    def member_ordinal(self, dim_name: str, depth: int, path: tuple[str, ...]):
        """Ordinal value of ONE member — a single-row lookup used to resolve
        range (``a:b``) endpoints at plan time (the same member resolution
        Mondrian performs at validate time).  Unlike enumerating the level's
        member list, this collects exactly one scalar regardless of level
        cardinality — the range itself is then planned as an
        ``ordinal BETWEEN lo AND hi`` predicate, never an enumerated set.
        A member at the full ``path`` is its own first edge, so this is
        :meth:`edge_ordinal` there: a role-hidden or ragged-hidden member
        does not resolve as a bound."""
        return self.edge_ordinal(dim_name, depth, path)

    def edge_ordinal(
        self, dim_name: str, depth: int, path: tuple = (), last: bool = False
    ):
        """Min (or max) ORDINAL value of the visible members at ``depth``
        under ``path`` — the single-scalar lookup backing period-to-date
        range resolution (``Ytd(member)`` = range from the period parent's
        FIRST ``depth`` member to ``member``, jar!mondrian/olap/fun/XtdFunDef)."""
        dim = self.cube.dimension(dim_name)
        lv = dim.levels[depth]
        o = F.col(_ordinal_out(dim, lv))
        row = (
            self._visible_members(dim, depth, tuple(path))
            .agg(
                (F.max(o) if last else F.min(o)).alias("o"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        if row["n"] == 0:
            raise KeyError(
                f"no members at {dim.name}.{lv.name} under {path!r}"
            )
        return row["o"]

    def merged_dim_view(
        self, dims: list[Dimension], needed: Mapping[str, list[str]]
    ) -> DataFrame:
        """One join-ready view for several dimensions sharing the same
        (foreign_key, table, primary_key) — e.g. Time / Customer / Priority
        all riding the ``orders`` bridge.

        Mondrian reaches every dimension through its own join in the
        generated SQL; at Spark scale joining the same bridge table once per
        dimension doubles (or worse) the shuffle volume, so the planner
        coalesces them: union of the snowflake link chains (deduplicated,
        order-preserving) + the union of needed level columns.  The merged
        view costs nothing when a query uses only one of the dimensions —
        only the links those dimensions declare are included.
        """
        base = self.tables[dims[0].table]
        seen: set[tuple] = set()
        for d in dims:
            for link in d.joins:
                key = (link.left_key, link.table, link.right_key, link.alias)
                if key in seen:
                    continue
                seen.add(key)
                right = self.tables[link.table]
                if link.alias:
                    right = right.alias(link.alias)
                base = base.join(
                    right, F.col(link.left_key) == right[link.right_key], "inner"
                )
        # drill-through Name(...)/Property(...) fields ship captions and
        # properties (result.rb:283-419); range predicates read ordinals
        cols = [F.col(dims[0].primary_key).alias("__pk")]
        for d in dims:
            cols += _level_columns(d, self.locale, set(needed.get(d.name, ())))
        return base.select(*cols)

    def drill_through(
        self,
        where: list[str],
        fields: list[tuple[str, str]],
        max_rows: int | None = None,
        group_by: bool = False,
        nonempty: str | list[str] | None = None,
    ) -> DataFrame:
        """Cell drill-through: underlying fact rows for a cell context
        (``lib/mondrian/olap/result.rb:145-157``; RETURN-field SQL rewriting
        :283-419 collapses to DataFrame composition — SURVEY.md §3 D).
        ``group_by=True`` aggregates measures over the non-measure RETURN
        fields (result.rb group_by option); ``nonempty`` drops rows where
        the named RETURN measures are NULL (query_test.rb:948-958)."""
        from .members import resolve
        from .plan import Planner

        slicer = [resolve(self.cube, m) for m in where]
        return Planner(self).drill_through(
            slicer, fields, max_rows=max_rows, group_by=group_by,
            nonempty=nonempty,
        )


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read that tolerates nanosecond timestamps.

    Spark rejects INT64 TIMESTAMP(NANOS) parquet columns by default; we fall
    back to ``spark.sql.legacy.parquet.nanosAsLong`` and convert the raw
    nano longs back to (microsecond) timestamps so downstream date functions
    keep working."""
    nano_cols: list[str] = []
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        nano_cols = [
            f.name
            for f in schema
            if str(f.type).startswith("timestamp[ns")
        ]
    except Exception:
        pass  # directory datasets / exotic stores: fall through to plain read
    if nano_cols:
        # the conf only needs to cover plan ANALYSIS of this read; restore
        # it so later plain reads in the session keep strict behavior
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(path)
            df.schema  # force analysis while the conf is active
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    else:
        df = spark.read.parquet(path)
    for name in nano_cols:
        # nanos surface as raw longs under nanosAsLong; restore timestamp
        # semantics at microsecond precision.  Integer division — going
        # through double would truncate the last microseconds (ns epochs
        # exceed 2^53)
        df = df.withColumn(name, F.timestamp_micros(F.expr(f"`{name}` div 1000")))
    return df


def engine_from_parquet(
    spark: SparkSession, schema: Schema, cube_name: str, data_dir: str
) -> CubeEngine:
    """Bind a cube to ``{data_dir}/{table}.parquet`` sources."""
    cube = schema.cube(cube_name)
    names = {cube.fact}
    for d in cube.dimensions:
        if d.table:
            names.add(d.table)
            for link in d.joins:
                names.add(link.table)
    tables = {n: read_parquet_table(spark, f"{data_dir}/{n}.parquet") for n in names}
    return CubeEngine(
        cube, tables, parameters=schema.parameters,
        roles=getattr(schema, "roles", ()),
    )
