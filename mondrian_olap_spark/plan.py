"""Semantic plan → DataFrame plan.

The Spark replacement for the reference's whole execution pipeline
(SURVEY.md §3): where Mondrian compiles MDX to a calc DAG, batches cell
requests and emits segment-load SQL (``jar!mondrian/rolap/agg/SegmentLoader``,
``FastBatchingCellReader``), this planner emits **one declarative DataFrame
plan** — star joins + filters + ``groupBy().agg()`` — and Catalyst performs
predicate pushdown, column pruning, join strategy selection and partial/final
aggregation (SURVEY.md §4: those engine features are "built-in" here).

Join/shuffle strategy (100 TB design notes):

* slicer-only dimensions join ``left_semi`` — they restrict the fact but ship
  no columns, so the join can be a broadcast semi-join;
* predicates are applied to the dimension side *before* the join (filter →
  broadcast → hash join ⇒ fact rows drop at the scan);
* grouping columns are the only dimension columns selected (explicit column
  pruning before the shuffle);
* aggregation shuffles once on the grouping keys with map-side partial
  aggregation — there is no per-cell loop anywhere, so axis cardinality never
  touches the driver.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .mdx import references
from .members import MemberSetRef
from .model import CalculatedMember, Dimension, Measure
from .star import CubeEngine

#: the alias of a tuple / set-statistic scalar (``mdx._intern``)
_SCALAR_ALIAS = re.compile(r"__(?:tuple|setstat)\d+")


def measure_column(m: Measure, internal: bool = False) -> Column:
    """Aggregator → Spark aggregate expression (schema.rb:294 list).

    ``m.dtype`` is the deterministic edge cast: exact (decimal) aggregation
    internally, one cast at the cell boundary (see model.Measure.dtype).
    With ``internal=True`` the sum edge cast is deferred to the caller —
    used by the aggregation planner so *cached* aggregates keep their exact
    decimal sums and in-memory rollup reuse (re-summing a finer cached
    grid) stays bit-exact; the cast is applied once after cache retrieval.
    """
    e = F.expr(m.expression)
    if m.aggregator == "sum":
        c = F.sum(e)
        if m.dtype and not internal:
            c = c.cast(m.dtype)
        return c.alias(m.out)
    if m.aggregator == "min":
        return F.min(e).alias(m.out)
    if m.aggregator == "max":
        return F.max(e).alias(m.out)
    if m.aggregator == "avg":
        if m.dtype:
            # numerator widened once, then one IEEE division — same op
            # sequence as the SQL oracle, so the result is bit-identical
            return (F.sum(e).cast(m.dtype) / F.count(e)).alias(m.out)
        return F.avg(e).alias(m.out)
    if m.aggregator == "count":
        return F.count(e).alias(m.out)
    if m.aggregator == "distinct-count":
        # exact by default, matching Mondrian distinct-count semantics
        return F.count_distinct(e).alias(m.out)
    if m.aggregator == "approx-distinct-count":
        # HLL++ opt-in for 100 TB-scale cardinalities (SURVEY.md §2.4)
        return F.approx_count_distinct(e).alias(m.out)
    raise ValueError(f"unknown aggregator {m.aggregator!r}")


@dataclass
class _DimUse:
    """Accumulated per-dimension requirements across axis + slicer sets."""

    dim: Dimension
    group_outputs: list[str] = field(default_factory=list)  # ordered level outputs
    predicates: list[Column] = field(default_factory=list)  # OR-ed together
    #: role grant predicates — ANDed over the query predicates: a role's
    #: row restriction must intersect whatever the query selects, never
    #: union with it (OR-ing would let any query that names an ungranted
    #: member read its rows — a security bypass)
    role_predicates: list[Column] = field(default_factory=list)
    pred_depth: int = 0  # deepest level referenced by any predicate
    #: ordinal (__ord_*) columns referenced by range predicates — shipped
    #: through the merged dim view alongside the level outputs
    ordinal_outputs: list[str] = field(default_factory=list)

    def add_levels(self, outputs: list[str]) -> None:
        for o in outputs:
            if o not in self.group_outputs:
                self.group_outputs.append(o)

    #: True when a predicate references columns a summary table cannot have
    #: (range ordinals over raw fact columns) — disables agg-table routing
    unroutable: bool = False

    def note_refs(self, refs: list[MemberSetRef]) -> None:
        """Record predicate metadata for a batch of constraining refs:
        deepest level touched + any ordinal columns ranges compare on."""
        for r in refs:
            self.pred_depth = max(self.pred_depth, len(r.path))
            if r.kind == "range":
                if r.dimension.degenerate:
                    self.unroutable = True
                else:
                    rd = r.range_depth if r.range_depth is not None else r.depth
                    oc = f"__ord_{r.dimension.levels[rd].out}"
                    if oc not in self.ordinal_outputs:
                        self.ordinal_outputs.append(oc)

    @property
    def predicate(self) -> Column | None:
        if not self.predicates and not self.role_predicates:
            return None
        p = None
        if self.predicates:
            p = self.predicates[0]
            for q in self.predicates[1:]:
                p = p | q
        for r in self.role_predicates:
            p = r if p is None else (p & r)
        return p


def _path_predicate(ref: MemberSetRef) -> Column | None:
    """Ancestor-path constraint of a member set → conjunctive predicate.
    Range sets add an ``ordinal BETWEEN lo AND hi`` conjunct over the level's
    ordinal (planned, never enumerated — jar!mondrian/olap/fun/RangeFunDef)."""
    p = None
    for i, key in enumerate(ref.path):
        c = F.col(ref.dimension.levels[i].out) == key
        p = c if p is None else (p & c)
    if ref.kind == "range" and ref.ordinal_range is not None:
        rd = ref.range_depth if ref.range_depth is not None else ref.depth
        dim, lv = ref.dimension, ref.dimension.levels[rd]
        oc = (
            F.expr(lv.ordinal_expr)
            if dim.degenerate
            else F.col(f"__ord_{lv.out}")
        )
        lo, hi = ref.ordinal_range
        c = oc.between(F.lit(lo), F.lit(hi))
        p = c if p is None else (p & c)
    return p


def _unresolved_routine_name(e: Exception) -> str | None:
    """Extract the function name from Spark's UNRESOLVED_ROUTINE analysis
    error, else None."""
    import re as _re

    cond = getattr(e, "getCondition", None)
    if callable(cond):
        try:
            if cond() != "UNRESOLVED_ROUTINE":
                return None
        except Exception:
            return None
    m = _re.search(r"Cannot resolve routine `([^`]+)`", str(e))
    return m.group(1) if m else None


class Planner:
    def __init__(
        self,
        engine: CubeEngine,
        extra_measures: tuple = (),
        tuple_scalars: tuple = (),
    ):
        self.engine = engine
        self.cube = engine.cube
        #: query-scoped WITH members not on any axis — visible to the
        #: dependency closure (a requested member may reference them;
        #: mondrian_test.rb:338-413 CASE chains over helper members)
        self.extra_measures = tuple(extra_measures)
        #: tuple scalar references from formulas — (out, measure, member
        #: refs): the value of ``measure`` with the listed dimensions'
        #: context overridden (mondrian_test.rb:361-380)
        self.tuple_scalars = tuple(tuple_scalars)
        #: set-statistic scalar references — (out, fn, expr_sqls, member
        #: refs, arg, nan_wrap, existing, where): Sum/Median/Stdev/
        #: Correlation/LinReg*… over a set (mondrian_test.rb:608-778), and
        #: Aggregate(set, expr) as ``sum`` (mondrian_test.rb:222-228)
        self.stat_scalars: tuple = ()
        #: when True, rollup/cube aggregates emit a ``__grain`` column
        #: (Spark ``grouping_id()``) so callers can tell super-aggregate
        #: marker NULLs from genuine NULL member keys.  Internal — used by
        #: the set-statistic totals lowering; bypasses the aggregate
        #: cache and summary-table routing (neither carries grain ids).
        self._emit_grain = False
        #: callables df→df applied to the aggregated grid just before the
        #: calc chain — used by per-query rewrites that need columns the
        #: grid does not carry (e.g. member position-within-parent for
        #: positional ParallelPeriod); enricher columns are transient,
        #: dropped by the final ordered select
        self.grid_enrichers: tuple = ()

    def aggregate(
        self,
        axes: list[list[MemberSetRef]],
        slicer: list[MemberSetRef],
        measures: list[Measure | CalculatedMember],
        totals: str | None = None,
    ) -> tuple[DataFrame, list[str]]:
        """Build the aggregate DataFrame for a query.

        Returns ``(df, group_cols)`` where ``df`` has one row per non-empty
        cell combination (the SQL-GROUP-BY view of the cell grid; empty cells
        are a result-layer concern — SURVEY.md §1.2 NULL-vs-empty).
        """
        uses: dict[str, _DimUse] = {}

        def use(dim: Dimension) -> _DimUse:
            return uses.setdefault(dim.name, _DimUse(dim))

        group_cols: list[str] = []
        for axis in axes:
            # same-dimension sets on one axis = set union (IN semantics,
            # README.md:134-143); distinct dimensions = cross join of sets
            by_dim: dict[str, list[MemberSetRef]] = {}
            for ref in axis:
                by_dim.setdefault(ref.dimension.name, []).append(ref)
            for dim_name, refs in by_dim.items():
                if all(r.kind == "all" for r in refs):
                    # the All member alone: no grouping columns, no
                    # predicate — and NO dimension join at all (the grand
                    # total is the plain fact aggregate; an unconstrained
                    # semi-join would only add a shuffle and, under broken
                    # referential integrity, silently drop fact rows)
                    continue
                u = use(refs[0].dimension)
                outs = []
                for ref in refs:
                    outs = max(outs, [lv.out for lv in ref.group_levels], key=len)
                role_ = getattr(self.engine, "role", None)
                if role_ is not None:
                    # level-bounded grants make levels ABOVE top_level
                    # invisible (schema.rb:440-466): their columns must not
                    # appear in the grid at all, or the role would read
                    # ancestor-level member values it was never granted
                    b = role_.level_bounds(refs[0].dimension)
                    if b is not None and b[0] > 0:
                        hidden = [
                            lv.out for lv in refs[0].dimension.levels[: b[0]]
                        ]
                        outs = [o for o in outs if o not in hidden]
                u.add_levels(outs)
                for o in outs:
                    if o not in group_cols:
                        group_cols.append(o)
                preds = [_path_predicate(r) for r in refs]
                if all(p is not None for p in preds):
                    u.predicates.append(_or_all(preds))
                    u.note_refs(refs)
                # any unconstrained set (e.g. Level.Members) makes the union
                # unconstrained → no predicate

        # slicer: same-dim members OR (IN), across dims AND
        # (lib/mondrian/olap/query.rb:160-172,377-394)
        slicer_by_dim: dict[str, list[MemberSetRef]] = {}
        for ref in slicer:
            slicer_by_dim.setdefault(ref.dimension.name, []).append(ref)
        for dim_name, refs in slicer_by_dim.items():
            preds = [_path_predicate(r) for r in refs]
            if any(p is None for p in preds):
                # slicing by the All member = no constraint (and no use:
                # an empty use would add a pointless unconstrained
                # semi-join of the fact against the dimension)
                continue
            u = use(refs[0].dimension)
            u.predicates.append(_or_all(preds))
            u.note_refs(refs)

        self._apply_role(uses, use)
        base_measures, calc_chain = self._measure_closure(measures)
        cache = getattr(self.engine, "cache", None)
        all_refs = [r for axis in axes for r in axis] + list(slicer)
        role = getattr(self.engine, "role", None)
        if role is not None:
            # level-bounded hierarchy grants: querying a level outside the
            # granted range is denied outright (schema.rb:440-466)
            for ref in all_refs:
                role.check_level(ref.dimension, ref.depth)

        def build() -> DataFrame:
            if not self._emit_grain:
                routed = self._route_aggregate_table(
                    uses, group_cols, base_measures, totals
                )
                if routed is not None:
                    return routed
            return self._aggregate_base(uses, group_cols, base_measures, totals)

        if cache is not None and base_measures and not self._emit_grain:
            from .cache import slicer_fingerprint

            # fingerprint only the *constraining* refs (member paths and
            # ranges): unconstrained sets (Members/children-of-all) affect
            # grouping — already in the key — not the slice, and must not
            # block rollup-reuse across queries at different grains
            constrained = [r for r in all_refs if r.path or r.ordinal_range]
            key = (
                self.cube.name,
                tuple(group_cols),
                slicer_fingerprint(constrained),
                tuple(sorted(m.out for m in base_measures)),
                totals,
            )
            measure_aggs = {m.out: m.aggregator for m in base_measures}

            def rollup_from(src: DataFrame) -> DataFrame:
                cols = []
                for m in base_measures:
                    fn = (
                        F.sum
                        if m.aggregator in ("sum", "count")
                        else (F.min if m.aggregator == "min" else F.max)
                    )
                    cols.append(fn(F.col(m.out)).alias(m.out))
                if group_cols:
                    return src.groupBy(*group_cols).agg(*cols)
                return src.agg(*cols)

            agg = cache.get_or_build(
                key, all_refs, build,
                group_cols=group_cols, measures=measure_aggs, rollup_fn=rollup_from,
            )
        else:
            agg = build()

        # deferred edge cast (see measure_column internal=True): cached /
        # rolled-up aggregates carry exact decimal sums; one cast here at
        # the cell boundary.  Idempotent for already-cast sources (routed
        # summary tables store the edge type).
        casts = {
            m.out: m.dtype for m in base_measures
            if m.aggregator == "sum" and m.dtype
        }
        if casts:
            agg = agg.select(*(
                F.col(c).cast(casts[c]).alias(c) if c in casts else c
                for c in agg.columns
            ))

        agg = _ragged_hidden_filter(agg, uses, group_cols, totals)

        # tuple scalar references ([Measures].[X], [Dim].[M], …) used in
        # formulas: attach each as a column BEFORE the calc chain so the
        # formulas can reference it like any measure alias
        for spec in self.tuple_scalars:
            agg = self._attach_tuple_scalar(agg, spec, axes, slicer, totals)
        # set statistics over the SAME set share one sub-aggregate, one
        # collapse, and one broadcast attach — a formula block computing
        # several Aggregate()/Sum/Median/… scalars over one level costs one
        # sub-plan per distinct set, not one per scalar.  EXISTING stats
        # need their own sub-aggregate grain, and a Filter(set, cond)
        # argument its own row filter — never batch either with the plain
        # form over the same set
        stat_groups: dict = {}
        for spec in self.stat_scalars:
            refs_key = tuple(
                (r.dimension.name, r.depth, r.path, r.kind,
                 r.ordinal_range, r.range_depth)
                for r in spec[3]
            )
            stat_groups.setdefault((refs_key, *spec[6:]), []).append(spec)
        for specs in stat_groups.values():
            agg = self._attach_stat_scalar(agg, specs, axes, slicer, totals)

        # grid enrichers: transient columns per-query rewrites need (the
        # final ordered select drops them)
        for enrich in self.grid_enrichers:
            agg = enrich(agg)

        # calculated members in solve_order (schema.rb:314-341): formulas
        # over measure aliases, may reference earlier calculated members
        for cm in calc_chain:
            try:
                agg = agg.withColumn(cm.out, F.expr(cm.expression))
            except AnalysisException as e:  # map to the reference shape
                if isinstance(e, ParseException):
                    raise  # lowered formula text is always Spark SQL
                from .query import QueryError

                # reference root cause: "No function matches signature
                # 'Dummy(<Numeric Expression>)'" (query_test.rb:783-790);
                # any other formula that does not type-check (a
                # non-boolean WHEN, a tuple in arithmetic) keeps Spark's
                # reason
                bad = _unresolved_routine_name(e)
                raise QueryError(
                    f"formula for [Measures].[{cm.name}] failed to resolve",
                    root_cause=(
                        str(e).split("\n", 1)[0] if bad is None
                        else f"No function matches signature '{bad}'"
                    ),
                ) from None
        if role is not None and getattr(role, "rollup_policy", "") == "hidden":
            agg = self._hide_rollups(agg, role, group_cols, measures)
        ordered = group_cols + [m.out for m in measures]
        if self._emit_grain:
            ordered.append("__grain")
        return agg.select(*ordered), group_cols

    def _attach_tuple_scalar(self, agg, spec, axes, slicer, totals=None):
        """Tuple scalar reference ``([Measures].[X], [Dim].[M], …)`` in a
        formula (mondrian_test.rb:361-380; jar!mondrian/calc/impl tuple
        value calcs): the value of X with the listed dimensions' current
        members overridden by the tuple's members — other dimensions keep
        the row's context.

        Spark lowering: a sub-aggregate at the grid's grain MINUS the
        overridden dimensions, sliced to the tuple's members, broadcast-
        joined back onto the grid.  The sub-aggregate is one row per
        remaining-grain combination — small by construction, so the join
        never shuffles the grid."""
        out, measure, refs = spec
        overridden = {r.dimension.name for r in refs}
        sub_axes = [
            [s for s in axis if s.dimension.name not in overridden]
            for axis in axes
        ]
        sub_slicer = [r for r in slicer if r.dimension.name not in overridden]
        sub_slicer += list(refs)
        # a fresh planner WITHOUT tuple scalars: nested tuple references
        # are out of scope, and re-attaching here would recurse
        sub_planner = Planner(self.engine, extra_measures=self.extra_measures)
        # mirror the grid's totals mode so rollup/cube super-aggregate rows
        # (NULL grouping keys) find a matching sub-aggregate row
        sub, sub_cols = sub_planner.aggregate(
            sub_axes, sub_slicer, [measure], totals=totals
        )
        sub = sub.select(*sub_cols, F.col(measure.out).alias(out))
        return self._broadcast_attach(agg, sub, sub_cols, out, totals)

    def _broadcast_attach(self, agg, sub, sub_cols, out, totals):
        """Attach a grid-grain scalar sub-frame onto the grid by broadcast
        left join (shared tail of the tuple-scalar / Aggregate-scalar /
        set-statistic lowerings — the sub-frame is one row per
        remaining-grain combination, small by construction, so the grid
        never shuffles).  ``out`` is one attached column name or a list."""
        outs = [out] if isinstance(out, str) else list(out)
        if not sub_cols:
            return agg.crossJoin(F.broadcast(sub))

        def null_safe_attach(frame):
            # one implementation for both branches: a future null-safety
            # change must not silently miss one of them
            g, t = agg.alias("__grid"), frame.alias("__tup")
            cond = None
            for c in sub_cols:
                e = F.col(f"__grid.{c}").eqNullSafe(F.col(f"__tup.{c}"))
                cond = e if cond is None else (cond & e)
            joined = g.join(F.broadcast(t), on=cond, how="left")
            keep = [F.col(f"__grid.{c}") for c in agg.columns] + [
                F.col(o) for o in outs
            ]
            return joined.select(*keep)

        if totals is None:
            # null-safe equality: a grid row whose member key is genuinely
            # NULL in the data must still find its matching NULL-keyed sub
            # row (same semantics as query._apply_subselect's null-safe
            # semi-join).  No totals → no rollup-marker NULLs → no
            # collision risk, so eqNullSafe is always safe here.
            return null_safe_attach(sub)
        # Totals mode: super-aggregate rows carry NULL keys, so the join
        # must be null-safe.  But a GENUINE NULL member key in the data
        # collides with the rollup marker (two sub rows share one key
        # combo) — a null-safe join would then fan grid rows out and
        # cross-assign values.  Detect the collision (one tiny aggregate
        # over the already-small sub frame) and fall back to the plain
        # equality join: detail rows keep exact values, totals rows get
        # NULL — the pre-totals-support behavior, never a wrong value.
        # localCheckpoint: the probe below and the join both consume this
        # frame — eager materialization computes the sub-aggregate once,
        # and (unlike persist) the blocks are released by the
        # ContextCleaner when the frame is garbage-collected, so repeated
        # totals+tuple queries cannot accumulate CacheManager entries
        sub = sub.localCheckpoint(eager=True)
        dup = (
            sub.groupBy(*sub_cols).count().filter(F.col("count") > 1)
            .limit(1).count()
        )
        if dup:
            return agg.join(F.broadcast(sub), on=sub_cols, how="left")
        return null_safe_attach(sub)

    def _scalar_sub_measures(self, exprs: tuple, calcs: list):
        """Prune the scalar sub-plan to the measures the expressions
        actually read: base measures and calc members referenced
        (transitively, via calc formulas) by ``exprs``.  A LinReg formula
        over Rank() positions needs ZERO measure aggregations — computing
        the cube's whole measure list at the sub-grain was pure waste.
        Always keeps ≥1 base measure (the aggregate path needs one)."""
        needed_calcs: list = []
        kept: set = set()
        refs = set().union(*map(references, exprs))
        changed = True
        while changed:
            changed = False
            for c in calcs:
                if c.out not in kept and c.out.lower() in refs:
                    kept.add(c.out)
                    needed_calcs.append(c)
                    refs.update(references(c.expression))
                    changed = True
        base = [m for m in self.cube.measures if m.out.lower() in refs]
        if not base:
            base = [self.cube.measures[0]]
        needed_calcs.sort(key=lambda c: calcs.index(c))  # solve order
        return base, needed_calcs

    def _scalar_safe_calcs(self, expr_sqls: tuple) -> list:
        """Calculated members safe to compute inside a scalar sub-plan.

        An expression may reference calculated members (WITH or cube-level),
        so the sub-aggregate computes them too.  Query-scoped WITH members
        SHADOW same-named cube members (query._measure resolution order), so
        they are listed first and win the closure's first-per-out rule.
        Members whose formulas lower to tuple/Aggregate/set-stat scalars —
        directly or through any transitive reference — cannot attach inside
        a sub-plan (it would recurse); the expressions must not reach one,
        and tainted members stay out of the sub-plan entirely."""
        candidates: list = []
        seen_outs: set[str] = set()
        for c in (*self.extra_measures, *self.cube.calculated_members):
            if c.out not in seen_outs:
                seen_outs.add(c.out)
                candidates.append(c)
        refs = {c.out: set(references(c.expression)) for c in candidates}
        expr_refs = set().union(*map(references, expr_sqls))
        # a scalar alias is tainted, and so is every member reading one
        tainted = {
            r
            for rs in (expr_refs, *refs.values())
            for r in rs
            if _SCALAR_ALIAS.fullmatch(r)
        }
        changed = True
        while changed:  # transitive closure of scalar taint
            changed = False
            for c in candidates:
                if c.out.lower() not in tainted and refs[c.out] & tainted:
                    tainted.add(c.out.lower())
                    changed = True
        if expr_refs & tainted:
            from .query import QueryError

            raise QueryError(
                "set statistic or Aggregate(set, expr): the expression "
                "contains (or references a member whose formula contains) "
                "a tuple/Aggregate/set-statistic scalar — nested scalar "
                "lowerings are not supported"
            )
        return [c for c in candidates if c.out.lower() not in tainted]

    def _attach_stat_scalar(self, agg, specs, axes, slicer, totals=None):
        """Set-statistic values in Measures formulas —
        ``Sum/Median/Stdev/Var/…(set, expr)``, ``Correlation/Covariance/
        LinReg*(set, y[, x])``, ``LinRegPoint(x0, set, y, x)``
        (jar!mondrian/olap/fun/MedianFunDef, StdevFunDef, CorrelationFunDef,
        LinReg$*FunDef; formula-text behavior tests
        /root/reference/test/mondrian_test.rb:608-778) — and
        ``Aggregate({m1, m2}, expr)`` (mondrian_test.rb:222-228;
        AggregateFunDef expression form), which is ``sum``: Mondrian's
        additive combine of ``expr`` evaluated per set member.

        ``specs`` is the GROUP of stat scalars sharing one set: they share
        one sub-aggregate at (grid grain MINUS overridden dims) × the set
        level, so each expression evaluates per member at the remaining
        grain; one collapse of the set level by the statistics themselves
        (``functions.stats`` deterministic variants); and one broadcast
        attach.  A ``__setrank`` column — the member's 1-based
        hierarchy-order position, from the member list so it is
        data-independent — is broadcast-joined in when the expressions use
        MDX ``Rank(<dim>.CurrentMember, <set>)``.

        Totals mode (rollup/cube) recomputes each statistic at every grid
        grain in one pass: the sub-aggregate emits ``grouping_id()``, rows
        whose set dims are rolled up are dropped, and the collapse groups
        by (grain, remaining cols), so a genuine-NULL key row never merges
        with a marker row (``_broadcast_attach`` then falls back to the
        plain equality join: totals rows get NULL, never a wrong value).

        NaN parity: the two-expression family returns NaN (not NULL) when
        the statistic cannot be computed — all-NULL operands, a single
        point — matching the reference's NaN matrix (mondrian_test.rb:
        673-686, 765-778).  Set members with no fact rows at the evaluation
        grain do not contribute (non-empty evaluation, the engine default);
        expressions that never touch a measure still see every member that
        has ANY fact row at the grain."""
        from .functions.stats import stat_column

        # ``where``: a Filter(set, cond) argument — a row filter on the
        # sub-aggregate BEFORE the statistic collapse (FilterFunDef
        # per-member evaluation in the current context); part of the
        # group key, as ``existing`` is
        _out, _fn, _exprs, refs, _arg, _nan, existing, where = specs[0]
        all_exprs = tuple(e for sp in specs for e in sp[2]) + (
            (where,) if where else ()
        )
        if existing and totals is not None:
            from .query import QueryError

            raise QueryError(
                "EXISTING set statistics cannot combine with totals() in "
                "this subset"
            )
        # EXISTING (jar!mondrian/olap/fun/ExistingFunDef): the set binds to
        # the CURRENT evaluation context — the grid's own refs for the
        # set's dimension(s) stay in the sub-aggregate (their path
        # predicates AND with the set, their level columns stay in the
        # collapse grain) and the slicer applies in full, so each cell
        # statistic sees only members sharing fact rows with its
        # coordinates (SURVEY §2.3 reading of "exist in current context")
        overridden = set() if existing else {r.dimension.name for r in refs}
        sub_axes = [
            [s for s in axis if s.dimension.name not in overridden]
            for axis in axes
        ]
        # under totals the set dims go FIRST: any grid grain projects onto
        # a subset of the remaining columns, so rollup/cube over [set…,
        # rem…] covers every grid grain once the set-rolled rows (top
        # grouping bits) are filtered out
        if totals is None:
            sub_axes.append(list(refs))
        else:
            sub_axes.insert(0, list(refs))
        kept_slicer = (
            list(slicer)
            if existing
            else [s for s in slicer if s.dimension.name not in overridden]
        )
        calcs = self._scalar_safe_calcs(all_exprs)
        base, calcs = self._scalar_sub_measures(all_exprs, calcs)
        sub_planner = Planner(self.engine, extra_measures=tuple(calcs))
        sub_planner._emit_grain = totals is not None
        sub, sub_cols = sub_planner.aggregate(
            sub_axes, kept_slicer, base + calcs, totals=totals
        )
        if existing:
            # collapse only the set levels BELOW each dimension's context
            # grain — ancestor level columns (the cell coordinates) stay
            # in the grouping so the statistic is per-cell
            set_outs = set()
            for dname in {r.dimension.name for r in refs}:
                d0 = next(
                    r.dimension for r in refs if r.dimension.name == dname
                )
                ctx_depth = max(
                    (
                        r.depth
                        for axis in axes
                        for r in axis
                        if r.dimension.name == dname
                    ),
                    default=-1,
                )
                set_outs |= {lv.out for lv in d0.levels[ctx_depth + 1 :]}
        else:
            set_outs = {lv.out for r in refs for lv in r.dimension.levels}
        rem_cols = [c for c in sub_cols if c not in set_outs]
        if any("__setrank" in e for e in all_exprs):
            from .query import QueryError

            # Rank() VALUES must come from the stat's own set, which the
            # level-wide rank only equals for a whole-level set (single
            # ref); genconcat uses __setrank purely as an ORDER key, so
            # any same-level member list works (absolute values are
            # irrelevant to a sort)
            order_only = all(
                sp[1] == "genconcat"
                for sp in specs
                if any("__setrank" in e for e in sp[2])
            )
            same_level = (
                len({(r.dimension.name, r.depth) for r in refs}) == 1
            )
            if len(refs) != 1 and not (order_only and same_level):
                raise QueryError(
                    "Rank(CurrentMember, set) inside a set statistic needs "
                    "a single-dimension set"
                )
            r = refs[0]
            # a MULTI-member set spans parents (an explicit {m1, m2, …}
            # list): ranks must come from the FULL level — refs[0]'s path
            # filter would leave every other member a NULL rank, breaking
            # the genconcat order.  Rank() VALUES (single ref) keep the
            # path scope: rank-within-listing is the function's meaning.
            rank_path = r.path if len(refs) == 1 else ()
            ranks = self.engine.level_members(
                r.dimension.name, r.depth, path=rank_path, _with_rank=True
            )
            keys = [
                lv.out
                for lv in r.group_levels
                if lv.out in ranks.columns and lv.out in sub.columns
            ]
            sub = sub.join(
                F.broadcast(ranks.select(*keys, "__setrank")),
                on=keys,
                how="left",
            )
        if where:
            # Filter(set, cond): drop non-qualifying members before the
            # collapse — evaluated per sub-aggregate row, i.e. per member
            # in the remaining-grain context (FilterFunDef semantics).
            # Applied AFTER the __setrank join so a Rank()-referencing
            # condition resolves.
            sub = sub.filter(F.expr(where))
        stat_cols = [
            stat_column(out, fn, *exprs, arg=arg)
            for out, fn, exprs, _refs, arg, _nan, _ex, _wh in specs
        ]
        if totals is None:
            sub = (
                sub.groupBy(*rem_cols).agg(*stat_cols)
                if rem_cols
                else sub.agg(*stat_cols)
            )
        else:
            # drop rows whose SET dims are rolled up (top grouping bits)
            sub = sub.filter(F.col("__grain") < F.lit(2 ** len(rem_cols)))
            if rem_cols:
                sub = (
                    sub.groupBy("__grain", *rem_cols)
                    .agg(*stat_cols)
                    .drop("__grain")
                )
            else:
                sub = sub.agg(*stat_cols)
        for out, _fn, _exprs, _refs, _arg, nan_wrap, _ex, _wh in specs:
            if nan_wrap:
                sub = sub.withColumn(
                    out,
                    F.coalesce(
                        F.col(out).cast("double"), F.lit(float("nan"))
                    ),
                )
        outs = [sp[0] for sp in specs]
        return self._broadcast_attach(agg, sub, rem_cols, outs, totals)

    def _hide_rollups(self, agg, role, group_cols, measures):
        """rollup_policy='hidden' (schema.rb:468-489): a cell whose value
        would roll up over any non-granted member is NULLed.  A cell is
        decidable (→ visible) only when the constrained dimension is grouped
        at least as deep as the deepest grant path; totals rows above that
        grain (NULL level key from rollup/cube) and aggregates that do not
        group the dimension at all are hidden."""
        types = dict(agg.dtypes)
        for dim in role.constrained_dimensions(self.cube):
            need = role.grant_depth(dim)
            if need == 0:
                continue
            guard = dim.levels[need - 1].out
            hide = F.col(guard).isNull() if guard in group_cols else F.lit(True)
            for m in measures:
                agg = agg.withColumn(
                    m.out,
                    F.when(hide, F.lit(None).cast(types[m.out])).otherwise(
                        F.col(m.out)
                    ),
                )
        return agg

    def expand_empty(
        self,
        agg: DataFrame,
        axes: list[list[MemberSetRef]],
        group_cols: list[str],
    ) -> DataFrame:
        """Expand the non-empty cell grid to the FULL axis cross product:
        empty cells surface as NULL measures (NULL-vs-empty semantics,
        SURVEY.md §1.2; NON EMPTY is the default/scale path and this is the
        opt-in — Mondrian defaults the other way round).

        Member frames come from the dimension views (members exist whether
        or not fact rows do), constrained by the axis sets' own path
        predicates; the grid is their cross join, left-joined with the
        aggregate.  Axis cardinality is the user's contract here exactly as
        in the reference — NON EMPTY exists because full grids explode.
        """
        grid: DataFrame | None = None
        for axis in axes:
            by_dim: dict[str, list[MemberSetRef]] = {}
            for ref in axis:
                by_dim.setdefault(ref.dimension.name, []).append(ref)
            for dim_name, refs in by_dim.items():
                dim = refs[0].dimension
                outs: list[str] = []
                for ref in refs:
                    outs = max(outs, [lv.out for lv in ref.group_levels], key=len)
                members = (
                    self.engine.fact
                    if dim.degenerate
                    else self.engine.dims[dim.name].member_df
                )
                # filter BEFORE projecting: range predicates reference
                # ordinal columns that the projection drops
                preds = [_path_predicate(r) for r in refs]
                if all(p is not None for p in preds):
                    members = members.filter(_or_all(preds))
                # role grants AND ragged hide_member_if rules apply to the
                # expanded grid too — a member invisible to listings and
                # navigation must not surface even as a NULL cell
                # (connection_role_test.rb:101-184; STATUS.md leak #8);
                # the shared helper keeps grid/listing/navigation agreeing
                # about which members exist
                from .star import _apply_member_visibility

                role = getattr(self.engine, "role", None)
                depth = max(r.depth for r in refs)
                members = _apply_member_visibility(
                    members, dim, dim.levels[: depth + 1], role, depth
                )
                # the grid's grain must equal the aggregated grain: levels
                # the aggregate stripped (role top_level-hidden ancestors)
                # must not ride along — they would leak invisible values
                # and duplicate cells for keys repeating under different
                # hidden ancestors
                outs = [o for o in outs if o in group_cols]
                if not outs:
                    continue
                members = members.select(*outs).dropDuplicates()
                grid = members if grid is None else grid.crossJoin(members)
        if grid is None:
            return agg
        return grid.join(agg, on=group_cols, how="left")

    def _apply_role(self, uses, use, force: bool = False) -> None:
        """Role grants: the fact is restricted to the granted member region
        on every plan — aggregates *and* drill-through — touched dimension
        or not (rollup_policy 'partial' semantics; roles.py;
        drill-through row filtering test/query_test.rb:1032-1057)."""
        role = getattr(self.engine, "role", None)
        if role is None:
            return
        for dim in role.constrained_dimensions(self.cube):
            if not force and getattr(role, "rollup_policy", "partial") == "full":
                existing = uses.get(dim.name)
                if existing is None or not existing.group_outputs:
                    # 'full' rollup policy: aggregates that don't group this
                    # dimension see the unrestricted fact (roles.py) — and we
                    # must not inject a join for an untouched dimension
                    continue
            u = use(dim)
            pred = role.dimension_predicate(dim)
            if pred is not None:
                u.role_predicates.append(pred)
                depth = max(
                    (
                        len(g.path)
                        for g in role.grants
                        if g.dimension.lower() == dim.name.lower()
                    ),
                    default=0,
                )
                u.pred_depth = max(u.pred_depth, depth)

    def _route_aggregate_table(
        self,
        uses: dict[str, _DimUse],
        group_cols: list[str],
        base_measures: list[Measure],
        totals: str | None,
    ) -> DataFrame | None:
        """Aggregate-table routing (SURVEY.md §4): serve the query from a
        registered summary table when it covers the requested grouping,
        predicates and measures — a plan-construction rule, no Catalyst
        extension needed.  Rollup/cube totals route too: every aggregator a
        summary table may carry is roll-up-safe (register_aggregate rejects
        avg/distinct-count), so the grouping-sets pass runs over the summary
        rows instead of the fact (Mondrian routes GROUPING SETS loads to agg
        tables the same way — schema.rb:374-414).  Returns None when no
        table qualifies."""
        tables = getattr(self.engine, "aggregate_tables", None)
        if not tables or not base_measures:
            return None
        pred_cols: list[str] = []
        preds: list[Column] = []
        for u in uses.values():
            if u.unroutable:
                return None
            if u.predicate is not None:
                preds.append(u.predicate)
                pred_cols += [lv.out for lv in u.dim.levels[: u.pred_depth]]
                pred_cols += list(u.ordinal_outputs)
        needed_cols = set(group_cols) | set(pred_cols)
        for df, agg_outputs, agg_measures in tables:
            if not needed_cols.issubset(agg_outputs):
                continue
            if any(m.out not in agg_measures for m in base_measures):
                continue
            for p in preds:
                df = df.filter(p)
            cols = []
            for m in base_measures:
                a = agg_measures[m.out]
                fn = F.sum if a in ("sum", "count") else (F.min if a == "min" else F.max)
                cols.append(fn(F.col(m.out)).alias(m.out))
            if not group_cols:
                return df.agg(*cols)
            if totals == "rollup":
                return df.rollup(*group_cols).agg(*cols)
            if totals == "cube":
                return df.cube(*group_cols).agg(*cols)
            return df.groupBy(*group_cols).agg(*cols)
        return None

    def _aggregate_base(
        self,
        uses: dict[str, _DimUse],
        group_cols: list[str],
        base_measures: list[Measure],
        totals: str | None,
    ) -> DataFrame:
        df = self._join(uses)
        measure_cols = [measure_column(m, internal=True) for m in base_measures]
        if not measure_cols:
            if group_cols:
                # pure member/tuple query — distinct combinations.  Totals
                # still applies (a query can request only calculated /
                # scalar members yet roll up): emit the grouping sets via
                # an aggregate over a dummy column, dropped right after.
                if totals in ("rollup", "cube"):
                    dummy = [F.max(F.lit(1)).alias("__pm")]
                    if self._emit_grain:
                        dummy.append(F.grouping_id().alias("__grain"))
                    grouped = (
                        df.rollup(*group_cols)
                        if totals == "rollup"
                        else df.cube(*group_cols)
                    )
                    agg = grouped.agg(*dummy).drop("__pm")
                else:
                    agg = df.select(*group_cols).dropDuplicates(group_cols)
                    if self._emit_grain:
                        agg = agg.withColumn("__grain", F.lit(0))
            else:
                # no grouping, no base measures (e.g. literal-only
                # calculated members, mondrian_test.rb:338-358): one
                # grand-total context row for the calc chain to build on
                agg = df.agg(F.max(F.lit(1)).alias("__gt"))
        elif group_cols:
            # multi-level rollup: every cell at the grouping set implied by
            # its axis members' levels; the "(All)" member = grand total —
            # Mondrian batches these as GROUPING SETS
            # (jar!mondrian/rolap/agg/GroupingSetsList; SURVEY.md §2.4).
            # Spark's rollup/cube emit all grouping sets in ONE pass with
            # partial aggregation — exactly the engine-side batching the
            # reference implements by hand.
            if self._emit_grain:
                # bit i of grouping_id ⇔ group col i rolled up (first col =
                # most significant) — the only reliable way to tell a
                # super-aggregate marker NULL from a genuine NULL member key
                measure_cols = measure_cols + [
                    F.grouping_id().alias("__grain")
                    if totals in ("rollup", "cube")
                    else F.lit(0).alias("__grain")
                ]
            if totals == "rollup":
                agg = df.rollup(*group_cols).agg(*measure_cols)
            elif totals == "cube":
                agg = df.cube(*group_cols).agg(*measure_cols)
            elif totals is None:
                agg = df.groupBy(*group_cols).agg(*measure_cols)
            else:
                raise ValueError(f"unknown totals mode {totals!r}")
        else:
            if self._emit_grain:
                measure_cols = measure_cols + [F.lit(0).alias("__grain")]
            agg = df.agg(*measure_cols)
        return agg

    def _measure_closure(
        self, measures: list[Measure | CalculatedMember]
    ) -> tuple[list[Measure], list[CalculatedMember]]:
        """Dependency closure for calculated members.

        A requested calculated member may reference other calculated members
        and base measures that were not themselves requested (Mondrian
        resolves these through the schema at validate time;
        ``test/mondrian_test.rb:579-605`` member-referencing-member).  We scan
        formulas for known output aliases, pull in every transitive
        dependency, aggregate the needed base measures, and compute the
        calc chain in solve_order — extras are pruned by the final select.
        """
        # by lower-case alias; query-scoped WITH members (``measures``)
        # shadow cube entries
        known: dict[str, Measure | CalculatedMember] = {
            m.out.lower(): m
            for m in (
                *self.cube.measures,
                *self.cube.calculated_members,
                *self.extra_measures,
                *measures,
            )
        }

        needed: dict[str, Measure | CalculatedMember] = {}
        # formula dependencies: the aliases a formula names outside its
        # string literals and calls (mdx.references) — a literal holding
        # another member's alias, or a measure named like a SQL function
        # (sum, count), makes no edge
        deps_of: dict[str, list] = {}

        def visit(item: Measure | CalculatedMember) -> None:
            if item.out in needed:
                return
            needed[item.out] = item
            if isinstance(item, CalculatedMember):
                deps_of[item.out] = [
                    known[r]
                    for r in references(item.expression)
                    if r in known and known[r].out != item.out
                ]
                for dep in deps_of[item.out]:
                    visit(dep)

        for m in measures:
            visit(m)
        base = [m for m in needed.values() if isinstance(m, Measure)]
        calc_items = [m for m in needed.values() if isinstance(m, CalculatedMember)]
        calc_outs = {c.out for c in calc_items}
        deps = {
            c.out: {d.out for d in deps_of[c.out] if d.out in calc_outs}
            for c in calc_items
        }
        # dependency-topological order, (solve_order, out) among the ready —
        # a member must compute after every member its formula references
        # even when solve orders tie (Mondrian resolves this through the
        # calc DAG; mondrian_test.rb:338-413 CASE chains)
        by_out = {c.out: c for c in calc_items}
        calcs: list[CalculatedMember] = []
        placed: set[str] = set()
        remaining = set(by_out)
        while remaining:
            ready = sorted(
                (o for o in remaining if deps[o] <= placed),
                key=lambda o: (by_out[o].solve_order, o),
            )
            if not ready:
                # a genuine cycle — raise the reference-shaped error
                # (Mondrian: 'Infinite loop while evaluating calculated
                # member') instead of an opaque unresolved-column failure
                from .query import QueryError

                cyc = sorted(remaining)
                names = ", ".join(f"[Measures].[{by_out[o].name}]" for o in cyc)
                raise QueryError(
                    f"cyclic calculated-member references: {names}",
                    root_cause="Infinite loop while evaluating calculated member",
                )
            o = ready[0]
            calcs.append(by_out[o])
            placed.add(o)
            remaining.discard(o)
        return base, calcs

    def drill_through(
        self,
        slicer: list[MemberSetRef],
        fields: list[tuple[str, str]],
        max_rows: int | None = None,
        nonempty: str | list[str] | None = None,
        group_by: bool = False,
    ) -> DataFrame:
        """Drill-through: the underlying fact rows for one cell context
        (entry point D — SURVEY.md §3; ``lib/mondrian/olap/result.rb:283-419``).

        The reference gets Mondrian's generated drill SQL and *rewrites the
        SQL text in Ruby* (re-selected RETURN fields, LEFT OUTER JOINs for
        non-context tables, max-rows).  Here the same capability is direct
        DataFrame composition: star join ⋈ slicer filter ⋈ projection ⋈ limit
        — the 240-line rewriter collapses (SURVEY.md §3 D).

        ``fields``: ``(output_name, spec)`` where ``spec`` is a level
        reference ``[Dim].[Level]`` or a SQL expression over fact columns.
        Rows are ordered by the returned fields so ``max_rows`` is
        deterministic (result.rb:167-181 orders drill output too).
        """
        from .members import resolve_level

        uses: dict[str, _DimUse] = {}

        def use(dim: Dimension) -> _DimUse:
            return uses.setdefault(dim.name, _DimUse(dim))

        import re as _re

        from .star import _has_caption

        select_exprs: list[tuple[str, str]] = []  # (output, column-after-join)
        for out, spec in fields:
            # RETURN field grammar (result.rb:283-419): level keys,
            # Name([Dim].[Level]), Property([Dim].[Level], 'X'), measures /
            # raw fact expressions
            name_m = _re.match(r"(?is)^\s*name\s*\(\s*(\[.+?\])\s*\)\s*$", spec)
            prop_m = _re.match(
                r"(?is)^\s*property\s*\(\s*(\[.+?\])\s*,\s*'([^']*)'\s*\)\s*$", spec
            )
            if name_m or prop_m:
                dim, idx = resolve_level(self.cube, (name_m or prop_m).group(1))
                u = use(dim)
                lv = dim.levels[idx]
                if name_m:
                    # member display name: the caption source when declared,
                    # else the key column (query_test.rb:962 Name(...))
                    if dim.degenerate:
                        # same display pipeline as table dimensions:
                        # locale-selected caption + member formatter
                        # (_caption_col), evaluated directly on the fact
                        # columns — not the raw caption expression
                        from .star import _caption_col, _has_caption as _hc

                        if _hc(lv):
                            select_exprs.append(
                                (out, _caption_col(lv, getattr(self.engine, "locale", None)))
                            )
                        else:
                            select_exprs.append((out, lv.column))
                    else:
                        cap = f"{lv.out}_caption" if _has_caption(lv) else lv.out
                        u.add_levels([l2.out for l2 in dim.levels[: idx + 1]])
                        if cap != lv.out:
                            u.add_levels([cap])
                        select_exprs.append((out, cap))
                else:
                    props = {n: e for n, e, _f in lv.property_defs}
                    pexpr = props.get(prop_m.group(2))
                    if pexpr is None:
                        # unknown property → empty column, not an error
                        # (query_test.rb:965,978 '' as non_existing)
                        select_exprs.append((out, "''"))
                    elif dim.degenerate:
                        select_exprs.append((out, pexpr))
                    else:
                        u.add_levels([l2.out for l2 in dim.levels[: idx + 1]])
                        u.add_levels([prop_m.group(2)])
                        select_exprs.append((out, prop_m.group(2)))
                continue
            if spec.startswith("["):
                segs = [p.strip(" []") for p in spec.split("].")]
                if len(segs) == 2 and segs[0].lower() == "measures":
                    # [Measures].[X] RETURN field → the measure's fact
                    # expression (result.rb:283-419; the MDX statement path
                    # does the same conversion at parse time)
                    select_exprs.append((out, self.cube.measure(segs[1]).expression))
                    continue
                dim, idx = resolve_level(self.cube, spec)
                u = use(dim)
                level_out = dim.levels[idx].out
                if not dim.degenerate:
                    u.add_levels([lv.out for lv in dim.levels[: idx + 1]])
                select_exprs.append((out, level_out))
            else:
                select_exprs.append((out, spec))

        for ref in slicer:
            u = use(ref.dimension)
            p = _path_predicate(ref)
            if p is not None:
                u.predicates.append(p)
                u.pred_depth = max(u.pred_depth, len(ref.path))

        # drill-through returns raw rows: row-level security applies
        # regardless of rollup_policy (full/partial only differ for
        # aggregate display — query_test.rb:1032-1057 drill row filtering)
        self._apply_role(uses, use, force=True)
        df = self._join(uses)
        df = df.select(
            *[
                (col if isinstance(col, Column) else F.expr(col)).alias(out)
                for out, col in select_exprs
            ]
        )
        if nonempty:
            # nonempty: drop rows where the named measure fields are NULL
            # (result.rb IS NOT NULL injection :385-407;
            # query_test.rb:948-958 `nonempty:` drill option).  Items are
            # `[Measures].[X]` references (comma-separable, like the
            # reference) or bare RETURN output names; every named field
            # must be among the RETURN fields.
            from .query import QueryError

            items: list[str] = []
            specs = (
                [s.strip() for s in nonempty.split(",")]
                if isinstance(nonempty, str)
                else list(nonempty)
            )
            outs = {out for out, _ in select_exprs}
            for spec in specs:
                s = spec.strip()
                if s.startswith("["):
                    segs = [p.strip(" []") for p in s.split("].")]
                    if len(segs) != 2 or segs[0].lower() != "measures":
                        raise QueryError(
                            f"nonempty expects measure references, got {spec!r}"
                        )
                    m = self.cube.measure(segs[1])
                    # the measure may be RETURNed under a CUSTOM alias
                    # (fields=[('qty2', '[Measures].[Sum Qty]')]): match
                    # the select entry carrying its fact expression, then
                    # fall back to the default out name
                    aliased = [
                        o
                        for o, colspec in select_exprs
                        if isinstance(colspec, str)
                        and colspec == m.expression
                    ]
                    s = m.out if m.out in {o for o, _ in select_exprs} else (
                        aliased[0] if aliased else m.out
                    )
                if s not in outs:
                    raise QueryError(
                        f"nonempty field {spec!r} is not among the RETURN fields"
                    )
                items.append(s)
            for out in items:
                df = df.filter(F.col(out).isNotNull())
        if group_by:
            # aggregated drill (result.rb group_by option,
            # query_test.rb:999-1029): measure fields aggregate with their
            # own aggregator; every other RETURN field becomes a group key
            by_out = {m.out: m for m in self.cube.measures}
            keys, aggs = [], []
            for out, _ in select_exprs:
                m = by_out.get(out)
                if m is None:
                    keys.append(out)
                    continue
                a = m.aggregator
                c = F.col(out)
                # the projected field already carries the measure's exact
                # (decimal-cast) expression; aggregate it and widen at the
                # edge exactly like measure_column does
                agg = (
                    F.sum(c) if a == "sum"
                    else F.count(c) if a == "count"
                    else F.min(c) if a == "min"
                    else F.max(c) if a == "max"
                    else F.avg(c) if a == "avg"
                    else F.count_distinct(c)
                )
                if m.dtype:
                    agg = agg.cast(m.dtype)
                aggs.append(agg.alias(out))
            if not aggs:
                raise ValueError("group_by drill-through needs a measure field")
            df = df.groupBy(*keys).agg(*aggs).select(*[o for o, _ in select_exprs])
        if max_rows is not None:
            order = [out for out, _ in select_exprs]
            df = df.orderBy(*order).limit(max_rows)
        return df

    def _join(self, uses: dict[str, _DimUse]) -> DataFrame:
        """Star join: fact ⋈ each used dimension (README.md:132-143).

        Dimensions sharing one physical bridge (same foreign_key + table +
        primary_key, e.g. every orders-derived dimension) are coalesced into
        a single merged join — one shuffle of the fact per *physical* key,
        not per logical dimension (critical at 100 TB where the orders
        bridge is itself large)."""
        df = self.engine.fact
        # degenerate dims: predicates directly on the fact scan (pushdown)
        for u in uses.values():
            if u.dim.degenerate and u.predicate is not None:
                df = df.filter(u.predicate)

        groups: dict[tuple, list[_DimUse]] = {}
        for u in uses.values():
            if u.dim.degenerate:
                continue
            key = (u.dim.foreign_key, u.dim.table, u.dim.primary_key)
            groups.setdefault(key, []).append(u)

        for (fk, _table, _pk), members in groups.items():
            needed = {
                u.dim.name: list(dict.fromkeys(u.group_outputs + _predicate_outputs(u)))
                for u in members
            }
            ddf = self.engine.merged_dim_view([u.dim for u in members], needed)
            # within a dim the predicate is already OR-combined; across
            # dims (a slicer tuple) predicates AND (README.md:134-143)
            for u in members:
                if u.predicate is not None:
                    ddf = ddf.filter(u.predicate)
            if all(u.dim.guaranteed_small for u in members):
                ddf = F.broadcast(ddf)
            on = df[fk] == ddf["__pk"]
            if not any(u.group_outputs for u in members):
                # slicer-only bridge: restrict the fact, ship nothing
                df = df.join(ddf, on, "left_semi")
            else:
                df = df.join(ddf, on, "inner").drop(ddf["__pk"])
        return df


def _ragged_hidden_filter(
    agg: DataFrame,
    uses: dict[str, "_DimUse"],
    group_cols: list[str],
    totals: str | None,
) -> DataFrame:
    """Drop grid rows whose member at a ``hide_member_if`` level is hidden
    (ragged hierarchies — schema.rb:222-230): a member invisible to
    listings and navigation (star._apply_member_visibility) must not
    surface as a grid ROW either, while its fact rows still roll into
    ancestor cells.  Applied to the RETURNED grid only — cached segments
    stay unfiltered, so rollup-reuse from a finer cached grain keeps
    parent totals exact (Mondrian's ragged totals include hidden members'
    data; the member is merely not navigable).

    Rollup/cube super-aggregate marker NULLs must survive: with
    ``__grain`` emitted, the level's grouping bit gates the test exactly;
    otherwise only non-null hidden values are dropped, so a marker NULL
    is never mistaken for a hidden member.  Inert (no-op plan) for
    hierarchies without hide rules."""
    from .star import hide_member_predicate

    has_grain = "__grain" in agg.columns
    for u in uses.values():
        levels = u.dim.levels
        for i, lv in enumerate(levels):
            if not lv.hide_member_if or lv.out not in group_cols:
                continue
            if (
                lv.hide_member_if == "IfParentsName"
                and (i == 0 or levels[i - 1].out not in agg.columns)
            ):
                continue
            visible = hide_member_predicate(levels, i)
            if visible is None:
                continue
            c = F.col(lv.out)
            # exact = NOT visible (the shared rule); safe = the non-null
            # subset of it, immune to rollup marker NULLs
            exact = ~visible
            if lv.hide_member_if == "IfBlankName":
                safe = c == ""
            else:  # IfParentsName
                safe = c == F.col(levels[i - 1].out)
            if not totals:
                hidden = exact
            elif has_grain:
                gi = group_cols.index(lv.out)
                bit = len(group_cols) - 1 - gi
                grouped_here = (
                    F.shiftright(F.col("__grain"), bit).bitwiseAND(
                        F.lit(1)
                    )
                    == 0
                )
                hidden = exact & grouped_here
            else:
                hidden = safe
            agg = agg.filter(~F.coalesce(hidden, F.lit(False)))
    return agg


def _or_all(preds: list[Column]) -> Column:
    p = preds[0]
    for q in preds[1:]:
        p = p | q
    return p


def _predicate_outputs(u: _DimUse) -> list[str]:
    """Level outputs referenced by this dim's predicates — only the path
    prefix actually constrained (plus any range-ordinal columns), so
    slicer-only joins ship the minimum."""
    return [lv.out for lv in u.dim.levels[: u.pred_depth]] + list(u.ordinal_outputs)
