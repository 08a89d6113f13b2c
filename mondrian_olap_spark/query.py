"""Chainable query builder — the Spark-native analog of
``/root/reference/lib/mondrian/olap/query.rb``.

API parity (query.rb line references):

* ``columns/rows/pages/chapters/sections/axis`` — :12-45
* ``crossjoin`` / ``nonempty_crossjoin``        — :47-57
* ``except_``                                   — :59-66
* ``nonempty``                                  — :68-72
* ``distinct``                                  — :74-78
* ``filter`` (condition may reference measures ⇒ HAVING semantics) — :80-95
* ``generate`` (string form)                    — :97-108
* ``order`` ASC/DESC/BASC/BDESC                 — :110-119
* ``top_count/bottom_count/top_percent/bottom_percent/top_sum/bottom_sum`` — :121-139
* ``hierarchize``                               — :141-157
* ``where``                                     — :160-172
* ``with_member(...).as_(...)``                 — :174-186, 211-219

Where the reference accumulates an MDX AST and serialises it to text
(query.rb:230-237 ``to_mdx``), this builder resolves members against the
cube model and compiles directly to a DataFrame plan via
:class:`~mondrian_olap_spark.plan.Planner`; set operations become DataFrame
transformations over the aggregated cell grid (HAVING-style ``filter``,
window-function top-k, anti-filter ``except``), exactly the "native set
evaluation" the reference engine only achieves for a few functions
(SURVEY.md §4 RolapNative*) — here it is the only execution path.

Conditions and sort keys are Spark SQL expression strings over *output
aliases* (e.g. ``"sum_price > 1000"``), the engine's spelling of MDX
formulas over ``[Measures].[X]``.
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .mdx import (
    _ID_CHAIN,
    _LITERAL,
    _OPAQUE,
    MdxError,
    _alias_self_ref,
    _call_args,
    _op_expr,
    _unquote,
    current_member,
    current_members,
    hierarchy_dimension,
    lower_member_properties,
    references,
    rewrite_calls,
)
from .members import MeasureRef, MemberParseError, MemberSetRef, resolve
from .model import CalculatedMember, Measure
from .plan import Planner
from .result import Result
from .star import CubeEngine


@dataclass
class _Axis:
    sets: list[MemberSetRef] = field(default_factory=list)
    measure_names: list[str] = field(default_factory=list)
    mods: list[tuple] = field(default_factory=list)  # ordered modifiers
    #: raw inputs preserved for to_mdx serialization (the reference keeps the
    #: same nested-array IR — query.rb:14-36, asserted test/query_test.rb:157-392)
    raw_base: list[str] = field(default_factory=list)
    display_ops: list[tuple] = field(default_factory=list)
    nonempty_flag: bool = False
    #: verbatim source text of a deferred set operation that REPLACED this
    #: axis's written set with its evaluated member list (UNION/INTERSECT
    #: with computed arguments): ``to_mdx`` serializes this instead of the
    #: flattened members, so round-trips re-execute the ORIGINAL
    #: expression (reference to_mdx is exact — query.rb:230-237).  Ops
    #: recorded after the override (trailing drills) still serialize.
    raw_override: str | None = None
    raw_override_ops_from: int = 0


#: a time-intelligence form left over after the lowering — scanned with
#: identifiers and string literals stepped over (query._lower_formula)
_TIME_INTEL_RE = re.compile(
    _OPAQUE
    + r"|(?i:(\b(?:ytd|qtd|mtd|wtd|periodstodate|lastperiods|parallelperiod|"
    r"openingperiod|closingperiod|ancestor)\s*\("
    r"|\.\s*(?:prevmember|nextmember)\b"
    r"|\.\s*(?:lag|lead)\s*\())"
)
#: ``<hierarchy>.PrevMember|NextMember|Lag(n)|Lead(n)``
_NAV_RE = re.compile(
    rf"\s*({_ID_CHAIN})\s*\.\s*"
    r"(prevmember|nextmember|lag|lead)(?:\s*\(\s*(-?\d+)\s*\))?\s*",
    re.I,
)


#: the op kinds :meth:`Query._set_chain` interprets, whatever position
#: the set is written in
_SET_OPS = ("filter", "order", "topbottom", "slice", "except")


def _names(cm: CalculatedMember) -> set[str]:
    """The :func:`mdx.references` entries that name ``cm``: its output
    alias and its bracketed name."""
    return {cm.out.lower(), cm.name.strip().lower()}


class QueryError(ValueError):
    """Builder/planner error carrying the reference's two-part shape
    (``message`` + ``root_cause_message`` — test/query_test.rb:761-803)."""

    def __init__(self, message: str, root_cause: str | None = None):
        super().__init__(message)
        self.root_cause_message = root_cause or message


@dataclass(frozen=True)
class SetExpr:
    """A *computed set*: base member identifiers plus the op chain
    (``("filter", cond)``, ``("order", expr, dir)``,
    ``("topbottom", side, how, n, expr)``, ``("slice", start, count,
    from_end)``, ``("except", members | SetExpr)``; ``distinct`` /
    ``hierarchize`` / ``nonempty`` are no-ops on a set evaluated at its
    own grain).  ``raw`` keeps the source MDX text for ``to_mdx``.

    It is how a nested set reaches the query, whatever position it is
    written in: the second argument of EXISTS/NONEMPTY/EXCEPT/GENERATE/
    DRILLDOWNMEMBER/TOGGLEDRILLSTATE (:meth:`Query.eval_set_expr`) and a
    CROSSJOIN argument (:meth:`Query.nested_set`).  Both evaluate the set
    in the owning query's slicer context (Mondrian evaluates nested set
    arguments against the current context, not per output tuple), and
    both run the op chain through :meth:`Query._set_chain`, the one
    interpreter an axis's own chain uses too."""

    members: tuple
    ops: tuple = ()
    raw: str | None = None


class Query:
    """One multidimensional query under construction."""

    AXIS_NAMES = ("columns", "rows", "pages", "chapters", "sections")

    def __init__(self, engine: CubeEngine):
        self.engine = engine
        self.cube = engine.cube
        self._axes: dict[int, _Axis] = {}
        self._slicer: list[MemberSetRef] = []
        self._with: list[CalculatedMember] = []
        self._current_axis: int | None = None
        self._pending_member: str | None = None
        self._totals: str | None = None
        self._slicer_raw: list[str] = []
        self._cell_formatters: dict = {}
        self._include_empty = False
        self._named_sets: dict[str, list[str]] = {}
        self._dim_members: list[tuple] = []
        #: names of SCHEMA-activated dimension calc members (lowered by
        #: the MDX layer from cube.dimension_calc_members, not written in
        #: this query's WITH clause): when the grid does not group their
        #: dimension, they skip silently instead of raising — activation
        #: is a substring heuristic, and a schema member must never break
        #: a query that does not actually use it
        self._lenient_dim_members: set[str] = set()
        self._drilldowns: list[MemberSetRef] = []
        #: tuple scalar references recorded by formula translation:
        #: (output column, measure name, member identifier strings)
        self._tuple_scalars: list[tuple[str, str, tuple[str, ...]]] = []
        #: set-statistic scalar references from formula translation, the
        #: Aggregate(set, expr) form as ``sum``: (out, fn, expr_sqls,
        #: member identifier strings, arg, nan_wrap, existing, where)
        self._stat_scalars: list[tuple] = []
        #: Cache(expr) appeared in a formula (CacheFunDef): persist the
        #: evaluated grid for intra-result reuse
        self._cache_hint: bool = False

    # -- axes ----------------------------------------------------------
    def axis(self, i: int, *members) -> "Query":
        ax = self._axes.setdefault(i, _Axis())
        # splice named-set references ([SetName] -> its member list) and
        # evaluate set-valued UDFs (callables receiving the engine at
        # planning time — the call_with_evaluator surface, udf.py)
        expanded: list[str] = []
        for m in members:
            from .members import parse_identifier

            if callable(m):
                out = m(self.engine)
                if not isinstance(out, (list, tuple)) or not all(
                    isinstance(x, str) for x in out
                ):
                    raise QueryError(
                        "set-valued function must return a list of member "
                        "identifier strings"
                    )
                expanded.extend(out)
                continue
            try:
                segs = parse_identifier(m)
            except Exception:
                segs = []
            if len(segs) == 1 and segs[0].lower() in self._named_sets:
                expanded.extend(self._named_sets[segs[0].lower()])
            elif self._is_measures_listing(m):
                # [Measures].Members lists the cube's base measures;
                # .AllMembers additionally includes schema calculated
                # members (Mondrian's Members-vs-AllMembers split —
                # jar!mondrian/olap/fun/LevelMembersFunDef,
                # AddCalculatedMembersFunDef)
                expanded.extend(self._measures_listing(m))
            else:
                expanded.append(m)
        members = tuple(expanded)
        ax.raw_base.extend(members)
        for m in members:
            dm_ref = self._dim_member_axis_ref(m)
            if dm_ref is not None:
                # an explicitly-listed dimension calc member: group the
                # axis at the member set's LEVEL (the union row lands
                # there), with the synthetic name as the leaf path key —
                # it matches no real member, so listing only the calc
                # member shows only its row.  Resolving the identifier as
                # an ordinary path would misplace the NAME at the depth
                # its segment count implies (e.g. into a numeric year
                # column).
                ax.sets.append(dm_ref)
                continue
            ref = self._resolve(m)
            if isinstance(ref, MeasureRef):
                ax.measure_names.append(ref.name)
            else:
                ax.sets.append(ref)
        self._current_axis = i
        return self

    def _dim_member_axis_ref(self, m: str):
        """If identifier ``m`` names a registered dimension calc member
        (``with_dimension_member``/``_formula``) of its own dimension,
        return the axis MemberSetRef shaped for its union row: grouped at
        the member set's level, ancestor path = the set's shared prefix,
        leaf key = the synthetic name."""
        from .members import parse_identifier

        try:
            segs = parse_identifier(m)
        except Exception:
            return None
        if len(segs) > 2:
            # a calc member is referenced as [Name] or [Dim].[Name]; a
            # longer path names a REAL member whose leaf merely collides
            # ([Time].[1995].[Q1] vs a calc member named Q1) — never
            # shadow it
            return None
        last = segs[-1].lower()
        for dm in self._dim_members:
            if dm[1].lower() != last:
                continue
            if len(segs) >= 2:
                try:
                    if (
                        self.cube.dimension(segs[0]).name.lower()
                        != dm[2].name.lower()
                    ):
                        continue
                except KeyError:
                    continue
            return MemberSetRef(
                dimension=dm[2],
                depth=dm[3],
                path=(*dm[4], dm[1]),
                kind="member",
            )
        return None

    @staticmethod
    def _is_measures_listing(m: str) -> bool:
        from .members import parse_identifier_tagged

        try:
            tagged = parse_identifier_tagged(m)
        except Exception:
            return False
        return (
            len(tagged) == 2
            and tagged[0][0].lower() == "measures"
            and not tagged[1][1]  # bare keyword, not a [Members] key
            and tagged[1][0].lower() in ("members", "allmembers")
        )

    def _measures_listing(self, m: str) -> list[str]:
        from .members import parse_identifier

        include_calc = parse_identifier(m)[1].lower() == "allmembers"
        role = getattr(self.engine, "role", None)
        out: list[str] = []
        items = list(self.cube.measures)
        if include_calc:
            items += list(self.cube.calculated_members)
        for meas in items:
            if role is not None:
                try:
                    # a role-denied measure is absent from listings, not an
                    # error (listing vs direct-reference semantics)
                    role.check_measure(self.cube, meas.name)
                except Exception:
                    continue
            out.append(f"[Measures].[{meas.name}]")
        return out

    def columns(self, *members: str) -> "Query":
        return self.axis(0, *members)

    def rows(self, *members: str) -> "Query":
        return self.axis(1, *members)

    def pages(self, *members: str) -> "Query":
        return self.axis(2, *members)

    def chapters(self, *members: str) -> "Query":
        return self.axis(3, *members)

    def sections(self, *members: str) -> "Query":
        return self.axis(4, *members)

    # -- set operations on the current axis ----------------------------
    def crossjoin(self, *members: str) -> "Query":
        """Cross join additional member sets onto the current axis
        (query.rb:47-57).  In the aggregated-DataFrame view a cross join of
        axis sets is simply *additional grouping columns* — the cartesian
        combinations that actually hold data emerge from ``groupBy``."""
        ax = self._axis()
        ax.display_ops.append(("crossjoin", list(members)))
        for m in members:
            ref = self._resolve(m)
            if isinstance(ref, MeasureRef):
                raise QueryError("cannot crossjoin measures")
            ax.sets.append(ref)
        return self

    def member_range(self, from_member: str, to_member: str) -> "Query":
        """Member range ``a:b`` — inclusive range within one level in member
        (ordinal) order (jar!mondrian/olap/fun/RangeFunDef; SURVEY.md §2.5).

        Only the two endpoints are resolved (one-scalar ordinal lookups — the
        same member resolution Mondrian performs at validate time); the range
        itself becomes an ``ordinal BETWEEN lo AND hi`` predicate in the plan,
        so a range over a high-cardinality level never enumerates members on
        the driver.
        """
        ra = self._resolve(from_member)
        rb = self._resolve(to_member)
        if isinstance(ra, MeasureRef) or isinstance(rb, MeasureRef):
            raise QueryError("member_range takes dimension members")
        if (
            ra.dimension.name != rb.dimension.name
            or ra.depth != rb.depth
            or not ra.path
            or not rb.path
            or ra.path[:-1] != rb.path[:-1]
        ):
            raise QueryError(
                "member_range endpoints must be members at the same level "
                "under the same parent"
            )
        dim, depth, prefix = ra.dimension, ra.depth, ra.path[:-1]
        try:
            lo = self.engine.member_ordinal(dim.name, depth, ra.path)
            hi = self.engine.member_ordinal(dim.name, depth, rb.path)
        except KeyError as e:
            raise QueryError(
                f"member_range endpoint not found among "
                f"{dim.name}.{dim.levels[depth].name} members: {e}"
            ) from None
        if lo > hi:  # Mondrian's RangeFunDef normalizes reversed endpoints
            lo, hi = hi, lo
        ax = self._axis()
        ax.sets.append(
            MemberSetRef(
                dim, depth=depth, path=tuple(prefix), kind="range",
                ordinal_range=(lo, hi),
            )
        )
        ax.raw_base.append(f"{from_member}:{to_member}")
        return self

    def periods_to_date(self, level: str, member: str) -> "Query":
        """``PeriodsToDate(level, member)`` as an axis set — the periods at
        ``member``'s level from the start of its ``level`` ancestor through
        ``member`` (jar!mondrian/olap/fun/PeriodsToDateFunDef).

        Planned exactly like a member range: two single-scalar ordinal
        lookups (the ancestor's FIRST period and ``member`` itself), then an
        ``ordinal BETWEEN lo AND hi`` predicate under the ancestor path —
        the set is never enumerated, so a to-date range over a
        high-cardinality time level stays a pushed-down scan predicate."""
        from .members import parse_identifier

        ref = self._resolve(member)
        if isinstance(ref, MeasureRef) or not ref.path:
            raise QueryError("PeriodsToDate takes a full member path")
        segs = parse_identifier(level)
        dim = ref.dimension
        if segs[0].lower() != dim.name.lower() or len(segs) != 2:
            raise QueryError(
                f"PeriodsToDate level {level!r} must name a level of "
                f"dimension {dim.name!r}"
            )
        scope = dim.level_index(segs[1])
        if scope is None or scope >= ref.depth:
            raise QueryError(
                f"PeriodsToDate level {level!r} must be an ancestor level "
                f"of member {member!r}"
            )
        prefix = ref.path[: scope + 1]
        try:
            lo = self.engine.edge_ordinal(dim.name, ref.depth, prefix)
            hi = self.engine.member_ordinal(dim.name, ref.depth, ref.path)
        except KeyError as e:
            raise QueryError(str(e)) from None
        ax = self._axis()
        ax.sets.append(
            MemberSetRef(
                dim, depth=ref.depth, path=tuple(prefix), kind="range",
                ordinal_range=(lo, hi),
            )
        )
        ax.raw_base.append(f"PeriodsToDate({level}, {member})")
        return self

    def xtd(self, kind: str, member: str) -> "Query":
        """``Ytd/Qtd/Mtd/Wtd(member)`` as an axis set (jar!...XtdFunDef):
        PeriodsToDate at the dimension's TimeYears/TimeQuarters/TimeMonths/
        TimeWeeks level."""
        ref = self._resolve(member)
        if isinstance(ref, MeasureRef):
            raise QueryError(f"{kind} takes a time member")
        want = {
            "ytd": "TimeYears", "qtd": "TimeQuarters",
            "mtd": "TimeMonths", "wtd": "TimeWeeks",
        }[kind.lower()]
        dim = ref.dimension
        idx = next(
            (i for i, lv in enumerate(dim.levels) if lv.level_type == want),
            None,
        )
        if idx is None:
            raise QueryError(
                f"{kind}: dimension {dim.name!r} has no {want} level"
            )
        from .members import format_name

        return self.periods_to_date(
            format_name([dim.name, dim.levels[idx].name]), member
        )

    def visual_totals(self, pattern: str | None = None) -> "Query":
        """``VisualTotals(set[, pattern])`` (jar!mondrian/olap/fun/
        VisualTotalsFunDef): append parent rows whose totals are
        re-aggregated from only the VISIBLE child rows of this axis —
        apply after ``filter``/``topcount`` so the totals reflect what
        survived.  ``pattern`` renders the parent caption into the child
        level column with ``*`` replaced by the parent member name
        (``'*subtotal - *'`` convention); without it parent rows carry
        NULL in the child column (the drilldown/totals grid shape).

        Deviations from the reference, documented: the parent rows are
        synthesized one level above the set's deepest level (the
        reference requires parents enumerated in the set), and measures
        whose aggregator cannot re-aggregate from child cells
        (avg, distinct-count) raise instead of silently re-summing."""
        self._axis().mods.append(("visual_totals", pattern))
        self._axis().display_ops.append(("visual_totals", pattern))
        return self

    def nonempty_crossjoin(self, *members: str) -> "Query":
        # NonEmptyCrossJoin ≡ crossjoin here: groupBy over the fact yields
        # only combinations with data (SURVEY.md §2.3)
        return self.crossjoin(*members)

    def include_empty(self) -> "Query":
        """Expand axes to the full member cross product — empty cells appear
        with NULL measures (the reference's default axis behavior; ISEMPTY /
        CoalesceEmpty operate on these cells — mondrian_test.rb:520-541,
        673-686).  NON EMPTY remains the default here because full grids are
        the anti-scale path."""
        self._include_empty = True
        return self

    def nonempty(self) -> "Query":
        """NON EMPTY (query.rb:68-72).  The aggregated grid contains only
        non-empty cells by construction (SQL GROUP BY view), so this is a
        recorded no-op kept for API parity; axis expansion to empty cells is
        the opt-in (``Result.include_empty`` — future work)."""
        self._axis().mods.append(("nonempty",))
        self._axis().nonempty_flag = True
        return self

    def except_(self, *members: str) -> "Query":
        """EXCEPT(set, {members}) — anti-filter on member paths
        (query.rb:59-66; jar!...ExceptFunDef).  Arguments must be concrete
        members: a measure would crash at plan time and a path-less set
        (``Level.Members``) would silently no-op — both rejected here.

        A single :class:`SetExpr` argument subtracts a COMPUTED set —
        evaluated in the slicer context at plan time, then anti-filtered
        exactly like a plain member list (ExceptFunDef takes arbitrary
        sets)."""
        if len(members) == 1 and isinstance(members[0], SetExpr):
            se = members[0]
            self._axis().mods.append(("except", se))
            self._axis().display_ops.append(("except", [se.raw or "{…}"]))
            return self
        refs = [self._resolve(m) for m in members]
        for m, r in zip(members, refs):
            if isinstance(r, MeasureRef):
                raise QueryError(f"except_ takes dimension members, got {m!r}")
            if not r.path:
                raise QueryError(
                    f"except_ needs concrete member paths; {m!r} is a whole "
                    "level/hierarchy (subtracting it would empty the set)"
                )
        self._axis().mods.append(("except", refs))
        self._axis().display_ops.append(("except", list(members)))
        return self

    def distinct(self) -> "Query":
        self._axis().mods.append(("distinct",))
        self._axis().display_ops.append(("distinct",))
        return self

    def filter(self, condition: str, as_alias: str | None = None) -> "Query":
        """FILTER with measure conditions = HAVING on the aggregated grid
        (query.rb:80-85; jar!mondrian/olap/fun/FilterFunDef).  ``as_alias``
        names the set for self-referential iteration (``FILTER(set AS S, …)``
        — query.rb options[:as]; test/query_test.rb:635-644): the condition
        may then use ``S.Current`` / ``S.CurrentOrdinal`` /
        ``RANK(S.Current, S[, expr])``, planned as window functions over the
        axis grid order (never a driver-side iteration)."""
        self._axis().mods.append(("filter", condition, as_alias))
        self._axis().display_ops.append(("filter", condition, as_alias))
        return self

    def filter_last(self, condition: str) -> "Query":
        """FILTER applied to the LAST set added to the axis only
        (query.rb:86-91 add_last_set_function): rows belonging to the last
        set must satisfy ``condition``; rows of earlier sets pass through.
        Serializes as ``{m1, …, FILTER(mN, condition)}``."""
        ax = self._axis()
        if not ax.sets:
            raise QueryError("filter_last needs a set on the current axis")
        ax.mods.append(("filter_last", condition, ax.sets[-1]))
        ax.display_ops.append(("filter_last", condition, len(ax.raw_base) - 1))
        return self

    def filter_nonempty(self) -> "Query":
        """Drop empty cells of the last set —
        ``FILTER(set AS S, NOT ISEMPTY(S.CURRENT))`` (query.rb:93-95).  On
        the aggregated grid a cell is empty iff every measure is NULL, so
        this matters with :meth:`include_empty` (the default grid is already
        non-empty by construction)."""
        ax = self._axis()
        if not ax.sets:
            raise QueryError("filter_nonempty needs a set on the current axis")
        ax.mods.append(("filter_nonempty", ax.sets[-1]))
        ax.display_ops.append(("filter_nonempty",))
        return self

    def generate(
        self, *members: str, all: bool = False, _display: str | None = None
    ) -> "Query":
        """GENERATE(set1, set2[, ALL]) — evaluate ``set2`` for each member of
        the current set (query.rb:97-108; jar!mondrian/olap/fun/GenerateFunDef).

        Supported ``set2`` shapes (the reference's own test corpus,
        query_test.rb:301-310,657-676):

        * ``[Dim].CurrentMember``          — identity (set1 unchanged);
        * ``[Dim].CurrentMember.Children`` — per-member drill: each set of
          that dimension moves one level deeper under the same path;
        * any plain member set             — set2 ignores the current member,
          so the result is set2 itself (duplicates collapse in the grouped
          grid; ``ALL`` is preserved for serialization only).
        """
        import re as _re

        ax = self._axis()
        if not members:
            raise QueryError("generate needs a member set")
        if not ax.sets:
            raise QueryError("generate needs a set on the current axis")
        plain_refs: list = []
        for m in members:
            cur = current_member(self.cube, m)
            drill = cur and _re.fullmatch(r"(?i)\.\s*children\s*", m[cur[1]:])
            if cur and (drill or cur[1] == len(m)):
                dim = cur[0]
                if drill:  # CurrentMember.Children — drill one level
                    new_sets = []
                    for s_ in ax.sets:
                        if s_.dimension.name == dim.name:
                            if s_.depth + 1 >= len(dim.levels):
                                raise QueryError(
                                    f"generate: {dim.name} has no level below "
                                    f"{dim.levels[s_.depth].name}"
                                )
                            new_sets.append(
                                MemberSetRef(
                                    dim, depth=s_.depth + 1, path=s_.path,
                                    kind="children" if s_.kind == "member" else s_.kind,
                                    ordinal_range=s_.ordinal_range,
                                    range_depth=(
                                        s_.range_depth
                                        if s_.range_depth is not None
                                        else s_.depth
                                    ) if s_.kind == "range" else None,
                                )
                            )
                        else:
                            new_sets.append(s_)
                    ax.sets = new_sets
                # identity: set1 unchanged
            else:
                ref = self._resolve(m)
                if isinstance(ref, MeasureRef):
                    raise QueryError("generate takes dimension member sets")
                plain_refs.append(ref)
        if plain_refs:
            # set2 does not reference the current member → result is set2
            ax.sets = plain_refs
        ax.display_ops.append(
            ("GENERATE", [_display] if _display else list(members), bool(all))
        )
        return self

    def order(self, expr: str, direction: str = "BASC") -> "Query":
        """ORDER (query.rb:110-119).  B-variants break the hierarchy (global
        sort); plain ASC/DESC sort within the parent — implemented as a sort
        prefixed by the ancestor level columns (SURVEY.md §2.5)."""
        d = direction.upper()
        if d not in ("ASC", "DESC", "BASC", "BDESC"):
            raise QueryError(f"bad order direction {direction!r}")
        self._axis().mods.append(("order", expr, d))
        self._axis().display_ops.append(("order", expr, d))
        return self

    def top_count(self, n: int, expr: str | None = None) -> "Query":
        self._axis().mods.append(("topbottom", "top", "count", n, expr))
        self._axis().display_ops.append(("TOPCOUNT", n, expr))
        return self

    def bottom_count(self, n: int, expr: str | None = None) -> "Query":
        self._axis().mods.append(("topbottom", "bottom", "count", n, expr))
        self._axis().display_ops.append(("BOTTOMCOUNT", n, expr))
        return self

    def top_percent(self, p: float, expr: str) -> "Query":
        self._axis().mods.append(("topbottom", "top", "percent", p, expr))
        self._axis().display_ops.append(("TOPPERCENT", p, expr))
        return self

    def bottom_percent(self, p: float, expr: str) -> "Query":
        self._axis().mods.append(("topbottom", "bottom", "percent", p, expr))
        self._axis().display_ops.append(("BOTTOMPERCENT", p, expr))
        return self

    def top_sum(self, s: float, expr: str) -> "Query":
        self._axis().mods.append(("topbottom", "top", "sum", s, expr))
        self._axis().display_ops.append(("TOPSUM", s, expr))
        return self

    def bottom_sum(self, s: float, expr: str) -> "Query":
        self._axis().mods.append(("topbottom", "bottom", "sum", s, expr))
        self._axis().display_ops.append(("BOTTOMSUM", s, expr))
        return self

    def head(self, n: int) -> "Query":
        """HEAD(set, n) in the axis's current order (hierarchize by default —
        jar!...HeadTailFunDef; test/query_test.rb:478-482)."""
        self._axis().mods.append(("slice", 0, n, False))
        self._axis().display_ops.append(("HEAD", n, None))
        return self

    def tail(self, n: int) -> "Query":
        """TAIL(set, n) — last n in set order."""
        self._axis().mods.append(("slice", 0, n, True))
        self._axis().display_ops.append(("TAIL", n, None))
        return self

    def subset(self, start: int, count: int) -> "Query":
        """SUBSET(set, start, count) — 0-based slice (jar!...SubsetFunDef)."""
        self._axis().mods.append(("slice", start, count, False))
        self._axis().display_ops.append(("SUBSET", start, count))
        return self

    # -- set-level operations (nested set functions) --------------------
    def nested_set(self, se: SetExpr) -> "Query":
        """A computed set written as a CROSSJOIN argument
        (``CROSSJOIN(A, HEAD(FILTER(B, cond), 2))``): the set is evaluated
        once at its own grain in the slicer context, its whole op chain
        in order (Mondrian evaluates nested set functions against the
        current context, NOT per output tuple), and the axis grid is
        semi-joined to the surviving members."""
        refs = [self._resolve(m) for m in se.members]
        if not refs or any(isinstance(r, MeasureRef) for r in refs):
            raise QueryError("nested set functions need dimension member sets")
        dim = refs[0].dimension
        if any(r.dimension.name != dim.name for r in refs):
            raise QueryError("nested set function members must share a dimension")
        self._axis().mods.append(("subselect", refs, se.ops, None))
        return self

    def exists_(self, *within: str) -> "Query":
        """EXISTS(set1, set2) (jar!mondrian/olap/fun/ExistsFunDef): keep the
        axis's members that share fact rows with at least one member of
        ``within``; measures still aggregate over the UNRESTRICTED context
        (EXISTS filters the set, not the cells).  Planned as a distinct
        member lookup under the ``within`` slice + broadcast semi-join.

        ``within`` may also be a single :class:`SetExpr` — any computed
        set (FILTER/TOPCOUNT/… result) evaluated in the slicer context at
        plan time (jar!mondrian/olap/fun/ExistsFunDef takes arbitrary set
        expressions)."""
        if len(within) == 1 and isinstance(within[0], SetExpr):
            se = within[0]
            ax = self._axis()
            if not ax.sets:
                raise QueryError("exists_ needs a set on the current axis")
            ax.mods.append(("subselect", list(ax.sets), (), se))
            ax.display_ops.append(("EXISTS", [se.raw or "{…}"]))
            return self
        refs2 = [self._resolve(m) for m in within]
        if not refs2 or any(isinstance(r, MeasureRef) for r in refs2):
            raise QueryError("exists_ takes dimension members")
        ax = self._axis()
        if not ax.sets:
            raise QueryError("exists_ needs a set on the current axis")
        ax.mods.append(("subselect", list(ax.sets), (), refs2))
        ax.display_ops.append(("EXISTS", list(within)))
        return self

    def hierarchize(self, post: bool = False) -> "Query":
        self._axis().mods.append(("hierarchize", post))
        self._axis().display_ops.append(("hierarchize", post))
        return self

    def hierarchize_all(self, post: bool = False) -> "Query":
        """HIERARCHIZE over the whole current set expression
        (query.rb:154-158).  The grid planner always hierarchizes the full
        axis (level-path order), so this shares :meth:`hierarchize`'s
        execution; both serialize as ``HIERARCHIZE({…})`` — the golden shape
        of test/query_test.rb:591-611."""
        return self.hierarchize(post)

    # -- slicer / WITH --------------------------------------------------
    def where(self, *members: str) -> "Query":
        """Slicer (query.rb:160-172): same-dimension members form a set
        (IN); different dimensions a tuple (AND) — README.md:134-143."""
        for m in members:
            ref = self._resolve(m)
            if isinstance(ref, MeasureRef):
                raise QueryError("measures cannot appear in the slicer")
            self._slicer.append(ref)
        self._slicer_raw.extend(members)
        return self

    def totals(self, mode: str = "rollup") -> "Query":
        """Include super-aggregate rows for every axis prefix (``rollup``) or
        every axis subset (``cube``) — the engine-side analog of Mondrian's
        "(All)" members and batched GROUPING SETS cell loads
        (jar!mondrian/rolap/agg/GroupingSetsList; SURVEY.md §2.4).
        Super-aggregate rows carry NULL in the rolled-up level columns."""
        if mode not in ("rollup", "cube"):
            raise QueryError(f"totals mode must be rollup|cube, got {mode!r}")
        self._totals = mode
        return self

    def with_member(self, name: str) -> "Query":
        self._pending_member = name
        return self

    def drilldown(self, member: str) -> "Query":
        """DrilldownMember: keep the axis's members and add ``member``'s
        children beneath it (jar!mondrian/olap/fun/DrilldownMemberFunDef).
        Parent rows carry NULL in the child-level column — the
        union-of-grouping-sets shape."""
        ref = self._resolve(member)
        if isinstance(ref, MeasureRef) or not ref.path:
            raise QueryError("drilldown needs a full member path")
        if ref.depth + 1 >= len(ref.dimension.levels):
            raise QueryError(
                f"drilldown: {ref.dimension.name} has no level below "
                f"{ref.dimension.levels[ref.depth].name}"
            )
        self._drilldowns.append((ref, None))
        return self

    def toggle_drill_state(self, *members: str) -> "Query":
        """ToggleDrillState(set, {members}) (jar!mondrian/olap/fun/
        ToggleDrillStateFunDef): per member — if it is currently drilled
        (its children were added by an earlier drill of the same member),
        collapse it by cancelling that drill; otherwise drill it down.
        This is the batch reading of the interactive toggle: the "state"
        is the query's own drill list, so
        ``TOGGLEDRILLSTATE(DRILLDOWNMEMBER(s, {m}), {m})`` returns ``s``."""
        for member in members:
            ref = self._resolve(member)
            if isinstance(ref, MeasureRef) or not ref.path:
                raise QueryError("toggle_drill_state needs a full member path")
            existing = [
                i for i, (r, _lim) in enumerate(self._drilldowns)
                if r.dimension.name == ref.dimension.name
                and r.path == ref.path and r.kind == ref.kind
            ]
            if existing:
                for i in reversed(existing):
                    del self._drilldowns[i]
            else:
                self.drilldown(member)
        return self

    def drilldown_level_top(
        self, n: int, expr: str | None = None, member: str | None = None,
        side: str = "top",
    ) -> "Query":
        """DrilldownLevelTop/Bottom (jar!mondrian/olap/fun/
        DrilldownLevelTopBottomFunDef): drill the axis's members one level
        down but keep only each parent's top/bottom ``n`` children by
        ``expr``.  With ``member``, drills that member only (the
        DrilldownMember top-n variant); otherwise every member of the
        current axis's last set drills."""
        if side not in ("top", "bottom"):
            raise QueryError(f"side must be top|bottom, got {side!r}")
        if member is not None:
            ref = self._resolve(member)
            if isinstance(ref, MeasureRef) or not ref.path:
                raise QueryError("drilldown_level_top needs a full member path")
        else:
            ax = self._axis()
            sets = [s for s in ax.sets]
            if not sets:
                raise QueryError("drilldown_level_top needs a set on the axis")
            ref = sets[-1]
        if ref.depth + 1 >= len(ref.dimension.levels):
            raise QueryError(
                f"drilldown_level_top: {ref.dimension.name} has no level "
                f"below {ref.dimension.levels[ref.depth].name}"
            )
        self._drilldowns.append((ref, (int(n), expr, side)))
        return self

    def drilldown_level_bottom(
        self, n: int, expr: str | None = None, member: str | None = None
    ) -> "Query":
        return self.drilldown_level_top(n, expr, member, side="bottom")

    def drilldown_level(self, member: str | None = None) -> "Query":
        """DrilldownLevel (jar!mondrian/olap/fun/DrilldownLevelFunDef):
        drill the axis's members (or ``member``) one level down with no
        top-n cap — all children union on beneath their parents."""
        if member is not None:
            ref = self._resolve(member)
            if isinstance(ref, MeasureRef) or not ref.path:
                raise QueryError("drilldown_level needs a full member path")
        else:
            ax = self._axis()
            if not ax.sets:
                raise QueryError("drilldown_level needs a set on the axis")
            ref = ax.sets[-1]
        if ref.depth + 1 >= len(ref.dimension.levels):
            raise QueryError(
                f"drilldown_level: {ref.dimension.name} has no level below "
                f"{ref.dimension.levels[ref.depth].name}"
            )
        self._drilldowns.append((ref, None))
        return self

    def with_dimension_member(
        self, name: str, *members: str, dimension: str | None = None
    ) -> "Query":
        """Calculated member on a non-Measures dimension: a synthetic member
        whose cells aggregate a set of real members (the common
        ``WITH MEMBER [Time].[H1] AS 'Aggregate({[Q1],[Q2]})'`` pattern —
        schema.rb:314-341 calc members on any dimension; non-measure calc
        member test /root/reference/test/cube_test.rb:48-51,65-68).

        The member set may span OTHER dimensions (the crossjoin-set form
        ``Aggregate({[Gender].[F]} * {[Customers].[CA], [Customers].[OR]})``
        — mondrian_test.rb:205-212): members of the calc member's home
        dimension (``dimension=``, or the first member's dimension when
        omitted) define the synthetic member; members of any other
        dimension become additional context constraints ANDed into the
        aggregation (a full cross product of per-dimension IN-sets — the
        relational meaning of a crossjoined Aggregate set).

        The synthetic member's cells are recomputed from the fact over the
        member set (exact even for distinct-count — never a sum of sums),
        and appear unioned onto any axis that groups this dimension at the
        members' level.
        """
        # a set element may name an EARLIER query-scoped aggregate member
        # ('aggregate calculated aggregate members', mondrian_test.rb:
        # 231-239): expand it to its underlying real member set — entries
        # store only real refs, so nesting composes to any depth.
        # Builder-API calls apply in call order, so references here must be
        # defined first; the MDX layer lifts that (mdx._apply_dim_member_defs
        # dependency-sorts the WITH clause, so forward references work and
        # cycles raise the reference's infinite-loop error)
        refs = []
        for m in members:
            from .members import parse_identifier

            segs = parse_identifier(m)
            last = segs[-1].lower()

            def _same_dim(dm) -> bool:
                # the reference must name the aggregate member's own
                # dimension — a REAL member of another dimension that
                # happens to share the name must not be shadowed
                if len(segs) < 2:
                    return True
                try:
                    return (
                        self.cube.dimension(segs[0]).name.lower()
                        == dm[2].name.lower()
                    )
                except KeyError:
                    return False

            hit = next(
                (
                    dm
                    for dm in self._dim_members
                    if dm[0] == "aggregate"
                    and dm[1].lower() == last
                    and _same_dim(dm)
                ),
                None,
            )
            if hit is not None:
                if len(hit) > 6 and hit[6]:
                    raise QueryError(
                        f"nested aggregate member {m!r} carries cross-"
                        "dimension constraints — not composable by union"
                    )
                refs.extend(hit[5])
            else:
                refs.append(self._resolve(m))
        if not refs or any(isinstance(r, MeasureRef) for r in refs):
            raise QueryError("with_dimension_member needs dimension members")
        dim = self.cube.dimension(dimension) if dimension else refs[0].dimension
        home = [r for r in refs if r.dimension.name == dim.name]
        extra = [r for r in refs if r.dimension.name != dim.name]
        if not home:
            raise QueryError(
                f"dimension calc member {name!r}: no members of its home "
                f"dimension {dim.name!r} in the set"
            )
        if extra and dimension is None and len({r.dimension.name for r in refs}) > 1:
            raise QueryError(
                "cross-dimension Aggregate sets need an explicit "
                "dimension= for the calc member's home dimension"
            )
        depth = home[0].depth
        if any(r.depth != depth or not r.path for r in home):
            raise QueryError("dimension calc members need full member paths at one level")
        prefix = home[0].path[:-1]
        if any(r.path[:-1] != prefix for r in home):
            raise QueryError(
                "dimension calc member set must share a parent (differing "
                "ancestor paths are not supported)"
            )
        if any(not r.path for r in extra):
            raise QueryError(
                "cross-dimension constraint members need full member paths"
            )
        self._dim_members.append(
            ("aggregate", name, dim, depth, tuple(prefix), home, tuple(extra))
        )
        return self

    def with_dimension_member_formula(self, name: str, formula: str) -> "Query":
        """Formula calculated member on a non-Measures dimension
        (schema.rb:314-341 ``calculated_member`` with ``dimension`` +
        ``formula``; reference test /root/reference/test/cube_test.rb:48-51 —
        e.g. ``'[Customers].[All Customers] - [Customers].[USA]'``).

        ``formula`` is an arithmetic expression over member references of ONE
        dimension; for every measure on the query, the synthetic member's
        cell is the formula applied to the referenced members' cells (each
        recomputed exactly from the fact — one grouped pass for all concrete
        members + one pass for the All member if referenced).  ``[Dim].[All]``
        (or any ``All …`` segment) references the dimension total.  Empty
        member cells count as 0 — Mondrian's additive empty-cell arithmetic.
        """
        import re as _re

        pat = r"(?:\[(?:[^\]]|\]\])*\]\s*\.\s*)+\[(?:[^\]]|\]\])*\]"
        refs: list = []

        def repl(m: "_re.Match") -> str:
            ident = _re.sub(r"\]\s*\.\s*\[", "].[", m.group(0))
            from .members import parse_identifier

            segs = parse_identifier(ident)
            if len(segs) == 2 and (
                segs[1].lower() == "all" or segs[1].lower().startswith("all ")
            ):
                refs.append(("ALL", self.cube.dimension(segs[0])))
            else:
                r = self._resolve(ident)
                if isinstance(r, MeasureRef) or not r.path:
                    raise QueryError(
                        f"formula member {name!r}: {ident!r} is not a full "
                        "dimension member path"
                    )
                refs.append(("MEMBER", r))
            return f"__cm{len(refs) - 1}"

        body = _re.sub(pat, repl, formula)
        if not refs:
            raise QueryError(f"formula member {name!r} references no members")
        dims = {
            r.name if kind == "ALL" else r.dimension.name for kind, r in refs
        }
        if len(dims) > 1:
            raise QueryError(
                f"formula member {name!r}: references span dimensions {sorted(dims)}"
            )
        concrete = [r for kind, r in refs if kind == "MEMBER"]
        if not concrete:
            raise QueryError(
                f"formula member {name!r}: needs at least one concrete member "
                "to anchor the level"
            )
        dim = concrete[0].dimension
        depth = concrete[0].depth
        prefix = concrete[0].path[:-1]
        if any(r.depth != depth or r.path[:-1] != prefix for r in concrete):
            raise QueryError(
                f"formula member {name!r}: concrete members must share a "
                "level and parent"
            )
        self._dim_members.append(
            ("formula", name, dim, depth, tuple(prefix), body, refs)
        )
        return self

    def with_set(self, name: str, *members: str) -> "Query":
        """Named set (WITH SET — query.rb:182-186,302-305; reusable set
        definition in query scope, test/query_test.rb:706-731).  Reference
        it on an axis as ``[name]``."""
        self._named_sets[name.lower()] = list(members)
        return self

    def as_(
        self,
        expression: str,
        solve_order: int = 0,
        format_string: str | None = None,
        output: str | None = None,
        cell_formatter=None,
    ) -> "Query":
        """``cell_formatter``: Python callable value→str applied driver-side
        in ``formatted_values`` (schema_udf.rb:220-239 CellFormatter;
        inline form query.rb:211-219)."""
        if self._pending_member is None:
            raise QueryError("as_ must follow with_member")
        cm = CalculatedMember(
            name=self._pending_member,
            expression=expression,
            solve_order=solve_order,
            format_string=format_string,
            output=output,
        )
        self._with.append(cm)
        if cell_formatter is not None:
            self._cell_formatters[cm.out] = cell_formatter
        self._pending_member = None
        return self

    # -- execution -------------------------------------------------------
    def execute(self, timeout: float | None = None) -> Result:
        idxs = sorted(self._axes)
        if idxs and idxs != list(range(len(idxs))):
            missing = next(i for i in range(idxs[-1]) if i not in self._axes)
            # reference shape: olap4j rejects non-contiguous axes
            raise QueryError(
                f"Axis #{idxs[-1]} specified but axis #{missing} is not"
            )
        axes = [self._axes[i] for i in idxs]
        import dataclasses as _dc

        # calc-member formulas lowered for these axes (to_mdx keeps the
        # original text: self._with is never mutated)
        rewritten: dict[str, CalculatedMember] = {}
        rewrite_errors: dict[str, ValueError] = {}
        # cube-level (schema-declared) calculated members get the SAME
        # per-query rewrites as WITH members — a Mondrian-XML-imported
        # formula like '(Measures.[Profit], [Time].[Time].PREVMEMBER)'
        # (MondrianTest.xml:116) must lower, or fail with the friendly
        # QueryError, not an opaque Spark SQL parse error at use time.
        # WITH members shadow same-named cube members (the _measure
        # resolution order), so they come first and win the dict.
        with_names = {c.name.lower() for c in self._with}
        selected = {n.lower() for ax in axes for n in ax.measure_names}

        # cube-level members the query uses: selected on an axis, or
        # referenced (by output alias / bracketed name) from a WITH
        # formula or — TRANSITIVELY — from an already-used cube member's
        # formula (A = '[Measures].[B] * 2' selected alone must still
        # rewrite B).  Unreferenced members stay out: each rewrite may
        # register grid enrichers (joins).
        cube_calcs = [
            c
            for c in self.cube.calculated_members
            if c.name.lower() not in with_names
        ]
        used_cube_calcs: dict[str, CalculatedMember] = {}
        refs = set().union(*(references(w.expression) for w in self._with))
        changed = True
        while changed:
            changed = False
            for c in cube_calcs:
                if c.name.lower() in used_cube_calcs:
                    continue
                if c.name.lower() in selected or _names(c) & refs:
                    used_cube_calcs[c.name.lower()] = c
                    refs.update(references(c.expression))
                    changed = True

        rewrite_candidates = list(self._with) + list(
            used_cube_calcs.values()
        )
        # CurrentMember properties and time-intelligence value forms —
        # Sum(Ytd(), m), ParallelPeriod tuples, … — lower over the grid's
        # columns, which are only known once the axes are (the binding
        # depends on which levels the axes project).  A member the
        # query never evaluates must not fail it (Mondrian computes calc
        # members lazily): its error is deferred until it is selected.
        # Lowerings may register grid enrichers (transient columns like
        # position-within-parent that the lowered windows reference).
        grid_enrichers: list = []
        for cm in rewrite_candidates:
            try:
                expr = self._lower_formula(cm.expression, axes, grid_enrichers)
            except (QueryError, MdxError) as e:
                rewrite_errors[cm.name] = e
                continue
            if expr != cm.expression:
                rewritten[cm.name] = _dc.replace(cm, expression=expr)
        with_list = tuple(
            rewritten.get(cm.name, cm)
            for cm in rewrite_candidates
            if cm.name not in rewrite_errors
            # cube-level members pass through the planner unrewritten by
            # default (plan.py reads cube.calculated_members); only the
            # ones a rewrite actually CHANGED ride along as extra
            # measures, where first-per-out wins over the raw cube copy
            and (cm.name.lower() in with_names or cm.name in rewritten)
        )
        measures: list[Measure | CalculatedMember] = []
        for ax in axes:
            for name in ax.measure_names:
                m = self._measure(name)
                if isinstance(m, CalculatedMember):
                    if m.name in rewrite_errors:
                        raise rewrite_errors[m.name]
                    m = rewritten.get(m.name, m)
                measures.append(m)
        # a used calc member may reference an unrewritable one
        # (solve-order chaining references the OUTPUT alias; MDX-style
        # text may carry the bracketed name) — surface the underlying
        # error, not a downstream name-not-found.  Whole names only
        # (mdx.references): a member named 'Max' is not referenced by
        # '[Measures].[Max Price]'.
        for used in measures:
            if isinstance(used, CalculatedMember):
                refs = set(references(used.expression))
                for cm in rewrite_candidates:
                    if cm.name in rewrite_errors and _names(cm) & refs:
                        raise rewrite_errors[cm.name]

        # a scalar's set members resolve to member refs; a Measures member
        # there is a user error (the measure belongs elsewhere)
        def member_refs(member_strs, what: str, why: str) -> tuple:
            refs = tuple(map(self._resolve, member_strs))
            for mstr, ref in zip(member_strs, refs):
                if isinstance(ref, MeasureRef):
                    raise QueryError(f"{what} {mstr!r}: {why}")
            return refs

        tuple_specs = []
        for out, mname, member_strs in self._tuple_scalars:
            # mname None = tuple with no [Measures] component: the Measures
            # context is unpinned, so the hierarchy's default member
            # resolves it (Cube defaultMeasure — schema.rb:61; Mondrian
            # evaluates the default measure when Measures is never
            # overridden on an axis or slicer)
            if mname is None:
                measure = self.cube.default_measure_obj()
            else:
                measure = self._measure(mname)
            refs = member_refs(
                member_strs, "tuple component",
                "only one Measures component is allowed per tuple",
            )
            tuple_specs.append((out, measure, refs))
        stat_specs = [
            (
                out, fn, exprs,
                member_refs(
                    members, "set-statistic set member",
                    "measures belong in the expression arguments, not the set",
                ),
                *rest,
            )
            for out, fn, exprs, members, *rest in self._stat_scalars
        ]
        planner = Planner(
            self.engine,
            extra_measures=with_list,
            tuple_scalars=tuple(tuple_specs),
        )
        planner.stat_scalars = tuple(stat_specs)
        planner.grid_enrichers = tuple(grid_enrichers)
        main_axes, shallow_groups = self._split_mixed_depth([ax.sets for ax in axes])
        if shallow_groups and (self._totals is not None or self._include_empty):
            # the shallow unions run outside the totals / empty-expansion
            # passes — combining them would silently omit the shallow
            # members from grand totals and expanded grids
            raise QueryError(
                "mixed-depth axis sets cannot be combined with "
                "totals()/include_empty() in this subset"
            )
        df, group_cols = planner.aggregate(
            main_axes, self._slicer, measures, totals=self._totals
        )
        # an axis whose only set for a dimension is the All member
        # ([Dim].DefaultMember / [Dim].[All]) grouped by NOTHING for that
        # dimension — add its NULL-valued display column (typed from the
        # member view; schema-only, no job) so the grid and sort specs
        # see it.  When the All member shares the axis with deeper sets,
        # _split_mixed_depth already routed it through the shallow-union
        # NULL-padding path and the column exists.
        for axis in main_axes:
            for s in axis:
                if s.kind == "all":
                    out0 = s.dimension.levels[0].out
                    if out0 not in df.columns:
                        dtype = self.engine.level_members(
                            s.dimension.name, 0
                        ).schema[out0].dataType
                        df = df.withColumn(out0, F.lit(None).cast(dtype))
        if self._include_empty:
            if self._totals is not None and group_cols:
                # rollup/cube super-aggregate rows carry NULL grouping keys
                # — the member-grid left join would silently drop them, so
                # expand only the detail rows and union the totals back
                detail_pred = None
                for c in group_cols:
                    p = F.col(c).isNotNull()
                    detail_pred = p if detail_pred is None else (detail_pred & p)
                totals_rows = df.filter(~detail_pred)
                df = planner.expand_empty(
                    df.filter(detail_pred), main_axes, group_cols
                ).unionByName(totals_rows)
            else:
                df = planner.expand_empty(df, main_axes, group_cols)
        for axis_i, dim, shallow_refs in shallow_groups:
            # mixed-depth axis set {[USA], [Canada].[BC]}: shallower members
            # union onto the grid with NULL in the deeper level columns —
            # the grouping-sets shape (jar!mondrian/olap/fun/SetFunDef union
            # of members at different levels; same machinery as drilldown)
            synth_axes = [
                (
                    [r for r in sets if r.dimension.name != dim.name] + shallow_refs
                    if i == axis_i
                    else list(sets)
                )
                for i, sets in enumerate(main_axes)
            ]
            synth, _ = planner.aggregate(synth_axes, self._slicer, measures)
            types = dict(df.dtypes)
            for c in df.columns:
                if c not in synth.columns:
                    synth = synth.withColumn(c, F.lit(None).cast(types[c]))
            df = df.unionByName(synth.select(*df.columns))
        for dm in self._dim_members:
            df = self._union_dimension_member(planner, df, axes, measures, group_cols, dm)
        for ref, limit in self._drilldowns:
            df = self._union_drilldown(planner, df, axes, measures, ref, limit)
        # each axis's ordering is INDEPENDENT (MDX axes order separately);
        # the tidy frame's display sort concatenates them in axis order —
        # a later axis's order() must compose with, not overwrite, an
        # earlier axis's (columns positions stay stable across row groups)
        sort_specs: list[list] = []
        measure_outs = [m.out for m in measures]
        for ax in axes:
            other_cols = [
                c
                for other in axes
                if other is not ax
                for c in self._group_cols_of(other)
                if c not in self._group_cols_of(ax)
            ]
            df, ax_spec = self._apply_mods(
                df, ax, [], measure_outs, other_cols
            )
            sort_specs.append(ax_spec)
        sort_spec = [e for spec in sort_specs for e in spec]
        axis_cols = [self._group_cols_of(ax) for ax in axes]
        formats: dict = {m.out: m.format_string for m in measures if m.format_string}
        # schema-declared cell formatters (model.Measure.cell_formatter,
        # schema_definition_test.rb:1235-1250): callables win over format
        # strings; per-query formatters (below) win over schema ones
        formats.update(
            {
                m.out: m.cell_formatter
                for m in measures
                if getattr(m, "cell_formatter", None) is not None
            }
        )
        formats.update(self._cell_formatters)  # callables win over strings
        if self._cache_hint:
            # Cache(expr) spelling (jar!mondrian/olap/fun/CacheFunDef):
            # transparent for values; the wrapper pins the evaluated grid
            # so repeated reads of this result reuse it.  Cross-QUERY
            # reuse is the engine's aggregate cache (enable_cache), which
            # the sub-aggregates already flow through when enabled.
            # Pins register on the engine (bounded FIFO) so repeated
            # Cache(...) statements cannot accumulate persisted grids;
            # flush_schema_cache releases them all.
            df = df.persist()
            pins = self.engine.__dict__.setdefault("_cache_hint_pins", [])
            pins.append(df)
            if len(pins) > 32:
                pins.pop(0).unpersist()
        res = Result(
            df, axis_cols, [m.out for m in measures], sort_spec, formats,
            locale=getattr(self.engine, "locale", None),
        )
        res.timeout = timeout
        # cell-addressing context: engine + slicer + column→(dim, level)
        # map so Result.cell(...).drill_through() can pin the cell's member
        # region (result.rb:140-157)
        res._engine = self.engine
        res._slicer = list(self._slicer)
        res._col_levels = {
            lv.out: (s.dimension, li)
            for ax in axes
            for s in ax.sets
            for li, lv in enumerate(s.group_levels)
            if lv.out in {v.out for v in self._visible_levels(s)}
        }
        res._base_measures = [m for m in measures if isinstance(m, Measure)]
        # grain log for the aggregate-table advisor: record which
        # (dimension, depth) combinations queries actually group by —
        # bounded ring buffer on the engine (advisor.recommend_from_engine
        # reads it; a dropped tail only ages the log, never breaks it)
        grain: dict[str, int] = {}
        for ax in axes:
            for s in ax.sets:
                if s.group_levels:
                    depth = len(s.group_levels) - 1
                    grain[s.dimension.name] = max(
                        grain.get(s.dimension.name, -1), depth
                    )
        if grain:
            from collections import deque

            log = self.engine.__dict__.setdefault(
                "_query_log", deque(maxlen=10_000)
            )
            log.append(tuple(sorted(grain.items())))
        return res

    def _split_mixed_depth(self, axes_sets):
        """Partition each axis's same-dimension sets by depth: the deepest
        group drives the main aggregation grain; every shallower group
        becomes a union aggregate (NULL-padded in the deeper level columns).
        Without this, {[USA], [Canada].[BC]} would group USA at the state
        grain — wrong rows entirely (SURVEY.md §2.6 mixed-level sets)."""
        unions: list[tuple] = []
        main_axes: list[list] = []
        for ai, sets in enumerate(axes_sets):
            by_dim: dict[str, list] = {}
            for r in sets:
                by_dim.setdefault(r.dimension.name, []).append(r)
            main = list(sets)
            for refs in by_dim.values():
                depths = {r.depth for r in refs}
                if len(depths) <= 1:
                    continue
                deepest = max(depths)
                dim = refs[0].dimension
                main = [
                    r for r in main
                    if r.dimension.name != dim.name or r.depth == deepest
                ]
                for d in sorted(depths - {deepest}):
                    unions.append(
                        (ai, dim, [r for r in refs if r.depth == d])
                    )
            main_axes.append(main)
        return main_axes, unions

    def _union_dimension_member(self, planner, df, axes, measures, group_cols, dm):
        """Compute a dimension calc member's cells and union them onto the
        grid with the synthetic member name in the level columns.  Two
        forms: ``aggregate`` (cells re-aggregated from the fact over a
        member set — exact even for distinct-count) and ``formula``
        (arithmetic over sibling members' cells)."""
        form, name, dim, depth, prefix = dm[:5]
        lenient = name.lower() in self._lenient_dim_members
        target_levels = [lv.out for lv in dim.levels[: depth + 1]]
        if not all(c in group_cols for c in target_levels):
            if lenient:
                return df
            raise QueryError(
                f"dimension calc member {name!r} needs the {dim.name} axis "
                f"grouped at its level"
            )
        if any(c in group_cols for c in
               [lv.out for lv in dim.levels[depth + 1:]]):
            if lenient:
                return df
            raise QueryError(
                f"dimension calc member {name!r}: axis grouped deeper than "
                "the member's level"
            )
        other_axes = [
            [ref for ref in ax.sets if ref.dimension.name != dim.name]
            for ax in axes
        ]
        if form == "aggregate":
            refs = dm[5]
            # cross-dimension constraint members (crossjoin-set Aggregate,
            # mondrian_test.rb:205-212): extra slicer refs — per-dimension
            # IN within the slicer machinery, AND across dimensions.
            # Aggregate-set context OVERRIDES the query slicer on every
            # dimension the set mentions (Mondrian tuple/set evaluation
            # semantics) — same-dimension slicer refs would otherwise
            # OR-merge with the set and silently overcount.
            extra = list(dm[6]) if len(dm) > 6 else []
            overridden = {r.dimension.name for r in refs} | {
                r.dimension.name for r in extra
            }
            kept_slicer = [
                s for s in self._slicer if s.dimension.name not in overridden
            ]
            synth, _ = planner.aggregate(
                other_axes, kept_slicer + list(refs) + extra, measures
            )
        else:
            synth = self._formula_member_cells(
                planner, other_axes, measures, dm
            )
        for i, c in enumerate(target_levels[:-1]):
            synth = synth.withColumn(c, F.lit(prefix[i]))
        synth = synth.withColumn(target_levels[-1], F.lit(name))
        return df.unionByName(synth.select(*df.columns))

    def _formula_member_cells(self, planner, other_axes, measures, dm):
        """Cells of a formula dimension member: one grouped pass computes
        every referenced member's cells (conditional reshape — no per-member
        jobs), one more pass for the All total if referenced; the formula
        combines them per measure.  Everything stays a single declarative
        plan — no driver-side cell loops."""
        import re as _re

        _, name, dim, depth, prefix, body, refs = dm
        concrete = [(i, r) for i, (kind, r) in enumerate(refs) if kind == "MEMBER"]
        all_idx = [i for i, (kind, _) in enumerate(refs) if kind == "ALL"]
        member_axes = [list(s) for s in other_axes]
        member_axes.append([r for _, r in concrete])
        cells, cgroup = planner.aggregate(member_axes, self._slicer, measures)
        dim_outs = {lv.out for lv in dim.levels}
        other_cols = [c for c in cgroup if c not in dim_outs]
        key_col = dim.levels[depth].out
        aggs = []
        for i, r in concrete:
            for m in measures:
                aggs.append(
                    F.max(
                        F.when(F.col(key_col) == r.path[-1], F.col(m.out))
                    ).alias(f"__cm{i}_{m.out}")
                )
        piv = (
            cells.groupBy(*other_cols).agg(*aggs) if other_cols else cells.agg(*aggs)
        )
        if all_idx:
            tot, _ = planner.aggregate(other_axes, self._slicer, measures)
            sel = [F.col(c) for c in other_cols]
            for i in all_idx:
                for m in measures:
                    sel.append(F.col(m.out).alias(f"__cm{i}_{m.out}"))
            tot = tot.select(*sel)
            piv = piv.join(tot, other_cols) if other_cols else piv.crossJoin(tot)
        out_cols = [F.col(c) for c in other_cols]
        for m in measures:
            expr = _re.sub(
                r"__cm(\d+)", lambda mt: f"coalesce(__cm{mt.group(1)}_{m.out}, 0)", body
            )
            out_cols.append(F.expr(expr).alias(m.out))
        return piv.select(*out_cols)

    def _union_drilldown(self, planner, df, axes, measures, ref, limit=None):
        """Append the drilled member's children as extra rows: same axes but
        the target dimension grouped one level deeper under the member's
        path; parent rows get NULL in the new child column.  ``limit``
        (n, expr, side) keeps only each parent's top/bottom-n children —
        one window over the (small) child grid, partitioned by parent."""
        dim = ref.dimension
        if ref.depth + 1 >= len(dim.levels):
            raise QueryError(f"drilldown: {dim.name} has no level below depth {ref.depth}")
        child_ref = MemberSetRef(
            dim,
            depth=ref.depth + 1,
            path=ref.path,
            kind="children" if ref.kind == "member" else ref.kind,
            ordinal_range=ref.ordinal_range,
            # a drilled range still constrains the ORIGINAL level's ordinal
            # (children of members in the range), never the child level's
            range_depth=(
                ref.range_depth if ref.range_depth is not None else ref.depth
            ) if ref.kind == "range" else None,
        )
        child_out = dim.levels[ref.depth + 1].out
        synth_axes = []
        replaced = False
        for ax in axes:
            new_sets = []
            for s_ in ax.sets:
                if s_.dimension.name == dim.name:
                    if not replaced:
                        new_sets.append(child_ref)
                        replaced = True
                else:
                    new_sets.append(s_)
            synth_axes.append(new_sets)
        if not replaced:
            raise QueryError(
                f"drilldown member's dimension {dim.name!r} is not on any axis"
            )
        synth, _ = planner.aggregate(synth_axes, list(self._slicer), measures)
        if limit is not None:
            n, expr, side = limit
            key = F.expr(expr) if expr else F.col(child_out)
            order = key.desc() if side == "top" else key.asc()
            parents = [dim.levels[i].out for i in range(ref.depth + 1)]
            w = Window.partitionBy(*parents).orderBy(order, F.col(child_out))
            synth = (
                synth.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= n)
                .drop("__rn")
            )
        if child_out not in df.columns:
            # NULL parent cells typed like the child level column
            child_type = dict(synth.dtypes)[child_out]
            df = df.withColumn(child_out, F.lit(None).cast(child_type))
        return df.unionByName(synth.select(*df.columns))

    # -- MDX serialization (query.rb:230-237,284-327 to_mdx) -------------
    def to_mdx(self) -> str:
        """Serialize the builder state to MDX text — kept for debugging and
        golden-test parity with the reference builder
        (``test/query_test.rb:394-732``)."""
        lines: list[str] = []
        if self._with:
            parts = []
            for cm in self._with:
                decl = (
                    f"MEMBER [Measures].[{cm.name}] AS '{self._aliases_to_mdx(cm.expression)}'"
                )
                if cm.solve_order:
                    decl += f", SOLVE_ORDER = {cm.solve_order}"
                if cm.format_string:
                    decl += f", FORMAT_STRING = '{cm.format_string}'"
                parts.append(decl)
            lines.append("WITH " + " ".join(parts))
        axis_strs = []
        for i in sorted(self._axes):
            ax = self._axes[i]
            axis_strs.append(
                f"{self._axis_set_mdx(ax)} ON {self.AXIS_NAMES[i].upper() if i < 5 else f'AXIS({i})'}"
            )
        lines.append("SELECT " + ",\n  ".join(axis_strs))
        lines.append(f"FROM [{self.cube.name}]")
        if self._slicer_raw:
            if len(self._slicer_raw) == 1:
                lines.append(f"WHERE ({self._slicer_raw[0]})")
            else:
                lines.append("WHERE (" + ", ".join(self._slicer_raw) + ")")
        return "\n".join(lines)

    def _set_axis_raw_override(self, i: int, raw: str) -> None:
        """Record the verbatim source of a deferred set op that replaced
        axis ``i``'s written set (see ``_Axis.raw_override``)."""
        ax = self._axes[i]
        ax.raw_override = raw
        ax.raw_override_ops_from = len(ax.display_ops)

    def _axis_set_mdx(self, ax: _Axis) -> str:
        if ax.raw_override is not None:
            cur = ax.raw_override
            display_ops = ax.display_ops[ax.raw_override_ops_from:]
        else:
            display_ops = ax.display_ops
            base = list(ax.raw_base)
            # filter_last wraps the set element that was LAST when it was
            # CALLED (index captured then) — members added afterwards must
            # not steal the FILTER wrapper (query.rb add_last_set_function)
            for op in display_ops:
                if op[0] == "filter_last" and base:
                    idx = op[2] if len(op) > 2 else len(base) - 1
                    base[idx] = (
                        f"FILTER({base[idx]}, {self._aliases_to_mdx(op[1])})"
                    )
            cur = base[0] if len(base) == 1 else "{" + ", ".join(base) + "}"
        for op in display_ops:
            kind = op[0]
            if kind == "filter_last":
                continue  # applied above
            if kind == "crossjoin":
                right = op[1][0] if len(op[1]) == 1 else "{" + ", ".join(op[1]) + "}"
                cur = f"CROSSJOIN({cur}, {right})"
            elif kind == "filter":
                cond = self._aliases_to_mdx(op[1])
                alias = op[2] if len(op) > 2 else None
                cur = (
                    f"FILTER({cur} AS {alias}, {cond})"
                    if alias
                    else f"FILTER({cur}, {cond})"
                )
            elif kind == "filter_nonempty":
                cur = f"FILTER({cur} AS S, NOT ISEMPTY(S.CURRENT))"
            elif kind == "GENERATE":
                members, all_flag = op[1], op[2]
                right = members[0] if len(members) == 1 else "{" + ", ".join(members) + "}"
                cur = f"GENERATE({cur}, {right}" + (", ALL)" if all_flag else ")")
            elif kind == "order":
                cur = f"ORDER({cur}, {self._aliases_to_mdx(op[1])}, {op[2]})"
            elif kind == "except":
                right = op[1][0] if len(op[1]) == 1 else "{" + ", ".join(op[1]) + "}"
                cur = f"EXCEPT({cur}, {right})"
            elif kind == "EXISTS":
                right = op[1][0] if len(op[1]) == 1 else "{" + ", ".join(op[1]) + "}"
                cur = f"EXISTS({cur}, {right})"
            elif kind == "distinct":
                cur = f"DISTINCT({cur})"
            elif kind == "hierarchize":
                cur = f"HIERARCHIZE({cur}" + (", POST)" if op[1] else ")")
            elif kind in ("HEAD", "TAIL"):
                cur = f"{kind}({cur}, {op[1]})"
            elif kind == "SUBSET":
                cur = f"SUBSET({cur}, {op[1]}, {op[2]})"
            elif kind in (
                "TOPCOUNT", "BOTTOMCOUNT", "TOPPERCENT",
                "BOTTOMPERCENT", "TOPSUM", "BOTTOMSUM",
            ):
                n, expr = op[1], op[2]
                if expr is not None:
                    cur = f"{kind}({cur}, {n}, {self._aliases_to_mdx(expr)})"
                else:
                    cur = f"{kind}({cur}, {n})"
            elif kind == "visual_totals":
                pat = op[1]
                cur = (
                    f"VISUALTOTALS({cur}, '{pat}')"
                    if pat is not None
                    else f"VISUALTOTALS({cur})"
                )
        if ax.nonempty_flag:
            cur = f"NON EMPTY {cur}"
        return cur

    def _aliases_to_mdx(self, expr: str) -> str:
        """Reverse-map output aliases back to [Measures].[Name] references
        for display."""
        import re as _re

        mapping = {}
        for m in (*self.cube.measures, *self.cube.calculated_members, *self._with):
            mapping[m.out] = f"[Measures].[{m.name}]"

        def repl(match: _re.Match) -> str:
            return mapping.get(match.group(0), match.group(0))

        return _re.sub(r"[A-Za-z_][A-Za-z0-9_]*", repl, expr)

    # -- internals -------------------------------------------------------
    def _axis(self) -> _Axis:
        if self._current_axis is None:
            raise QueryError("no axis defined yet")
        return self._axes[self._current_axis]

    def _resolve(self, member: str):
        # query-scoped WITH members shadow nothing but are resolvable as
        # [Measures].[Name] (query.rb:174-186)
        ref = None
        if member.lower().startswith("[measures]."):
            from .members import parse_identifier

            segs = parse_identifier(member)
            for cm in self._with:
                if len(segs) == 2 and cm.name.lower() == segs[1].lower():
                    return MeasureRef(name=cm.name)
        try:
            return resolve(self.cube, member)
        except KeyError:
            # exact reference root-cause shape (query_test.rb:774-781)
            raise QueryError(
                f"MDX object '{member}' not found in cube "
                f"'{self.cube.name}'"
            ) from None
        except MemberParseError as e:
            # all-less hierarchy DefaultMember: first member in hierarchy
            # (ordinal) order — needs the engine's single-row edge lookup,
            # which cube-only members.resolve cannot do
            if "has no All member" in str(e):
                from .members import format_name, parse_identifier

                dim_name = parse_identifier(member)[0]
                key = self.engine.edge_member(dim_name, 0, ())
                return resolve(
                    self.cube, format_name([dim_name, str(key)])
                )
            raise

    def _measure(self, name: str) -> Measure | CalculatedMember:
        role = getattr(self.engine, "role", None)
        for cm in self._with:
            if cm.name.lower() == name.lower():
                # a query-scoped WITH member is not itself in the schema
                # grant list — the role check applies to the BASE measures
                # its formula references (checking the member's own name
                # would deny every WITH member under a restrictive role)
                if role is not None:
                    refs = set(references(cm.expression))
                    for m in self.cube.measures:
                        if m.out.lower() in refs:
                            role.check_measure(self.cube, m.name)
                return cm
        if role is not None:
            # measure invisibility under roles (connection_role_test.rb)
            role.check_measure(self.cube, name)
        try:
            return self.cube.measure(name)
        except KeyError:
            from .members import quote_segment

            # exact reference root-cause shape (query_test.rb:774-781)
            raise QueryError(
                f"MDX object '[Measures].{quote_segment(name)}' not found "
                f"in cube '{self.cube.name}'"
            ) from None

    def _attach_member_properties(
        self, df, cond: str
    ) -> tuple:
        """``[Dim].CurrentMember.Properties('P')`` inside a FILTER
        condition (mondrian_test.rb:125-131 filtering members by a
        property): join the dimension's member frame onto the grid keyed
        by the dimension's level columns already present, rewrite the
        reference to the property column, and report the joined columns
        for post-filter drop.  Properties are per-member, so the join is
        1:1 on the member key; the member frame is dimension-sized —
        Catalyst broadcasts it."""
        import re as _re

        from pyspark.sql import functions as F

        prop_re = _re.compile(
            rf"(?i)\.\s*Properties\s*\(\s*({_LITERAL})\s*\)"
        )
        drops: list[str] = []
        joined_dims: set[str] = set()

        def repl(dim, pname: str) -> str:
            nonlocal df
            present = [lv for lv in dim.levels if lv.out in df.columns]
            if not present:
                raise QueryError(
                    f"Properties filter on [{dim.name}] needs the "
                    "dimension on the axis"
                )
            lv = present[-1]
            by_name = {n.lower(): n for n, _e, _f in lv.property_defs}
            if pname.lower() not in by_name:
                raise QueryError(
                    f"level {dim.name}.{lv.name} declares no property "
                    f"{pname!r}"
                )
            col = by_name[pname.lower()]
            if dim.degenerate:
                # degenerate property expressions live on fact columns —
                # not recoverable from the aggregated grid
                raise QueryError(
                    "Properties filters on degenerate dimensions are not "
                    "supported — project the expression as a level instead"
                )
            if dim.name not in joined_dims:
                keys = [lv2.out for lv2 in present]
                # one property value per MEMBER: min() makes the pick
                # deterministic when the source rows disagree (Mondrian
                # assumes functional dependency and reads an arbitrary
                # row; an arbitrary pick would make results partitioning-
                # dependent here)
                props = (
                    self.engine.dims[dim.name]
                    .member_df.groupBy(*keys)
                    .agg(
                        *[
                            F.min(n).alias(n)
                            for n, _e, _f in lv.property_defs
                        ]
                    )
                )
                df = df.join(F.broadcast(props), keys, "left")
                joined_dims.add(dim.name)
                drops.extend(n for n, _e, _f in lv.property_defs)
            return f"`{col}`"

        out: list[str] = []
        last = 0
        for start, dim, end in current_members(self.cube, cond):
            p = prop_re.match(cond, end)
            if p is not None:
                out.append(cond[last:start] + repl(dim, _unquote(p.group(1))))
                last = p.end()
        out.append(cond[last:])
        return df, "".join(out), [c for c in drops if c in df.columns]

    def _lower_formula(self, expr: str, axes, enrichers: list) -> str:
        """Lower a calc-member formula for these axes.  Each
        ``[Dim].CurrentMember.<Prop>`` becomes SQL over the member column
        of the deepest ``Dim`` level projected on any axis
        (:func:`..mdx.lower_member_properties`).  Time-intelligence VALUE
        forms become window SQL over the grid's time columns (SURVEY.md
        §2.5; jar!mondrian/olap/fun/{XtdFunDef,PeriodsToDateFunDef,
        LastPeriodsFunDef,ParallelPeriodFunDef,OpeningClosingPeriodFunDef,
        LeadLagFunDef}).  Supported:

        * ``Sum|Avg|Min|Max|Count(Ytd|Qtd|Mtd|Wtd(), <measure>)`` —
          running aggregate from the period start, partitioned by the
          period parent (functions/windows.cumulative semantics);
        * ``Agg(PeriodsToDate([T].[Level]), <measure>)`` — explicit
          to-date level;
        * ``Agg(LastPeriods(n), <measure>)`` — CALENDAR-true trailing
          window (n < 0 → forward frame, n = 0 → empty set → NULL): a
          RANGE frame over a dense period index derived from member-list
          position-within-parent columns, so a period with no fact rows
          still occupies its frame slot.  Boundary: the period must
          EXIST in the member list — a degenerate fact-derived time
          dimension cannot know about periods with zero fact rows;
        * ``(<measure>, ParallelPeriod([T].[Level][, n]))`` — lag over
          the level order; below the top level the partition uses the
          member's POSITION-WITHIN-PARENT (joined from the member list
          via a grid enricher — month 5's cousin one quarter back is
          month 2, the same position in Q1, never month 5 of an earlier
          year);
        * ``(<measure>, OpeningPeriod|ClosingPeriod([T].[Level][, m]))``
          — first/last value of the level's periods within the current
          parent, or within ``m = Ancestor([T].CurrentMember, [T].[L])``;
        * ``(<measure>, [T].PrevMember|NextMember|Lag(n)|Lead(n))`` —
          lag/lead over the dimension's grid columns in level order (the
          reference fixture's "Profit last Period" idiom,
          MondrianTest.xml:116).

        Tuples are read in either order.  Member references are relative
        (the current row); absolute-member set forms belong on axes
        (:meth:`periods_to_date` / :meth:`xtd`)."""
        from .members import parse_identifier

        def grid_levels(dim):
            best: list = []
            for ax in axes:
                for s in ax.sets:
                    if s.dimension.name.lower() != dim.name.lower():
                        continue
                    levels = self._visible_levels(s)
                    if len(levels) > len(best):
                        best = list(levels)
            return [lv.out for lv in best]

        def level_of(dim):
            cols = grid_levels(dim)
            if not cols:
                raise QueryError(
                    f"CurrentMember of [{dim.name}] needs the dimension on "
                    "an axis"
                )
            return next(lv for lv in dim.levels if lv.out == cols[-1])

        def other_cols(dim):
            cols: list[str] = []
            for ax in axes:
                for s in ax.sets:
                    if s.dimension.name.lower() == dim.name.lower():
                        continue
                    for lv in self._visible_levels(s):
                        if lv.out not in cols:
                            cols.append(lv.out)
            return cols

        def time_dim(level_id: str | None = None):
            if level_id:
                segs = parse_identifier(level_id)
                try:
                    dim = self.cube.dimension(segs[0])
                except KeyError as e:
                    raise QueryError(str(e)) from None
                idx = dim.level_index(segs[1]) if len(segs) == 2 else None
                if idx is None:
                    raise QueryError(
                        f"{level_id!r} does not name a dimension level"
                    )
                return dim, idx
            cands = []
            for ax in axes:
                for s in ax.sets:
                    d = s.dimension
                    if d.name in {c.name for c in cands}:
                        continue
                    if any(
                        (lv.level_type or "").startswith("Time")
                        for lv in d.levels
                    ):
                        cands.append(d)
            if len(cands) != 1:
                raise QueryError(
                    "time-intelligence needs exactly one time-typed "
                    "dimension on the axes (or an explicit level argument "
                    "— PeriodsToDate([Dim].[Level]))"
                )
            return cands[0], None

        def measure_out(txt: str) -> str:
            txt = txt.strip()
            if txt.startswith("["):
                segs = parse_identifier(txt)
                if segs[0].lower() == "measures" and len(segs) == 2:
                    return self._measure(segs[1]).out
                raise QueryError(
                    f"time-intelligence expects a measure, got {txt!r}"
                )
            if re.fullmatch(r"\w+", txt):
                return txt  # an already-lowered output alias
            raise QueryError(
                f"time-intelligence expects a measure, got {txt!r}"
            )

        def ensure_pos_column(dim, li: int) -> str:
            """Register a grid enricher joining the member list's
            position-within-parent for level ``li`` (deduped per level);
            returns the transient column name the window references."""
            pos = f"__pos_{dim.levels[li].out}"
            if any(getattr(e, "_pos_name", None) == pos for e in enrichers):
                return pos
            keys = [lv.out for lv in dim.levels[: li + 1]]
            eng = self.engine

            def enrich(agg, _d=dim, _li=li, _keys=keys, _pos=pos):
                ranks = eng.level_members(
                    _d.name, _li, _rank_within_parent=True
                )
                cols = [
                    k
                    for k in _keys
                    if k in ranks.columns and k in agg.columns
                ]
                return agg.join(
                    F.broadcast(ranks.select(*cols, _pos)),
                    on=cols,
                    how="left",
                )

            enrich._pos_name = pos
            enrichers.append(enrich)
            return pos

        def ensure_dense_index_column(dim, li: int) -> str:
            """Register a grid enricher joining the member's 1-based
            position over the FULL ordered member list of level ``li``
            (``level_members(_with_rank=True)``'s ``__setrank``).  Dense
            by construction — consecutive calendar periods differ by
            exactly 1 regardless of ragged child counts (a 52- vs 53-week
            year, a sparse mid-history parent), which a per-level
            mixed-radix product over position-within-parent cannot
            guarantee."""
            idx = f"__pidx_{dim.levels[li].out}"
            if any(getattr(e, "_pos_name", None) == idx for e in enrichers):
                return idx
            keys = [lv.out for lv in dim.levels[: li + 1]]
            eng = self.engine

            def enrich(agg, _d=dim, _li=li, _keys=keys, _idx=idx):
                ranks = eng.level_members(_d.name, _li, _with_rank=True)
                cols = [
                    k
                    for k in _keys
                    if k in ranks.columns and k in agg.columns
                ]
                return agg.join(
                    F.broadcast(
                        ranks.select(*cols, F.col("__setrank").alias(_idx))
                    ),
                    on=cols,
                    how="left",
                )

            enrich._pos_name = idx
            enrichers.append(enrich)
            return idx

        def make_agg_repl(aggname: str):
            def repl(parts: list[str]):
                if len(parts) != 2:
                    return None
                m_xtd = re.fullmatch(
                    r"(?i)(ytd|qtd|mtd|wtd)\s*\(\s*\)", parts[0]
                )
                m_ptd = re.fullmatch(
                    r"(?i)periodstodate\s*\(([^()]*)\)", parts[0]
                )
                m_lp = re.fullmatch(
                    r"(?i)lastperiods\s*\(\s*(-?\d+)\s*\)", parts[0]
                )
                if not (m_xtd or m_ptd or m_lp):
                    return None
                mout = measure_out(parts[1])
                if m_lp:
                    n = int(m_lp.group(1))
                    dim, _ = time_dim()
                    tcols = grid_levels(dim)
                    if not tcols:
                        raise QueryError(
                            f"LastPeriods: the axes do not project "
                            f"{dim.name}"
                        )
                    part = other_cols(dim)
                    partition = (
                        f"PARTITION BY {', '.join(part)} " if part else ""
                    )
                    if n == 0:  # MDX: LastPeriods(0) is the empty set
                        return "CAST(NULL AS DOUBLE)"
                    # CALENDAR-true trailing window: a RANGE frame over a
                    # dense period index — the member's rank in the FULL
                    # ordered member list of the deepest projected level
                    # (a member-list enricher), so a period with no fact
                    # rows still occupies its frame slot (a ROWS frame
                    # over present grid rows would silently span extra
                    # calendar time across gaps) AND ragged hierarchies
                    # index densely (a mixed-radix product over per-level
                    # max child counts left gaps after any parent with
                    # fewer-than-max children, silently shrinking the
                    # trailing window).  Remaining boundary: a period
                    # absent from the member list itself (no dim row at
                    # all) cannot occupy a slot — the index is only as
                    # complete as the time dimension.
                    leaf_li = next(
                        i
                        for i, lv in enumerate(dim.levels)
                        if lv.out == tcols[-1]
                    )
                    idx_expr = ensure_dense_index_column(dim, leaf_li)
                    if n < 0:
                        frame = (
                            f"RANGE BETWEEN CURRENT ROW AND "
                            f"{-n - 1} FOLLOWING"
                        )
                    else:
                        frame = (
                            f"RANGE BETWEEN {n - 1} PRECEDING "
                            "AND CURRENT ROW"
                        )
                    return (
                        f"{aggname}({mout}) OVER ({partition}"
                        f"ORDER BY ({idx_expr}) {frame})"
                    )
                if m_xtd:
                    kind = m_xtd.group(1).lower()
                    want = {
                        "ytd": "TimeYears", "qtd": "TimeQuarters",
                        "mtd": "TimeMonths", "wtd": "TimeWeeks",
                    }[kind]
                    dim, _ = time_dim()
                    scope = next(
                        (
                            i
                            for i, lv in enumerate(dim.levels)
                            if lv.level_type == want
                        ),
                        None,
                    )
                    if scope is None:
                        raise QueryError(
                            f"{kind}: dimension {dim.name!r} has no "
                            f"{want} level"
                        )
                else:
                    arg = m_ptd.group(1).strip()
                    if not arg or "," in arg:
                        raise QueryError(
                            "PeriodsToDate in a formula takes exactly a "
                            "level argument (the member is the current row)"
                        )
                    dim, scope = time_dim(arg)
                tcols = grid_levels(dim)
                if len(tcols) <= scope:
                    raise QueryError(
                        f"the axes do not project {dim.name} below the "
                        "to-date level"
                    )
                part = other_cols(dim) + tcols[: scope + 1]
                partition = (
                    f"PARTITION BY {', '.join(part)} " if part else ""
                )
                order = ", ".join(tcols[scope + 1 :])
                return (
                    f"{aggname}({mout}) OVER ({partition}ORDER BY {order} "
                    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                )

            return repl

        def is_current(text: str) -> bool:
            cur = current_member(self.cube, text)
            return cur is not None and cur[1] == len(text)

        def navigate(nav: re.Match, mtxt: str) -> str | None:
            fn = nav.group(2).lower()
            if fn in ("lag", "lead") and nav.group(3) is None:
                return None
            if not re.fullmatch(r"\[.*|\w+", mtxt, re.S):
                return None
            dim = hierarchy_dimension(self.cube, nav.group(1))
            if dim is None:
                return None  # a member path, not a bare hierarchy
            tcols = grid_levels(dim)
            if not tcols:
                raise QueryError(f"{fn}: the axes do not project {dim.name}")
            n = int(nav.group(3) or 1)
            wfn = "lag" if fn in ("prevmember", "lag") else "lead"
            mout = measure_out(mtxt)
            part = other_cols(dim)
            partition = f"PARTITION BY {', '.join(part)} " if part else ""
            order = ", ".join(tcols)
            return f"{wfn}({mout}, {n}) OVER ({partition}ORDER BY {order})"

        def period(fn: str, args: list[str], mtxt: str) -> str:
            mout = measure_out(mtxt)
            if not args:
                raise QueryError(
                    f"{fn} needs an explicit level argument in this subset"
                )
            dim, idx = time_dim(args[0])
            tcols = grid_levels(dim)
            if len(tcols) <= idx:
                raise QueryError(
                    f"the axes do not project {dim.name} at the "
                    f"{fn} level"
                )
            if fn == "parallelperiod":
                n = int(args[1]) if len(args) > 1 else 1
                if len(args) > 2:
                    raise QueryError(
                        "ParallelPeriod member argument is not supported "
                        "in this subset (the member is the current row)"
                    )
                if idx == 0:
                    below = tcols[idx + 1 :]
                else:
                    # positional cousin: lag over raw below-level columns
                    # would silently compute the wrong member (month 5 one
                    # quarter back is month 2 — same POSITION in Q1, never
                    # month 5 of an earlier year), so the partition uses
                    # position-within-parent columns joined from the
                    # member list (data-independent, broadcast enricher)
                    below = [
                        ensure_pos_column(dim, li)
                        for li in range(idx + 1, len(tcols))
                    ]
                part = other_cols(dim) + below
                partition = (
                    f"PARTITION BY {', '.join(part)} " if part else ""
                )
                order = ", ".join(tcols[: idx + 1])
                return f"lag({mout}, {n}) OVER ({partition}ORDER BY {order})"
            wfn = "first_value" if fn == "openingperiod" else "last_value"
            if len(args) > 1:
                # explicit scope member: Ancestor(CurrentMember, [LevelB])
                # widens the frame to the LevelB ancestor's descendants;
                # a bare CurrentMember at the grid's own level is the
                # degenerate single-row frame (the value itself)
                anc = _call_args(args[1], "ancestor")
                if anc is not None and len(anc) == 2 and is_current(anc[0]):
                    dim_b, idx_b = time_dim(anc[1])
                    if dim_b.name != dim.name or idx_b > idx:
                        raise QueryError(
                            f"{fn}: the Ancestor level must be an "
                            f"ancestor level of {dim.name!r}'s "
                            f"{dim.levels[idx].name!r}"
                        )
                    part = other_cols(dim) + tcols[: idx_b + 1]
                    order = ", ".join(tcols[idx_b + 1 :]) or tcols[idx_b]
                elif is_current(args[1]):
                    part = other_cols(dim) + tcols
                    order = tcols[idx]
                else:
                    raise QueryError(
                        f"{fn} member argument must be "
                        "[Dim].CurrentMember or "
                        "Ancestor([Dim].CurrentMember, [Dim].[Level]) "
                        "in this subset"
                    )
            else:
                part = other_cols(dim) + tcols[:idx]
                order = ", ".join(tcols[idx:])
            partition = f"PARTITION BY {', '.join(part)} " if part else ""
            return (
                f"{wfn}({mout}) OVER ({partition}ORDER BY {order} "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
            )

        def repl_tuple(parts: list[str]) -> str | None:
            # (measure, <period call>) or (measure, <dim navigation>), in
            # either order
            for i, part in enumerate(parts):
                for fn in ("parallelperiod", "openingperiod", "closingperiod"):
                    args = _call_args(part, fn)
                    if args is None:
                        continue
                    if len(parts) != 2:
                        raise QueryError(
                            f"{fn} is supported as a 2-tuple with exactly "
                            "one measure in this subset"
                        )
                    return period(fn, args, parts[1 - i])
                nav = _NAV_RE.fullmatch(part)
                if nav is not None and len(parts) == 2:
                    return navigate(nav, parts[1 - i])
            return None

        table = {a: make_agg_repl(a) for a in ("sum", "avg", "min", "max", "count")}
        table[""] = repl_tuple
        out = lower_member_properties(
            expr, self.cube, level_of, self.engine.fact.sparkSession,
            QueryError,
        )
        out = rewrite_calls(out, table)
        leftover = next(
            (m for m in _TIME_INTEL_RE.finditer(out) if m.group(1)), None
        )
        if leftover:
            raise QueryError(
                f"unsupported time-intelligence form at "
                f"{leftover.group(1)!r}: supported are Sum/Avg/Min/Max/"
                "Count over Ytd()/Qtd()/Mtd()/Wtd()/PeriodsToDate(level)/"
                "LastPeriods(n), and 2-tuples of a measure with "
                "ParallelPeriod(level[, n]), OpeningPeriod/ClosingPeriod"
                "(level[, <dim>.CurrentMember | Ancestor(<dim>.CurrentMember,"
                " level)]) or <dim>.PrevMember/NextMember/Lag(n)/Lead(n)"
            )
        return out

    def _visible_levels(self, s) -> list:
        """A set's grouping levels minus any hidden by a level-bounded
        hierarchy grant (ancestors above top_level are invisible —
        mirrors plan.aggregate's grid columns)."""
        role = getattr(self.engine, "role", None)
        levels = s.group_levels
        if s.kind == "all":
            # the All member displays in the TOP level's column (NULL-
            # valued — the totals() super-aggregate convention)
            levels = s.dimension.levels[:1]
        if role is not None:
            b = role.level_bounds(s.dimension)
            if b is not None and b[0] > 0:
                levels = levels[b[0]:]
        return list(levels)

    def _group_cols_of(self, ax: _Axis) -> list[str]:
        cols: list[str] = []
        for s in ax.sets:
            for lv in self._visible_levels(s):
                if lv.out not in cols:
                    cols.append(lv.out)
        return cols

    def _apply_mods(self, df: DataFrame, ax: _Axis, sort_spec: list,
                    measure_outs: list[str] | None = None,
                    other_cols: list[str] | None = None):
        from .plan import _path_predicate

        group_cols = self._group_cols_of(ax)
        tiebreak = [F.col(c) for c in group_cols]
        # dimension members on OTHER axes: a ranking or slicing window over
        # the cell grid would pick top-n CELLS, not top-n members of this
        # axis's set.  The axis's whole set-op chain is then evaluated ONCE
        # at the set's own grain in the slicer context (Mondrian evaluates
        # an axis set once, not per cross-cell) and the grid is semi-joined
        # to the surviving members; ORDER still sorts the cells for display.
        crossed = (
            [m for m in ax.mods if m[0] in _SET_OPS] if other_cols else []
        )
        if any(m[0] == "filter" and _alias_self_ref(m[1], m[2]) for m in crossed):
            raise QueryError(
                "set self-references (ALIAS.Current) are not "
                "supported when dimension members sit on other "
                "axes — the window would rank cells, not the "
                "set's members"
            )
        # the set's own iteration order on THIS axis: hierarchize order
        # until an order/hierarchize mod of this axis changes it.  The
        # cross-axis ``sort_spec`` (threaded for final display ordering)
        # must NOT leak into set semantics — a previous axis's ORDER has no
        # bearing on which members HEAD/CurrentOrdinal select here.
        local_sort: list | None = None
        for mod in ax.mods:
            kind = mod[0]
            if kind == "nonempty":
                continue
            if kind in _SET_OPS:
                if crossed:
                    df = self._apply_subselect(df, list(ax.sets), crossed)
                    crossed = []
                if other_cols and kind != "order":
                    continue
                drops: list[str] = []
                if kind == "filter":
                    # ALIAS.Current / CurrentOrdinal / Rank(S.Current, S):
                    # windows over the axis grid in the set's order
                    df, cond, drops = self._rewrite_current(
                        df, mod[1], mod[2], local_sort or list(tiebreak),
                        group_cols, measure_outs or [],
                    )
                    mod = ("filter", cond)
                df, order = self._set_chain(
                    df, group_cols, [mod], order=local_sort
                )
                if drops:
                    df = df.drop(*drops)
                if order is not None:
                    sort_spec = local_sort = order
            elif kind == "filter_last":
                # condition applies only to rows of the LAST set; other
                # sets' rows pass through (query.rb:86-91)
                _, cond, ref = mod
                memb = _path_predicate(ref)
                if memb is None:
                    df = df.filter(F.expr(cond))
                else:
                    # NULL membership (totals rows) passes through
                    df = df.filter(F.coalesce(~memb, F.lit(True)) | F.expr(cond))
            elif kind == "filter_nonempty":
                # a cell is empty iff every measure is NULL (ISEMPTY
                # semantics over the grid — SURVEY.md §1.2)
                ref = mod[1]
                nonempty = None
                for mc in measure_outs or []:
                    c = F.col(mc).isNotNull()
                    nonempty = c if nonempty is None else (nonempty | c)
                if nonempty is None:
                    continue
                memb = _path_predicate(ref)
                df = df.filter(
                    nonempty
                    if memb is None
                    else (F.coalesce(~memb, F.lit(True)) | nonempty)
                )
            elif kind == "distinct":
                df = df.dropDuplicates()
            elif kind == "hierarchize":
                post = mod[1]
                # sort over the GRID's member columns (drilldown adds child
                # level columns that are not in ax.sets)
                grid_cols = [
                    c for c in df.columns if c not in set(measure_outs or [])
                ]
                if post:
                    # POST = depth-first with parents AFTER children: parent
                    # rows carry NULL in the deeper level columns (drilldown
                    # / totals shape), so asc_nulls_last per level places
                    # each parent right after its own subtree
                    # (jar!mondrian/olap/fun/HierarchizeFunDef post flag)
                    sort_spec = [F.col(c).asc_nulls_last() for c in grid_cols]
                else:
                    sort_spec = [F.col(c) for c in grid_cols]  # level-path order
                local_sort = list(sort_spec)
            elif kind == "visual_totals":
                # VisualTotals (jar!...VisualTotalsFunDef): parent rows
                # re-aggregated from the VISIBLE child rows only — runs in
                # mod order, so filters/topcounts applied before it shape
                # what the totals see.  In-memory rollup of the grid: no
                # fact rescan (SURVEY.md §4 EnableInMemoryRollup).
                pattern = mod[1]
                if not group_cols:
                    raise QueryError(
                        "visual_totals needs a member set on this axis"
                    )
                child_col = group_cols[-1]
                parent_cols = list(group_cols[:-1])
                dtypes = dict(df.dtypes)
                aggs, recompute = self._visual_total_aggs(
                    measure_outs or [], dtypes
                )
                keys = parent_cols + [
                    c for c in (other_cols or []) if c in df.columns
                ]
                leftover = [
                    c
                    for c in df.columns
                    if c not in keys
                    and c != child_col
                    and c not in (measure_outs or [])
                ]
                # the visible grid feeds BOTH union branches (child rows
                # verbatim + the parent re-aggregation) — eagerly
                # materialize the axis-sized frame once, or each branch
                # re-runs the whole fact scan (localCheckpoint blocks are
                # released by the ContextCleaner, the repo's standard
                # self-reuse discipline)
                df = df.localCheckpoint(eager=True)
                # only deepest-grain rows feed the totals (drilldown
                # parents / totals rows carry NULL in the child column)
                src = df.filter(F.col(child_col).isNotNull())
                parents = src.groupBy(*keys).agg(*aggs) if keys else src.agg(*aggs)
                for out_name, expr_sql in recompute:
                    parents = parents.withColumn(out_name, F.expr(expr_sql))
                for c in leftover:
                    parents = parents.withColumn(
                        c, F.lit(None).cast(dtypes[c])
                    )
                if pattern is not None:
                    if dtypes[child_col] != "string":
                        raise QueryError(
                            "visual_totals pattern needs a string-typed "
                            f"child level column ({child_col} is "
                            f"{dtypes[child_col]})"
                        )
                    name_src = (
                        F.col(parent_cols[-1]).cast("string")
                        if parent_cols
                        else F.lit(ax.sets[0].dimension.name)
                    )
                    parents = parents.withColumn(
                        child_col,
                        F.replace(
                            F.lit(pattern), F.lit("*"), name_src
                        ),
                    )
                else:
                    parents = parents.withColumn(
                        child_col, F.lit(None).cast(dtypes[child_col])
                    )
                df = df.unionByName(parents.select(*df.columns))
            elif kind == "subselect":
                _, refs, ops, within = mod
                df = self._apply_subselect(df, refs, ops, within)
        return df, sort_spec


    def _visual_total_aggs(self, measure_outs: list[str], dtypes: dict):
        """Re-aggregation columns for a visual-totals rollup of the grid.

        Base measures re-aggregate by their own aggregator (sum of a
        count is the parent count; sums re-widen to exact decimals so the
        visible total is bit-identical across shuffle orders, the
        visual_totals_regions discipline).  Calculated members recompute
        their formula on the re-aggregated parent row.  avg /
        distinct-count cells cannot re-aggregate exactly — raise instead
        of silently re-summing."""
        base_by_out = {m.out: m for m in self.cube.measures}
        calc_by_out: dict = {}
        for c in (*self._with, *self.cube.calculated_members):
            calc_by_out.setdefault(c.out, c)
        aggs, recompute = [], []
        for out in measure_outs:
            if out in base_by_out:
                how = base_by_out[out].aggregator
                if how == "sum":
                    aggs.append(
                        F.sum(F.col(out).cast("decimal(27,6)"))
                        .cast(dtypes[out])
                        .alias(out)
                    )
                elif how == "count":
                    aggs.append(F.sum(out).cast(dtypes[out]).alias(out))
                elif how == "min":
                    aggs.append(F.min(out).alias(out))
                elif how == "max":
                    aggs.append(F.max(out).alias(out))
                elif how == "avg":
                    # reference parity: VisualTotals evaluates the parent
                    # as Aggregate(children), which for an avg measure is
                    # the average OF the child cell averages (not the
                    # fact-grain average)
                    aggs.append(F.avg(out).cast(dtypes[out]).alias(out))
                else:
                    raise QueryError(
                        f"visual_totals cannot re-aggregate measure "
                        f"{out!r} ({how}) from child cells — "
                        "distinct-count totals need the fact grain"
                    )
            elif out in calc_by_out:
                recompute.append((out, calc_by_out[out].expression))
            else:
                raise QueryError(
                    f"visual_totals: unknown measure column {out!r}"
                )
        # recomputed formulas may reference base outs — they apply after
        # the groupBy, in declaration order (solve-order approximation)
        return aggs, recompute

    def _rewrite_current(self, df: DataFrame, cond: str, alias: str | None,
                         order: list, group_cols: list[str],
                         measure_outs: list[str]):
        """Lower ``ALIAS.Current`` self-references inside a FILTER condition
        (named-set / ``AS S`` iteration — test/query_test.rb:635-644;
        jar!mondrian/mdx/NamedSetExpr $Current/$CurrentOrdinal, fun/RankFunDef)
        to grid-native forms:

        * ``[NOT] ISEMPTY(S.Current)``     → all/any-measure NULL test
        * ``S.CurrentOrdinal``             → ``row_number() - 1`` over the
          axis order (the set's iteration order)
        * ``RANK(S.Current, S, expr)``     → ``rank()`` over ``expr DESC``
        * ``RANK(S.Current, S)``           → 1-based position in set order
        * ``S.Current.Name``               → the deepest level's member column

        Everything stays a window over the (axis-sized) grid — no driver
        iteration, no per-member subqueries."""
        import re as _re

        if not alias:
            return df, cond, []
        a = r"\[?" + _re.escape(alias) + r"\]?"
        drops: list[str] = []

        def empty_test(neg: bool) -> str:
            if not measure_outs:
                return "true" if neg else "false"
            op, joiner = (" IS NOT NULL", " OR ") if neg else (" IS NULL", " AND ")
            return "(" + joiner.join(c + op for c in measure_outs) + ")"

        cond = _re.sub(
            rf"(?i)NOT\s+ISEMPTY\s*\(\s*{a}\s*\.\s*CURRENT\s*\)",
            lambda m: empty_test(True), cond)
        cond = _re.sub(
            rf"(?i)ISEMPTY\s*\(\s*{a}\s*\.\s*CURRENT\s*\)",
            lambda m: empty_test(False), cond)

        # every RANK(S.Current, S[, expr]) lowers to its own window column
        def repl_rank(args: list[str]):
            nonlocal df
            if (
                len(args) < 2
                or not _re.fullmatch(rf"(?i){a}\s*\.\s*CURRENT", args[0])
                or not _re.fullmatch(rf"(?i){a}", args[1])
            ):
                return None
            if len(args) > 3:
                raise QueryError(f"malformed RANK() in condition {cond!r}")
            out_col = f"__set_rank_{len(drops)}"
            if len(args) == 3:
                # Rank(t, set, expr): position when the set is sorted by expr
                # descending; ties share a rank (RankFunDef 3-arg form)
                w = Window.orderBy(F.expr(args[2]).desc())
                df = df.withColumn(out_col, F.rank().over(w))
            else:
                # 2-arg Rank: 1-based position in the set's own order
                w = Window.orderBy(*order)
                df = df.withColumn(out_col, F.row_number().over(w))
            drops.append(out_col)
            return out_col

        cond = rewrite_calls(cond, {"rank": repl_rank})
        if _re.search(rf"(?i){a}\s*\.\s*CURRENTORDINAL", cond):
            w = Window.orderBy(*order)
            df = df.withColumn("__set_ordinal", F.row_number().over(w) - F.lit(1))
            cond = _re.sub(rf"(?i){a}\s*\.\s*CURRENTORDINAL", "__set_ordinal", cond)
            drops.append("__set_ordinal")
        name_pat = rf"(?i){a}\s*\.\s*CURRENT\s*\.\s*NAME"
        if _re.search(name_pat, cond):
            if not group_cols:
                raise QueryError(
                    f"{alias}.Current.Name needs member columns on the axis"
                )
            cond = _re.sub(name_pat, group_cols[-1], cond)
        return df, cond, drops

    def _measures_in(self, expr: str | None):
        """Measures referenced (by output alias) in a condition/sort key."""
        import re as _re

        if not expr:
            return []
        toks = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", expr))
        out = []
        for m in (*self.cube.measures, *self.cube.calculated_members, *self._with):
            if m.out in toks:
                out.append(self._measure(m.name))
        return out

    def _chain_measures(self, ops) -> list:
        """The measures a set's op chain reads, each once."""
        out: dict = {}
        for op in ops:
            for m in self._measures_in(_op_expr(op)):
                out.setdefault(m.out, m)
        return list(out.values())

    def _set_chain(self, df: DataFrame, keys: list[str], ops, part=(),
                   order: list | None = None):
        """The one interpreter of a set's op chain — FILTER, ORDER, the
        TOPCOUNT family, HEAD/TAIL/SUBSET/Item and EXCEPT — wherever the
        set is written: on an axis (:meth:`_apply_mods`), as a CROSSJOIN
        argument or an axis crossed with other axes
        (:meth:`_apply_subselect`), and as a computed argument of
        EXISTS/EXCEPT/GENERATE (:meth:`eval_set_expr_per_member`).
        Mondrian compiles each set function to one Calc whatever its
        position (SURVEY.md entry A, steps 2–4).

        ``df`` is a member frame at the set's grain whose member columns
        are ``keys`` (hierarchy order); ``part`` partitions every window
        (GENERATE's per-member context); ``order`` is the set's current
        order (None: hierarchize order, the keys).  Each op runs on the
        previous op's output.  Returns the surviving frame and the set's
        current order (None while no ORDER/TOPCOUNT-family op set one).

        * ORDER ASC/DESC sorts within the parent levels (the keys before
          the last), BASC/BDESC globally; the keys break ties.
        * TAIL counts back from the end of the current order (the
          partition's row count: a Column sort cannot be reversed).
        * EXCEPT removes an exact member (ExceptFunDef removes tuples,
          never descendants), pinned to its own depth: the frame's level
          columns below it are NULL.  A member deeper than the frame can
          match nothing.  NULL-keyed rows (totals, drilldown parents)
          pass through.
        * A FILTER condition may read ``[Dim].CurrentMember.Properties``
          (a broadcast join of the member properties, dropped after)."""
        tiebreak = [F.col(c) for c in keys]
        for op in ops:
            kind = op[0]
            if kind == "filter":
                df, cond, drops = self._attach_member_properties(df, op[1])
                df = df.filter(F.expr(cond))
                if drops:
                    df = df.drop(*drops)
            elif kind == "order":
                _, expr, d = op
                key = F.expr(expr)
                key = key.desc() if d.endswith("DESC") else key.asc()
                parents = [] if d.startswith("B") else tiebreak[:-1]
                order = parents + [key] + tiebreak
            elif kind == "topbottom":
                _, side, how, n, expr = op
                df, order = _top_bottom(
                    df, side, how, n, expr, tiebreak, partition_by=part
                )
            elif kind == "slice":
                _, start, count, from_end = op
                w = Window.partitionBy(*part).orderBy(
                    *(order or tiebreak or [F.lit(1)])
                )
                df = df.withColumn("__rn", F.row_number().over(w))
                lo, hi = F.lit(start), F.lit(start + count)
                if from_end:
                    n = Window.partitionBy(*(part or [F.lit(1)]))
                    df = df.withColumn("__n", F.count(F.lit(1)).over(n))
                    lo, hi = F.col("__n") - start - count, F.col("__n") - start
                df = df.filter(
                    (F.col("__rn") > lo) & (F.col("__rn") <= hi)
                ).drop("__rn", "__n")
            elif kind == "except":
                arg = op[1]
                refs = (
                    self.eval_set_expr(arg)
                    if isinstance(arg, SetExpr)
                    else [
                        m if isinstance(m, MemberSetRef) else self._resolve(m)
                        for m in arg
                    ]
                )
                for ref in refs:
                    if isinstance(ref, MeasureRef) or not ref.path:
                        raise QueryError(
                            "EXCEPT needs concrete member paths"
                        )
                    levels = ref.dimension.levels
                    if any(
                        lv.out not in df.columns
                        for lv in levels[: ref.depth + 1]
                    ):
                        continue
                    pred = F.lit(True)
                    for lv, key in zip(levels, ref.path):
                        pred = pred & (F.col(lv.out) == key)
                    for lv in levels[ref.depth + 1:]:
                        if lv.out in df.columns:
                            pred = pred & F.col(lv.out).isNull()
                    df = df.filter(~F.coalesce(pred, F.lit(False)))
            elif kind not in ("distinct", "hierarchize", "nonempty"):
                raise QueryError(
                    f"{kind.upper()} is not supported inside a computed "
                    "set argument"
                )
        return df, order

    def _set_frame(self, refs, measures, slicer):
        """A set's member frame at its own grain: one sub-aggregate of its
        members in ``slicer`` → (frame, member columns).  A MIXED-DEPTH
        set ({[2019], [2019].[Q1]}) unions one sub-aggregate per depth,
        NULL-padded in the deeper level columns, so each member's
        condition/sort value is its OWN grain's cell (Mondrian's evaluator
        iterates the TupleList, jar!mondrian/olap/fun/FilterFunDef) — the
        lowering the axis grid uses (_split_mixed_depth)."""
        planner = Planner(self.engine, extra_measures=tuple(self._with))
        (main,), shallow = self._split_mixed_depth([list(refs)])
        sub, group = planner.aggregate([main], slicer, measures)
        types = dict(sub.dtypes)
        for _, dim, shallow_refs in shallow:
            other = [r for r in main if r.dimension.name != dim.name]
            s, _ = planner.aggregate([other + shallow_refs], slicer, measures)
            sub = sub.unionByName(s.select(*(
                c if c in s.columns else F.lit(None).cast(types[c]).alias(c)
                for c in sub.columns
            )))
        return sub, group

    def eval_set_expr(self, se: "SetExpr") -> list[MemberSetRef]:
        """Materialize a computed set argument into concrete member refs.

        The set is evaluated at its own grain in the slicer context
        (sub-aggregate + the op chain), then the surviving member key
        paths are collected — the list is dimension-sized, the same
        member-list materialization Mondrian's evaluator performs for
        every set argument (jar!mondrian/olap/fun/ExistsFunDef evaluates
        its second set to a TupleList), so the driver collect is bounded
        by the dimension, never the fact.

        This is the zero-context case of the per-member evaluator (empty
        partition → global windows)."""
        return self.eval_set_expr_per_member([], se)

    def eval_set_expr_per_member(
        self, context_refs, se: "SetExpr"
    ) -> list[MemberSetRef]:
        """PER-MEMBER evaluation of a computed set — the GENERATE(s1,
        <computed s2>) lowering for CROSS-dimension, measure-dependent
        s2 (jar!mondrian/olap/fun/GenerateFunDef iterates s1 and
        evaluates s2 with each member pushed on the context).

        ONE sub-aggregate at (s1 grain × s2 grain) in the slicer
        context; the op chain applies per s1 partition (partitioned
        windows — a single keyed shuffle, never a per-member loop); the
        distinct surviving s2 member paths collect (bounded by the s2
        dimension) and union, GenerateFunDef's default dedup."""
        refs2 = [self._resolve(m) for m in se.members]
        if not refs2 or any(isinstance(r, MeasureRef) for r in refs2):
            raise QueryError("computed set arguments need dimension member sets")
        dim2 = refs2[0].dimension
        if any(r.dimension.name != dim2.name for r in refs2):
            raise QueryError(
                "computed set argument members must share one dimension"
            )
        ctx = [
            r for r in context_refs if r.dimension.name != dim2.name
        ]
        sub, sub_group = self._set_frame(
            ctx + refs2, self._chain_measures(se.ops), list(self._slicer)
        )
        set2_cols = [
            lv.out
            for lv in max(refs2, key=lambda r: r.depth).group_levels
            if lv.out in sub_group
        ]
        ctx_cols = [c for c in sub_group if c not in set2_cols]
        sub, _ = self._set_chain(
            sub, set2_cols, se.ops, part=[F.col(c) for c in ctx_cols]
        )
        # a member's depth reads off its row: its own level columns are
        # set, the deeper ones NULL (role level bounds may hide the top
        # levels, uniformly across depths)
        widths = {
            len([lv for lv in dim2.levels[: r.depth + 1] if lv.out in set2_cols])
            for r in refs2
        }
        paths: set[tuple] = set()
        for row in sub.select(*set2_cols).dropDuplicates().collect():
            vals = tuple(row)
            n = next((i for i, v in enumerate(vals) if v is None), len(vals))
            if n in widths and not any(v is not None for v in vals[n:]):
                paths.add(tuple(str(v) for v in vals[:n]))
        return [
            MemberSetRef(dim2, depth=len(p) - 1, path=p, kind="member")
            for p in sorted(paths)
        ]

    def _apply_subselect(self, df: DataFrame, refs, ops=(),
                         within=None) -> DataFrame:
        """Evaluate a set over its own member sub-grid (grouped at the
        set's grain, slicer context, the measures its ops read), then
        semi-join the axis grid to the qualifying members.  ``ops`` is
        the set's op chain (a CROSSJOIN argument, or an axis crossed with
        other axes), run by :meth:`_set_chain`; ``within`` is EXISTS's
        second set — plain member refs or a :class:`SetExpr` — which
        slices the sub-grid instead.  The qualifying list is axis-sized →
        broadcast semi-join, no extra shuffle of the grid."""
        extra_slice = []
        if isinstance(within, SetExpr):
            # a computed second set resolves to concrete members first
            # (slicer-context evaluation — eval_set_expr), then slices the
            # exists sub-aggregate exactly like a plain member list
            extra_slice = self.eval_set_expr(within)
            if not extra_slice:
                # EXISTS against an EMPTY computed set is the EMPTY
                # set — an empty slice would otherwise mean "no
                # constraint" and silently keep every member
                return df.filter(F.lit(False))
        elif within is not None:
            extra_slice = list(within)
        sub, sub_group = self._set_frame(
            refs, self._chain_measures(ops), list(self._slicer) + extra_slice
        )
        sub, _ = self._set_chain(sub, sub_group, ops)
        members = sub.select(*sub_group).dropDuplicates()
        # totals / drilldown parent rows carry NULL in the member columns; a
        # semi-join would silently drop them (NULL never equi-matches) —
        # pass them through like filter_last does.  Only when totals or
        # drilldowns are actually in play: those are the only sources of
        # synthesized NULL level keys, and a grid row whose member key is
        # genuinely NULL in the data must stay subject to the set operation.
        synthesized_nulls = self._totals is not None or bool(self._drilldowns)
        null_rows = None
        if synthesized_nulls:
            for c in sub_group:
                p = F.col(c).isNull()
                null_rows = p if null_rows is None else (null_rows | p)
        if null_rows is None:
            # no synthesized NULLs possible → null-SAFE semi-join, so a
            # genuinely-NULL member key that QUALIFIES the set operation
            # survives (plain equality would never match it)
            m = F.broadcast(
                members.withColumnsRenamed({c: f"__m_{c}" for c in sub_group})
            )
            cond = None
            for c in sub_group:
                e = F.col(c).eqNullSafe(F.col(f"__m_{c}"))
                cond = e if cond is None else (cond & e)
            return df.join(m, on=cond, how="left_semi")
        kept = df.filter(~null_rows).join(
            F.broadcast(members), on=sub_group, how="left_semi"
        )
        return kept.unionByName(df.filter(null_rows))


def _top_bottom(
    df: DataFrame, side: str, how: str, n, expr, tiebreak, partition_by=()
):
    """TOPCOUNT / TOPPERCENT / TOPSUM family
    (jar!mondrian/olap/fun/TopBottomCountFunDef, TopBottomPercentSumFunDef;
    SURVEY.md §2.5).

    COUNT  → row_number over (expr desc) ≤ n
    PERCENT→ smallest prefix of the sorted set whose running sum ≥ p% of total
    SUM    → smallest prefix whose running sum ≥ s

    All three are single-window computations — no driver-side sorting, and at
    scale the window is a single shuffle over the (small) aggregated grid,
    never over the fact table.
    """
    key = F.expr(expr) if expr else None
    order = []
    if key is not None:
        order.append(key.desc() if side == "top" else key.asc())
    order += tiebreak
    # ``partition_by``: evaluate the top-k PER GROUP (the per-member
    # GENERATE lowering) — same single-window shape, keyed shuffle
    w = (
        Window.partitionBy(*partition_by).orderBy(*order)
        if partition_by
        else Window.orderBy(*order)
    )
    if how == "count":
        df = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(n))
            .drop("__rn")
        )
        return df, order
    val = F.expr(expr)
    cum = F.sum(val).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    total_w = (
        Window.partitionBy(*partition_by).orderBy(F.lit(1))
        if partition_by
        else Window.orderBy(F.lit(1))
    )
    total = F.sum(val).over(
        total_w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    threshold = total * (float(n) / 100.0) if how == "percent" else F.lit(float(n))
    df = (
        df.withColumn("__cum", cum)
        .withColumn("__thr", threshold)
        .filter((F.col("__cum") - val) < F.col("__thr"))
        .drop("__cum", "__thr")
    )
    return df, order
