"""Metadata & member introspection — the olap4j-style object surface of the
reference (``lib/mondrian/olap/cube.rb``; scenarios ``test/cube_test.rb``):
cube → dimensions → hierarchy → levels → members, plus member navigation
(``children``, ``descendants_at_level``, ``drillable?``, property values).

Design: metadata objects are thin, lazy views over the engine's distributed
member queries (``star.level_members``) — nothing is collected until a
navigation property is read, and every fetch is bounded by what a browsing
UI actually shows (one level's members under one parent).  The reference
streams members through olap4j schema readers for the same reason
(cube.rb:328-332, 437-468).

In this model a dimension has exactly one hierarchy (secondary hierarchies
— e.g. Time.Weekly — are modelled as sibling dimensions, tpch.py), so
``DimensionMeta.hierarchy`` returns the dimension itself wearing the
hierarchy hat; ``hierarchies`` is a 1-element list.  This keeps the
navigation API of cube_test.rb intact without duplicating the object graph.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .model import CalculatedMember, Cube, Dimension, Level
from .members import format_name, parse_identifier

__all__ = ["CubeMeta", "DimensionMeta", "LevelMeta", "MemberMeta", "MeasureMeta"]


def _dimension_type(dim: Dimension) -> str:
    if any((lv.level_type or "").startswith("Time") for lv in dim.levels):
        return "TIME"
    return "STANDARD"


@dataclass
class MemberMeta:
    """One member: key path + navigation (cube.rb:386-509 member API)."""

    _engine: object
    _dim: Dimension
    depth: int
    path: tuple
    caption: str | None = None

    @property
    def name(self) -> str:
        return str(self.path[-1])

    @property
    def full_name(self) -> str:
        return format_name([self._dim.name, *map(str, self.path)])

    @property
    def level(self) -> "LevelMeta":
        return LevelMeta(self._engine, self._dim, self.depth)

    @property
    def dimension_type(self) -> str:
        return _dimension_type(self._dim)

    @property
    def all_member(self) -> bool:
        return False

    @property
    def calculated(self) -> bool:
        return False

    @property
    def visible(self) -> bool:
        return True

    @property
    def drillable(self) -> bool:
        """Drillable iff a lower level exists and has members under this
        path (cube_test.rb:444-455)."""
        if self.depth + 1 >= len(self._dim.levels):
            return False
        # existence probe: 1-row take, never a full child-level aggregation
        return bool(
            self._engine.level_members(
                self._dim.name, self.depth + 1, self.path
            ).take(1)
        )

    @property
    def children(self) -> list["MemberMeta"]:
        return self._members_at(self.depth + 1)

    @property
    def children_count(self) -> int:
        if self.depth + 1 >= len(self._dim.levels):
            return 0
        return self._engine.level_members(
            self._dim.name, self.depth + 1, self.path
        ).count()

    @property
    def parent(self) -> "MemberMeta | None":
        """Parent member (one level up; None at the root level).  When the
        parent LEVEL declares a caption expression, a 1-row lookup fetches
        it (caption visibility must not depend on the navigation path);
        caption-less levels stay job-free."""
        if self.depth == 0:
            return None
        lv = self._dim.levels[self.depth - 1]
        cap = None
        if lv.caption or lv.caption_locales or lv.formatter:
            from pyspark.sql import functions as F

            df = self._engine.level_members(
                self._dim.name, self.depth - 1, self.path[:-2],
                include_properties=True,
            )
            rows = (
                df.filter(F.col(lv.out).cast("string") == str(self.path[-2]))
                .limit(1)
                .collect()
            )
            col = f"{lv.out}_caption"
            if rows and col in df.columns:
                cap = rows[0][col]
        return MemberMeta(
            self._engine, self._dim, self.depth - 1, self.path[:-1], caption=cap
        )

    @property
    def siblings(self) -> list["MemberMeta"]:
        """Members sharing this member's parent (this member included),
        in hierarchy order."""
        df = self._engine.level_members(
            self._dim.name, self.depth, self.path[:-1], include_properties=True
        )
        return _rows_to_members(self._engine, self._dim, self.depth, df)

    def descendants_at_level(self, level_name: str) -> list["MemberMeta"]:
        """Members of the named level under this member; empty when the
        level is above this member's own (cube_test.rb:433-443)."""
        idx = self._dim.level_index(level_name)
        if idx is None or idx <= self.depth:
            return []
        return self._members_at(idx)

    def property_value(self, prop: str):
        """Level property value for this member (cube.rb:470-480); None
        for an undeclared property or a member the role cannot see."""
        try:
            return self._engine.member_property_value(
                self._dim.name, self.depth, self.path, prop
            )
        except KeyError:
            return None

    def _members_at(self, idx: int) -> list["MemberMeta"]:
        if idx >= len(self._dim.levels):
            return []
        df = self._engine.level_members(
            self._dim.name, idx, self.path, include_properties=True
        )
        return _rows_to_members(self._engine, self._dim, idx, df)


@dataclass
class MeasureMeta:
    """A [Measures] member (cube_test.rb:456-491 calculated/measure cases)."""

    _measure: object

    @property
    def name(self) -> str:
        return self._measure.name

    @property
    def full_name(self) -> str:
        return format_name(["Measures", self._measure.name])

    @property
    def caption(self) -> str:
        return getattr(self._measure, "caption", None) or self._measure.name

    @property
    def annotations(self) -> dict:
        return dict(getattr(self._measure, "annotations", ()) or ())

    @property
    def calculated(self) -> bool:
        return isinstance(self._measure, CalculatedMember)

    @property
    def dimension_type(self) -> str:
        return "MEASURES"

    @property
    def all_member(self) -> bool:
        return False

    @property
    def drillable(self) -> bool:
        return False

    @property
    def visible(self) -> bool:
        return True

    @property
    def format_string(self) -> str | None:
        """schema_definition_test.rb:1252-1258: the measure's declared
        format string, None when unspecified."""
        return getattr(self._measure, "format_string", None) or None

    @property
    def cell_formatter(self):
        """schema_definition_test.rb:1243-1250: the declared cell-formatter
        callable (the CellFormatter-UDF analog), None when unspecified."""
        return getattr(self._measure, "cell_formatter", None)

    @property
    def cell_formatter_name(self) -> str | None:
        """schema_definition_test.rb:1235-1241: the formatter's declared
        name, defaulting to the callable's ``__name__``."""
        explicit = getattr(self._measure, "cell_formatter_name", None)
        if explicit:
            return explicit
        f = self.cell_formatter
        return getattr(f, "__name__", None) if f is not None else None


@dataclass
class LevelMeta:
    """cube_test.rb:326-375 level accessors."""

    _engine: object
    _dim: Dimension
    depth: int

    @property
    def _level(self) -> Level:
        return self._dim.levels[self.depth]

    @property
    def name(self) -> str:
        return self._level.name

    @property
    def full_name(self) -> str:
        return format_name([self._dim.name, self._level.name])

    @property
    def description(self) -> str | None:
        return self._level.description

    @property
    def caption(self) -> str:
        return self._level.display_caption or self._level.name

    @property
    def annotations(self) -> dict:
        return dict(self._level.annotations)

    @property
    def child_level(self) -> "LevelMeta | None":
        if self.depth + 1 >= len(self._dim.levels):
            return None
        return LevelMeta(self._engine, self._dim, self.depth + 1)

    @property
    def parent_level(self) -> "LevelMeta | None":
        if self.depth == 0:
            return None
        return LevelMeta(self._engine, self._dim, self.depth - 1)

    def descendant_level(self, name: str) -> "LevelMeta | None":
        idx = self._dim.level_index(name)
        if idx is None or idx <= self.depth:
            return None
        return LevelMeta(self._engine, self._dim, idx)

    #: Java Integer.MIN_VALUE — the reference's "cardinality not set"
    #: sentinel (cube_test.rb:258-266; olap4j Level.getCardinality)
    CARDINALITY_UNSET = -(1 << 31)

    @property
    def cardinality(self) -> int:
        """Settable cardinality HINT (the approxRowCount analog,
        cube_test.rb:258-266): returns the stored hint, or the
        Integer.MIN_VALUE sentinel when none was set.  Assigning ``None``
        clears the hint.  Like the reference, the hint is trusted without
        verification — it exists so the engine can skip a member-count
        job (``members_count`` short-circuits on it)."""
        store = getattr(self._engine, "_level_cardinality", {})
        return store.get((self._dim.name, self.depth), self.CARDINALITY_UNSET)

    @cardinality.setter
    def cardinality(self, value: int | None) -> None:
        store = self._engine.__dict__.setdefault("_level_cardinality", {})
        key = (self._dim.name, self.depth)
        if value is None:
            store.pop(key, None)
        else:
            store[key] = int(value)

    @property
    def members_count(self) -> int:
        hint = self.cardinality
        if hint != self.CARDINALITY_UNSET:
            return hint
        return self._engine.level_members(self._dim.name, self.depth).count()

    @property
    def members(self) -> list[MemberMeta]:
        df = self._engine.level_members(
            self._dim.name, self.depth, include_properties=True
        )
        return _rows_to_members(
            self._engine, self._dim, self.depth, df, whole_level=True
        )


@dataclass
class DimensionMeta:
    """cube_test.rb:113-282 dimension + hierarchy accessors (single
    hierarchy per dimension in this model)."""

    _engine: object
    _dim: Dimension

    @property
    def name(self) -> str:
        return self._dim.name

    @property
    def full_name(self) -> str:
        return format_name([self._dim.name])

    @property
    def description(self) -> str | None:
        return self._dim.description

    @property
    def caption(self) -> str:
        from .model import localized

        return localized(
            self._dim.caption_locales,
            getattr(self._engine, "locale", None),
            self._dim.caption or self._dim.name,
        )

    @property
    def annotations(self) -> dict:
        return dict(self._dim.annotations)

    @property
    def dimension_type(self) -> str:
        return _dimension_type(self._dim)

    @property
    def hierarchy(self) -> "DimensionMeta":
        return self

    @property
    def hierarchies(self) -> list["DimensionMeta"]:
        return [self]

    @property
    def has_all(self) -> bool:
        return self._dim.has_all

    @property
    def level_names(self) -> list[str]:
        return [lv.name for lv in self._dim.levels]

    @property
    def levels(self) -> list[LevelMeta]:
        return [LevelMeta(self._engine, self._dim, i) for i in range(len(self._dim.levels))]

    def level(self, name: str) -> LevelMeta | None:
        idx = self._dim.level_index(name)
        return None if idx is None else LevelMeta(self._engine, self._dim, idx)

    @property
    def root_members(self) -> list[MemberMeta]:
        df = self._engine.level_members(self._dim.name, 0, include_properties=True)
        return _rows_to_members(
            self._engine, self._dim, 0, df, whole_level=True
        )

    @property
    def root_member_names(self) -> list[str]:
        return [m.name for m in self.root_members]


@dataclass
class CubeMeta:
    """cube_test.rb:77-111 cube accessors + member lookup entry point."""

    _engine: object

    @property
    def _cube(self) -> Cube:
        return self._engine.cube

    @property
    def name(self) -> str:
        return self._cube.name

    @property
    def description(self) -> str | None:
        return self._cube.description

    @property
    def caption(self) -> str:
        from .model import localized

        return localized(
            self._cube.caption_locales,
            getattr(self._engine, "locale", None),
            self._cube.caption or self._cube.name,
        )

    @property
    def annotations(self) -> dict:
        return dict(self._cube.annotations)

    @property
    def visible(self) -> bool:
        return True

    @property
    def virtual(self) -> bool:
        from .virtual import VirtualCube

        return isinstance(self._engine, VirtualCube)

    @property
    def dimension_names(self) -> list[str]:
        return [d.name for d in self._cube.dimensions]

    @property
    def dimensions(self) -> list[DimensionMeta]:
        return [DimensionMeta(self._engine, d) for d in self._cube.dimensions]

    def dimension(self, name: str) -> DimensionMeta | None:
        # delegate to Cube.dimension: it carries the secondary-hierarchy
        # fallback ('Time.Weekly' -> the squashed TimeWeekly sibling)
        try:
            return DimensionMeta(self._engine, self._cube.dimension(name))
        except KeyError:
            return None

    @property
    def measure_names(self) -> list[str]:
        return [m.name for m in (*self._cube.measures, *self._cube.calculated_members)]

    def member(self, full_name: str) -> MemberMeta | MeasureMeta | None:
        """``cube.member('[Customer].[ASIA].[NATION_13]')`` — identifier
        parse + existence check against the dimension table
        (cube.rb:106-116 lookupMember; nil for unknown members)."""
        try:
            segs = parse_identifier(full_name)
        except Exception:
            return None
        if not segs:
            return None
        if segs[0].lower() == "measures":
            if len(segs) != 2:
                return None
            try:
                return MeasureMeta(self._cube.measure(segs[1]))
            except KeyError:
                return None
        try:
            dim = self._cube.dimension(segs[0])
        except KeyError:
            return None
        path = tuple(segs[1:])
        if not path or len(path) > len(dim.levels):
            return None
        depth = len(path) - 1
        df = self._engine.level_members(dim.name, depth, path[:-1], include_properties=True)
        lv = dim.levels[depth]
        # keys may be non-string (years, ints): compare on string form
        from pyspark.sql import functions as F

        rows = df.filter(F.col(lv.out).cast("string") == str(path[-1])).limit(1).collect()
        if not rows:
            return None
        row = rows[0]
        typed_path = tuple([*path[:-1], row[lv.out]])
        cap = row[f"{lv.out}_caption"] if f"{lv.out}_caption" in df.columns else None
        return MemberMeta(self._engine, dim, depth, typed_path, caption=cap)


#: default driver-side member-materialization bound; override per engine
#: via ``engine.members_fetch_limit``
MEMBERS_FETCH_LIMIT = 100_000


class MembersTooLarge(ValueError):
    """Raised when ``.members`` would materialize more rows to the driver
    than ``engine.members_fetch_limit`` allows.  Mirrors the reference's
    cardinality-hint discipline (schema.rb:100-101 high_cardinality,
    cube_test.rb:258-266 approxRowCount): a browsing UI never needs a
    customer-grain member ARRAY, and collecting one at 100 TB OOMs the
    driver — use ``engine.level_members()`` (a distributed DataFrame) or
    raise the limit explicitly."""


def _rows_to_members(
    engine, dim: Dimension, depth: int, df, whole_level: bool = False
) -> list[MemberMeta]:
    limit = getattr(engine, "members_fetch_limit", MEMBERS_FETCH_LIMIT)
    # the declared hint and the high_cardinality flag describe the WHOLE
    # level — filtered navigation (children of one parent, siblings,
    # descendants under a member) materializes a small slice and must not
    # trip on them; the limit+1 probe below still guards every call.
    # Depth 0 of a MULTI-level dimension is exempt (roots are the coarse
    # grain a browsing UI legitimately enumerates; the fine grain below
    # carries the cardinality) — but a single-level dimension's depth 0
    # IS its whole fine grain, so the flag refuses it outright too
    if (
        whole_level
        and (depth > 0 or len(dim.levels) == 1)
        and getattr(dim, "high_cardinality", False)
    ):
        raise MembersTooLarge(
            f"dimension {dim.name!r} is flagged high_cardinality "
            "(schema.rb:100-101): whole-level member arrays are not "
            "materialized to the driver; navigate via children/"
            "root_members, or use engine.level_members() for a "
            "distributed frame"
        )
    # trust the cardinality hint (the whole point of the hint is to skip
    # the job — cube_test.rb:258-266); fall back to a limit+1 probe
    hint = getattr(engine, "_level_cardinality", {}).get((dim.name, depth))
    if whole_level and hint is not None and hint > limit:
        raise MembersTooLarge(
            f"level {dim.name!r}[{depth}] declares cardinality {hint} > "
            f"members_fetch_limit {limit}; use engine.level_members() for "
            "a distributed frame, or raise engine.members_fetch_limit"
        )
    # role top_level bounds hide ancestor columns from level_members output
    # — read only the columns the frame actually carries (hidden ancestors
    # surface as None path segments, matching their invisibility)
    available = set(df.columns)
    outs = [lv.out for lv in dim.levels[: depth + 1]]
    cap_col = f"{dim.levels[depth].out}_caption"
    members = []
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise MembersTooLarge(
            f"level {dim.name!r}[{depth}] has more than "
            f"members_fetch_limit={limit} members; use "
            "engine.level_members() for a distributed frame, or raise "
            "engine.members_fetch_limit"
        )
    for row in rows:
        members.append(
            MemberMeta(
                engine,
                dim,
                depth,
                tuple(row[o] if o in available else None for o in outs),
                caption=row[cap_col] if cap_col in available else None,
            )
        )
    return members
