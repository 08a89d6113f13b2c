"""Result shaping — the CellSet-style wrapper over the tidy aggregate
DataFrame (``/root/reference/lib/mondrian/olap/result.rb``).

The reference materialises an olap4j CellSet (axes → positions → cells) and
exposes ``axes_count / column_names / row_names / values / formatted_values``
(result.rb:17-63,606-650).  Here the canonical artifact is the **DataFrame**
(one row per non-empty cell combination) — at 100 TB that is the only sane
shape — and the CellSet accessors are a thin driver-side view materialised
lazily on first access (cell grids presented to a human are small by
definition; anything large should stay a DataFrame).
"""

from __future__ import annotations

import functools
import threading
import time
from types import SimpleNamespace

from pyspark.sql import DataFrame


class QueryTimeoutError(TimeoutError):
    """Query exceeded its timeout and was cancelled
    (``connection.rb:513-515``; behavior ``test/query_test.rb:1290-1336``)."""


def _node(plan) -> str:
    return plan.getClass().getSimpleName()


@functools.lru_cache(maxsize=4)
def _catalyst(jvm) -> SimpleNamespace:
    """The JVM classes ``Result.df`` plans with, resolved once per py4j
    gateway: each ``jvm.org.apache…`` walk costs one round trip per name."""
    sql = jvm.org.apache.spark.sql
    return SimpleNamespace(
        ordering=sql.catalyst.expressions.InterpretedOrdering,
        local_relation=sql.catalyst.plans.logical.LocalRelation,
        dataset=sql.classic.Dataset,
        sql_conf=sql.internal.SQLConf,
    )


def _sorted_on_driver(ordered: DataFrame, qe, plan) -> DataFrame | None:
    """``ordered`` re-planned over its rows already sorted, when its
    optimized ``plan`` is a global ``Sort`` directly over driver-held rows:
    a ``LocalRelation``, or a ``Union`` of them (a drill-down over two
    cached grids), whose rows are concatenated in order.  Else None.

    The rows are sorted in the JVM by ``InterpretedOrdering`` over the
    Sort's own ``SortOrder``s, the ordering Catalyst evaluates whenever it
    does not generate code, so NULL, NaN, decimal and string order is the
    distributed sort's.  Collecting the new ``LocalRelation`` runs
    ``LocalTableScanExec.executeCollect``, which starts no Spark job.  Its
    attributes are the analyzed plan's, so the schema is ``ordered``'s."""
    if plan.nodeName() != "Sort" or not getattr(plan, "global")():
        return None
    child = plan.child()
    kind = child.nodeName()
    if kind == "Union":
        children = child.children()
        relations = [children.apply(i) for i in range(children.size())]
        if any(r.nodeName() != "LocalRelation" for r in relations):
            return None
    elif kind == "LocalRelation":
        relations = [child]
    else:
        return None
    session = ordered.sparkSession
    jvm = _catalyst(session._jvm)
    data = relations[0].data()
    for r in relations[1:]:
        data = data.concat(r.data())
    rows = data.sorted(jvm.ordering(plan.order(), child.output()))
    relation = jvm.local_relation(
        qe.analyzed().output(), rows, child.isStreaming(), relations[0].stream()
    )
    return DataFrame(jvm.dataset.ofRows(session._jsparkSession, relation), session)


def _fits_one_task(df: DataFrame, plan) -> bool:
    """Whether Catalyst sizes ``df``'s optimized ``plan`` at no more than
    one advisory partition
    (``spark.sql.adaptive.advisoryPartitionSizeInBytes``)."""
    advisory = df.sparkSession._jsparkSession.sessionState().conf().getConf(
        _catalyst(df.sparkSession._jvm).sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )
    return plan.stats().sizeInBytes() <= advisory


def _sorts_through_shuffle(df: DataFrame) -> bool:
    """Whether the top ``SortExec`` of ``df``'s physical plan (under AQE, of
    its initial plan) is a global sort reading a ``ShuffleExchangeExec``.
    Walks node classes over py4j: printing a cache-hit plan would render
    the whole cached lineage, which costs more than the sort it saves."""
    plan = df._jdf.queryExecution().executedPlan()
    if _node(plan) == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    while _node(plan) != "SortExec":
        children = plan.children()
        if children.size() != 1:
            return False
        plan = children.apply(0)
    if not getattr(plan, "global")():  # a window's sort: ``orderBy``'s was dropped
        return False
    child = plan.child()
    if _node(child) == "InputAdapter":  # whole-stage codegen boundary
        child = child.child()
    return _node(child) == "ShuffleExchangeExec"


class Result:
    def __init__(
        self,
        df: DataFrame,
        axis_columns: list[list[str]],
        measure_columns: list[str],
        sort_spec: list | None = None,
        formats: dict[str, str] | None = None,
        locale: str | None = None,
    ):
        self._df = df
        self.axis_columns = axis_columns
        self.measure_columns = measure_columns
        self._sort_spec = sort_spec or []
        self._ordered: DataFrame | None = None  # memoized ``df``
        self._formats = formats or {}
        #: connection locale for numeric separators in formatted values
        self.locale = locale
        self._rows_cache: list | None = None
        #: wall-clock of the first materialisation, ms (total_duration —
        #: connection.rb:78-84)
        self.total_duration: float | None = None
        #: optional timeout in seconds applied at materialisation
        self.timeout: float | None = None
        #: profiling timers: name → list of per-invocation durations (ms).
        #: The cell materialisation records itself as
        #: "SparkCollect-Segment.load" (the analog of Mondrian's
        #: SqlStatement-Segment.load); record_timing adds custom timers
        #: (connection.rb profiling handler parity).
        self._timings: dict[str, list[float]] = {}

    @property
    def order_spec(self) -> list:
        """The columns ``df`` is ordered by: the query's sort spec, or by
        default hierarchize order (parents before children ≡ level-path
        sort — jar!...HierarchizeFunDef)."""
        return self._sort_spec or [c for ax in self.axis_columns for c in ax]

    @property
    def df(self) -> DataFrame:
        """The tidy cell DataFrame, ordered by ``order_spec``.

        The optimized plan of ``orderBy(order_spec)`` is read once, and
        picks one of three frames:

        * **No job.**  A read of grids the aggregate cache has moved to the
          driver plans as a global ``Sort`` over a ``LocalRelation`` (or
          over a ``Union`` of them, a drill-down over two cached grids).
          Spark folds projections, filters and limits over local rows but
          not a sort, so collecting that plan would launch a job to order
          a few rows already in driver memory.  Those rows are sorted in
          the JVM with the Sort's own ordering instead and re-planned as a
          bare ``LocalTableScan``, which collects without a job
          (Mondrian: a warm repeat runs no SQL, query_test.rb:1162-1213).
          The rows are already inside the cache's driver budget, so this
          needs no size gate.
        * **One task.**  Any other global ``orderBy`` plans as ``Exchange
          rangepartitioning``, which costs three Spark jobs (range
          sampling, shuffle map, result) even for a few rows.  So when the
          plan sorts through that shuffle and Catalyst sizes the grid at
          most ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (one
          task's data), the grid is coalesced to one partition and sorted
          there: the same rows in the same order, from one job with one
          task.  A hit on an entry still held on the executors is sized
          from the exact bytes of its materialised relation, so it takes
          this path; a cold star grid's estimate is the product of its
          scans, so it keeps the distributed sort.  ``coalesce(1)`` is
          narrow, so the size bound also bounds everything that one task
          computes below it, up to the nearest exchange or cached
          relation.
        * **As planned.**  Everything else.  A resident read keeps one job
          when its rows pass operators Spark does not fold over local
          rows: TopCount's rank window and limit run in a task before the
          final sort.

        The frame is chosen once and memoized, so ``df``, the collect,
        ``to_pandas`` and ``profiling_plan`` share one planned Dataset."""
        if self._ordered is None:
            spec = self.order_spec
            ordered = self._df.orderBy(*spec) if spec else self._df
            if spec:
                qe = ordered._jdf.queryExecution()
                plan = qe.optimizedPlan()
                local = _sorted_on_driver(ordered, qe, plan)
                if local is not None:
                    ordered = local
                elif _fits_one_task(ordered, plan) and _sorts_through_shuffle(ordered):
                    ordered = self._df.coalesce(1).sortWithinPartitions(*spec)
            self._ordered = ordered
        return self._ordered

    @property
    def axes_count(self) -> int:
        return max(2, len(self.axis_columns))

    @property
    def column_names(self) -> list[str]:
        """Names on the columns axis — for the common measures-on-columns
        layout these are the measure output names (result.rb column_names)."""
        return self.measure_columns

    def _collect(self) -> list:
        if self._rows_cache is None:
            df = self.df
            t0 = time.perf_counter()
            if self.timeout is not None:
                # Driver-side watchdog (the Spark analog of Mondrian's
                # statement timeout, connection.rb:513-515).  The collect
                # runs in an InheritableThread that TAGS its jobs (job tags
                # are thread-local on the driver; pinned-thread mode maps
                # Python threads 1:1 onto JVM threads, so the tag scopes
                # exactly this query's jobs).  At the deadline the caller
                # gets QueryTimeoutError and ``cancelJobsWithTag`` reaps
                # only the tagged jobs — concurrent queries on the same
                # SparkContext are untouched, and no async cancel sweep can
                # shoot down a later query's freshly-submitted job.
                import uuid

                from pyspark import InheritableThread

                sc = df.sparkSession.sparkContext
                box: dict = {}
                tag = f"mos-timeout-{uuid.uuid4().hex}"

                def run() -> None:
                    sc.addJobTag(tag)
                    try:
                        box["rows"] = df.collect()
                    except Exception as e:  # pragma: no cover - racing cancel
                        box["err"] = e
                    finally:
                        sc.removeJobTag(tag)

                worker = InheritableThread(target=run, daemon=True)
                worker.start()
                worker.join(self.timeout)
                if worker.is_alive():
                    # a task that ignores the cancel flag finishes in the
                    # background; its jobs stay scoped under this tag
                    sc.cancelJobsWithTag(tag)
                    raise QueryTimeoutError(
                        f"query exceeded timeout of {self.timeout}s"
                    )
                if "err" in box:
                    raise box["err"]
                self._rows_cache = box["rows"]
            else:
                self._rows_cache = df.collect()
            self.total_duration = (time.perf_counter() - t0) * 1000.0
            self.record_timing("SparkCollect-Segment.load", self.total_duration)
        return self._rows_cache

    def record_timing(self, name: str, duration_ms: float) -> None:
        """Record a named profiling timer invocation — the analog of
        Mondrian's custom profiling handler (test/query_test.rb:1252-1263
        'MDX query time invoked 1 times for total of 100ms')."""
        self._timings.setdefault(name, []).append(float(duration_ms))

    @property
    def profiling_timing_string(self) -> str:
        """Timing summary in the reference's exact line shape
        (test/query_test.rb:1252-1263; QueryTiming.toString):
        ``<name> invoked <n> times for total of <total>ms.  (Avg.
        <avg>ms/invocation)`` — one line per recorded timer."""
        lines = []
        for name, durs in self._timings.items():
            total = sum(durs)
            lines.append(
                f"{name} invoked {len(durs)} times for total of "
                f"{total:.0f}ms.  (Avg. {total / len(durs):.0f}ms/invocation)"
            )
        return "\n".join(lines)

    @property
    def profiling_plan(self) -> str:
        """Physical plan text — the profiling surface
        (``connection.rb:525-539`` profiling_plan; here Catalyst's plan
        replaces Mondrian's calc-tree dump) of ``df``, the frame the
        cell accessors collect."""
        return self.df._jdf.queryExecution().executedPlan().toString()

    @property
    def row_names(self) -> list:
        """Member names of the rows-axis positions (result.rb row_names)."""
        row_cols = self.axis_columns[1] if len(self.axis_columns) > 1 else []
        if not row_cols:
            return []
        rows = self._collect()
        names = [
            tuple(r[c] for c in row_cols) if len(row_cols) > 1 else r[row_cols[0]]
            for r in rows
        ]
        # one entry per rows-axis POSITION (result.rb row_names): with a
        # dimension on the columns axis the tidy frame repeats each row
        # position once per column member — dedup preserving order
        return list(dict.fromkeys(names))

    @property
    def values(self) -> list:
        """2-D values grid: one entry per rows-axis position, each a list of
        measure values (result.rb values for the 2-axis case)."""
        rows = self._collect()
        if len(self.axis_columns) > 1 and self.axis_columns[1]:
            return [[r[m] for m in self.measure_columns] for r in rows]
        # single-axis: one value per COLUMN position — a dimension on the
        # columns axis yields several rows, each a position (returning only
        # rows[0] would silently drop every other position)
        return [r[m] for r in rows for m in self.measure_columns]

    @property
    def formatted_values(self) -> list:
        """Values grid with measure format_strings applied
        (result.rb formatted cell values; jar!mondrian/util/Format)."""
        from .formats import format_value

        rows = self._collect()

        def fmt(m, v):
            f = self._formats.get(m)
            if callable(f):  # cell formatter (schema_udf.rb:220-239)
                return f(v)
            return format_value(v, f, self.locale)
        if len(self.axis_columns) > 1 and self.axis_columns[1]:
            return [[fmt(m, r[m]) for m in self.measure_columns] for r in rows]
        return [fmt(m, r[m]) for r in rows for m in self.measure_columns]

    @property
    def axes(self) -> list[list[tuple]]:
        """Positions per axis: ordered distinct member tuples
        (result.rb:17-63 axes → positions)."""
        rows = self._collect()
        out: list[list[tuple]] = []
        for cols in self.axis_columns:
            if not cols:
                out.append([])
                continue
            seen = dict.fromkeys(tuple(r[c] for c in cols) for r in rows)
            out.append(list(seen))
        return out

    def pivot(self) -> dict:
        """CellSet pivot for the 2-axis case with dimension members on the
        COLUMNS axis: column positions are (member-tuple × measure), row
        positions are the rows-axis tuples, values a dense grid with None
        for empty cells (result.rb:606-650 cell addressing).  Driver-side —
        pivoted grids shown to humans are small by definition.  The rows
        come from the cached collect; the derived pivot dict is cached too
        so per-cell access loops stay O(1) per cell."""
        if getattr(self, "_pivot_cache", None) is not None:
            return self._pivot_cache
        rows = self._collect()
        ca = self.axis_columns[0] if self.axis_columns else []
        ra = self.axis_columns[1] if len(self.axis_columns) > 1 else []
        col_dims = (
            list(dict.fromkeys(tuple(r[c] for c in ca) for r in rows)) if ca else [()]
        )
        row_keys = (
            list(dict.fromkeys(tuple(r[c] for c in ra) for r in rows)) if ra else [()]
        )
        columns = [(cd, m) for cd in col_dims for m in self.measure_columns]
        cell: dict = {}
        for r in rows:
            ck = tuple(r[c] for c in ca) if ca else ()
            rk = tuple(r[c] for c in ra) if ra else ()
            for m in self.measure_columns:
                cell[(rk, ck, m)] = r[m]
        grid = [[cell.get((rk, cd, m)) for cd, m in columns] for rk in row_keys]
        self._pivot_cache = {"columns": columns, "rows": row_keys, "values": grid}
        return self._pivot_cache

    def cell(self, column: int = 0, row: int = 0) -> "Cell":
        """Coordinate-addressed cell access for the 2-axis case
        (result.rb:606-650 ``getCell(positions)``): ``column`` indexes the
        pivot's (column-member × measure) positions, ``row`` the rows-axis
        positions.  Returns a :class:`Cell` carrying the value, its
        formatted form, and the member context for drill-through."""
        if len([a for a in self.axis_columns if a]) > 2:
            raise ValueError("cell addressing supports at most 2 member axes")
        p = self.pivot()
        try:
            col_members, measure = p["columns"][column]
            row_members = p["rows"][row]
            value = p["values"][row][column]
        except IndexError:
            raise IndexError(
                f"cell ({column}, {row}) outside the {len(p['columns'])}×"
                f"{len(p['rows'])} grid"
            ) from None
        return Cell(self, value, measure, col_members, row_members)

    def _cell_context_refs(self, col_members: tuple, row_members: tuple) -> list:
        """Member refs pinning one cell: the query slicer plus the cell's
        axis coordinates (result.rb:145-157 — drill-through context)."""
        from .members import MemberSetRef

        refs = list(getattr(self, "_slicer", ()) or ())
        col_levels = getattr(self, "_col_levels", {}) or {}
        for cols, keys in (
            (self.axis_columns[0] if self.axis_columns else [], col_members),
            (self.axis_columns[1] if len(self.axis_columns) > 1 else [], row_members),
        ):
            by_dim: dict[str, list] = {}
            for c, v in zip(cols, keys):
                if c in col_levels:
                    dim, li = col_levels[c]
                    by_dim.setdefault(dim.name, []).append((li, v, dim))
            for entries in by_dim.values():
                entries.sort()
                path = []
                for _li, v, dim in entries:
                    if v is None:
                        break  # totals/mixed-depth rows: truncate at NULL
                    path.append(v)
                if path:
                    refs.append(
                        MemberSetRef(entries[0][2], depth=len(path) - 1,
                                     path=tuple(path), kind="member")
                    )
        return refs

    def to_pandas(self):
        return self.df.toPandas()

    def to_html(self) -> str:
        """HTML table rendering (result.rb:66-110 to_html)."""
        return self.to_pandas().to_html(index=False)


class Cell:
    """One addressed cell: value + formatted value + drill-through
    (result.rb ``Cell`` surface: :140-157 drill_through, :606-650 value
    accessors)."""

    def __init__(self, result: Result, value, measure: str,
                 col_members: tuple, row_members: tuple):
        self._result = result
        self.value = value
        self.measure = measure
        self.column_members = col_members
        self.row_members = row_members

    @property
    def formatted_value(self) -> str:
        from .formats import format_value

        f = self._result._formats.get(self.measure)
        if callable(f):
            return f(self.value)
        return format_value(self.value, f, self._result.locale)

    def drill_through(
        self,
        fields: list[tuple[str, str]] | None = None,
        max_rows: int | None = None,
        group_by: bool = False,
        nonempty: str | list[str] | None = None,
    ):
        """Fact rows underlying this cell (result.rb:140-157 ``Cell.
        drill_through(row:, column:, …)`` sugar).  Default RETURN fields are
        the query's axis levels plus its base measures' fact expressions."""
        engine = getattr(self._result, "_engine", None)
        if engine is None:
            raise ValueError("this Result carries no engine context")
        from .plan import Planner

        refs = self._result._cell_context_refs(self.column_members, self.row_members)
        if fields is None:
            fields = []
            col_levels = getattr(self._result, "_col_levels", {}) or {}
            for ax in self._result.axis_columns:
                for c in ax:
                    if c in col_levels:
                        dim, li = col_levels[c]
                        fields.append((c, f"[{dim.name}].[{dim.levels[li].name}]"))
            for m in getattr(self._result, "_base_measures", ()) or ():
                fields.append((m.out, m.expression))
        return Planner(engine).drill_through(
            refs, fields, max_rows=max_rows, group_by=group_by,
            nonempty=nonempty,
        )


