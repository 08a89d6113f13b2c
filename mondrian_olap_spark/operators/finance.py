"""Grouped-cashflow finance: NPV / IRR / MIRR as scalar codegen folds.

The reference's VBA surface exposes NPV, IRR and MIRR
(jar!mondrian/olap/fun/vba/Vba.class ``nPV``/``iRR``/``mIRR``), but they
take ``double[]`` cashflow arrays that MDX itself cannot construct — in
practice they are reachable only from host code.  This module surfaces
them the way a Spark analytics user actually needs them: as aggregates
over GROUPED, ORDERED cashflow series pulled out of a fact table
(per-entity investment analysis at any fact size).

Semantics match VBA:

- ``NPV(rate, values)`` discounts the FIRST value one full period
  (exponent starts at 1);
- ``IRR(values[, guess])`` treats the first value as time-0 (exponent
  starts at 0) and solves ``f(r) = 0`` by Newton iteration from
  ``guess`` (VBA default 0.1);
- ``MIRR(values, finance_rate, reinvest_rate)`` compounds positive
  flows forward at the reinvest rate and discounts negative flows at
  the finance rate.

Scale design: a cashflow series is PERIODS long (years/quarters), so the
per-group ``collect_list`` is bounded by the period count, never the
fact row count — the heavy lifting (fact scan + group-sum) stays a plain
shuffle aggregate.  The Newton iteration itself runs as ONE Spark
``aggregate`` higher-order-function fold over a constant sequence — a
scalar expression inside whole-stage codegen, no UDF, no driver loop
(the same pattern as MDX ``Rate``, mdx.py).  Discount factors advance by
MULTIPLICATION only (never ``pow``), so every arithmetic step is an
IEEE-exact ``+ * /`` that a SQL oracle can replay bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _dlit(x: float) -> str:
    """A double literal that Spark SQL parses as DOUBLE, not DECIMAL."""
    return f"CAST({float(x)!r} AS DOUBLE)"


def cashflows(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    output: str = "cfs",
) -> DataFrame:
    """One row per group with the cashflow series as an ORDERED
    ``array<double>`` (sorted by ``order_col`` — deterministic under any
    partitioning; ``collect_list`` alone is not).  The array length is
    the period count, so this is safe at any fact size."""
    sorted_structs = F.array_sort(
        F.collect_list(F.struct(F.col(order_col).alias("o"),
                                F.col(value_col).cast("double").alias("v")))
    )
    return df.groupBy(*group_cols).agg(
        F.transform(sorted_structs, lambda x: x["v"]).alias(output)
    )


def npv_expr(cfs_col: str, rate: float) -> str:
    """VBA NPV as a sequential fold: ``sum(cf_i / (1+rate)^i)`` for
    ``i = 1..n``, with the discount factor advanced by multiplication
    (state ``{df, v}``; ``df`` starts at ``1+rate``)."""
    g = f"(1.0D + {_dlit(rate)})"
    return (
        f"aggregate({cfs_col}, "
        f"named_struct('df', {g}, 'v', 0.0D), "
        f"(s, c) -> named_struct('df', s.df * {g}, 'v', s.v + c / s.df)"
        f").v"
    )


def irr_expr(cfs_col: str, guess: float = 0.1, steps: int = 40) -> str:
    """VBA IRR as ``steps`` Newton iterations expressed as ONE fold over
    a constant sequence.  Each step evaluates ``f(r) = sum(cf_i/(1+r)^i)``
    (i from 0) and its derivative by an inner fold over the cashflow
    array with state ``{i, df, f, fp}`` — multiplication-advanced
    discount factors, so the arithmetic is the exact ``+ * /`` sequence
    a recursive-CTE SQL oracle replays bit-for-bit."""
    inner = (
        f"aggregate({cfs_col}, "
        f"named_struct('i', 0.0D, 'df', 1.0D, 'f', 0.0D, 'fp', 0.0D), "
        f"(s, c) -> named_struct("
        f"'i', s.i + 1.0D, "
        f"'df', s.df * (1.0D + nr), "
        f"'f', s.f + c / s.df, "
        f"'fp', s.fp - s.i * c / (s.df * (1.0D + nr))))"
    )
    # bind the inner fold's result struct ONCE per Newton step via a
    # single-element aggregate (Spark does no CSE inside HOF lambdas —
    # writing ({inner}).f / ({inner}).fp would run the fold twice per
    # step, doubling both runtime and codegen size); arithmetic is
    # identical: acc - st.f / st.fp == nr - f/fp
    return (
        f"aggregate(sequence(1, {int(steps)}), {_dlit(guess)}, "
        f"(nr, ii) -> aggregate(array({inner}), nr, "
        f"(acc, st) -> acc - st.f / st.fp))"
    )


def mirr_expr(cfs_col: str, finance_rate: float, reinvest_rate: float) -> str:
    """VBA MIRR closed form:
    ``(-NPV(rrate, pos)*(1+rrate)^n / (NPV(frate, neg)*(1+frate)))^(1/(n-1)) - 1``
    where pos/neg are the series with the other sign zeroed and NPV uses
    the VBA exponent-from-1 convention.  Uses one fractional ``power`` —
    fine for analytics, but last-ulp portability across engines is NOT
    guaranteed (see tests; hash-gated entries stick to NPV/IRR)."""
    fr, rr = _dlit(finance_rate), _dlit(reinvest_rate)
    pos = f"transform({cfs_col}, c -> greatest(c, 0.0D))"
    neg = f"transform({cfs_col}, c -> least(c, 0.0D))"
    npv_pos = npv_expr(pos, reinvest_rate)
    npv_neg = npv_expr(neg, finance_rate)
    n = f"size({cfs_col})"
    return (
        f"(power((-({npv_pos}) * power(1.0D + {rr}, {n})) / "
        f"(({npv_neg}) * (1.0D + {fr})), 1.0D / ({n} - 1)) - 1.0D)"
    )


def with_npv(
    df: DataFrame, rate: float, cfs_col: str = "cfs", output: str = "npv"
) -> DataFrame:
    return df.withColumn(output, F.expr(npv_expr(cfs_col, rate)))


def with_irr(
    df: DataFrame,
    cfs_col: str = "cfs",
    guess: float = 0.1,
    steps: int = 40,
    output: str = "irr",
) -> DataFrame:
    return df.withColumn(output, F.expr(irr_expr(cfs_col, guess, steps)))


def with_mirr(
    df: DataFrame,
    finance_rate: float,
    reinvest_rate: float,
    cfs_col: str = "cfs",
    output: str = "mirr",
) -> DataFrame:
    return df.withColumn(
        output, F.expr(mirr_expr(cfs_col, finance_rate, reinvest_rate))
    )
