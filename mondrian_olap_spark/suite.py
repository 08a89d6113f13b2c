"""Operator correctness suite: one (Spark query, DuckDB oracle SQL) pair per
implemented operator from SURVEY.md §2.

Every entry is exported through ``__spark_entry__.py`` ``queries()`` /
``oracle_sql()`` and verified by the driver at sf=0.01 (row-count + schema +
order-insensitive value hash).  This mirrors the reference's own test
strategy — differential assertions against a hand-written SQL oracle over
the same database (``/root/reference/test/query_test.rb:14-39``).

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver sorts columns by name before
hashing).
"""

from __future__ import annotations

import re
import threading
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio
from . import functions as fx
from .functions.stats import set_aggregate
from .query import Query
from .tpch import get_engine

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# reusable oracle star-join fragments (README.md:132-143 star SQL shape)
_CUST_STAR = (
    "lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey"
)
_ORD_STAR = "lineitem JOIN orders ON l_orderkey = o_orderkey"
_SUPP_STAR = (
    "lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey"
)


#: prepared-statement cache: (name, session id, sf_dir) → built DataFrame.
#: The Spark analog of Mondrian's statement/segment reuse — a repeat
#: execution of the same query reuses the already-analyzed (and
#: whole-stage-codegen-compiled) plan plus any persisted intermediates,
#: instead of rebuilding the expression tree with fresh exprIds (which
#: defeats the JVM codegen cache and recompiles ~0.5-1 s of Janino per
#: decimal-heavy query).  Inputs are immutable parquet, so the plan is
#: valid for the session's lifetime.  Bounded LRU: stale-session entries
#: are evicted on sight and the size is capped, so long-lived processes
#: creating many sessions cannot leak sessions or plans.
_STATEMENTS: "OrderedDict[tuple, tuple]" = OrderedDict()
_STATEMENTS_MAX = 256
#: the cache is process-global and suite entries may run from multiple
#: threads (the reference pools concurrent connections —
#: connection.rb:157-181): guard the LRU sequences (get + move_to_end,
#: insert + evict) so interleavings cannot corrupt the OrderedDict
_STATEMENTS_LOCK = threading.Lock()


def q(name: str, oracle: str | None = None):
    def deco(fn):
        def cached(spark, sf_dir):
            # keyed by the session object's id; the entry HOLDS the session
            # reference, so the id cannot be recycled by a new session
            # while the entry lives (and sibling sessions of one
            # application never share plans)
            key = (name, id(spark), sf_dir)
            with _STATEMENTS_LOCK:
                hit = _STATEMENTS.get(key)
                if hit is not None:
                    if hit[0] is spark:
                        _STATEMENTS.move_to_end(key)
                        return hit[1]
                    # a dead session's plan: drop it so the session object
                    # is released instead of pinned for the process
                    # lifetime
                    del _STATEMENTS[key]
            # build outside the lock (plan analysis can take a second);
            # a concurrent duplicate build just overwrites with an
            # equivalent plan
            df = fn(spark, sf_dir)
            with _STATEMENTS_LOCK:
                _STATEMENTS[key] = (spark, df)
                while len(_STATEMENTS) > _STATEMENTS_MAX:
                    _STATEMENTS.popitem(last=False)
            return df

        cached.__name__ = fn.__name__
        cached.__doc__ = fn.__doc__
        cached.__wrapped__ = fn
        QUERIES[name] = cached
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# =====================================================================
# §2.1/2.2 — scans, slicers, axis projection
# =====================================================================
@q(
    "flagship_region_quarter",
    f"""
    SELECT r_name AS region_name, sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price, count(l_orderkey) AS count_order
    FROM {_CUST_STAR}
    WHERE year(o_orderdate) = 1995 AND 'Q' || quarter(o_orderdate) = 'Q1'
    GROUP BY r_name
    """,
)
def flagship_region_quarter(spark, sf_dir):
    """README.md:118-143 canonical query: measures on columns, children on
    rows, slicer tuple in WHERE."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]", "[Measures].[Sum Price]", "[Measures].[Count Order]")
        .rows("[Customer].children")
        .where("[Time].[1995].[Q1]")
        .execute()
        .df
    )


@q(
    "pricing_summary_flags",
    """
    SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
           sum(l_quantity) AS sum_qty, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(1,0)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
           avg(l_quantity) AS avg_qty, (CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(l_extendedprice)) AS avg_price,
           (CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / count(l_discount)) AS avg_disc, count(l_orderkey) AS count_order
    FROM lineitem GROUP BY 1, 2
    """,
)
def pricing_summary_flags(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary through the cube (degenerate dims
    crossjoin + 8 measures)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns(
            "[Measures].[Sum Qty]", "[Measures].[Sum Price]",
            "[Measures].[Sum Disc Price]", "[Measures].[Sum Charge]",
            "[Measures].[Avg Qty]", "[Measures].[Avg Price]",
            "[Measures].[Avg Disc]", "[Measures].[Count Order]",
        )
        .rows("[ReturnFlag].children")
        .crossjoin("[LineStatus].children")
        .execute()
        .df
    )


@q(
    "slicer_multi_member_in",
    f"""
    SELECT l_returnflag AS return_flag, count(l_orderkey) AS count_order,
           sum(l_quantity) AS sum_qty
    FROM {_CUST_STAR}
    WHERE r_name IN ('ASIA', 'EUROPE') GROUP BY 1
    """,
)
def slicer_multi_member_in(spark, sf_dir):
    """Multi-member same-dimension slicer = IN (README.md:134-143)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Count Order]", "[Measures].[Sum Qty]")
        .rows("[ReturnFlag].children")
        .where("[Customer].[ASIA]", "[Customer].[EUROPE]")
        .execute()
        .df
    )


@q(
    "slicer_cross_dim_tuple",
    f"""
    SELECT n_name AS supplier_nation, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM {_SUPP_STAR}
    JOIN orders ON l_orderkey = o_orderkey
    WHERE year(o_orderdate) = 1997 AND l_returnflag = 'R'
    GROUP BY 1
    """,
)
def slicer_cross_dim_tuple(spark, sf_dir):
    """Cross-dimension slicer tuple = AND of predicates."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Supplier].children")
        .where("[Time].[1997]", "[ReturnFlag].[R]")
        .execute()
        .df
    )


# =====================================================================
# §2.3 — joins (star, snowflake, crossjoin, nonempty crossjoin)
# =====================================================================
@q(
    "crossjoin_nation_priority",
    f"""
    SELECT r_name AS region_name, n_name AS nation_name,
           o_orderpriority AS order_priority, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM {_CUST_STAR} GROUP BY 1, 2, 3
    """,
)
def crossjoin_nation_priority(spark, sf_dir):
    """CROSSJOIN of two dimension sets (jar!...CrossJoinFunDef)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .crossjoin("[Priority].children")
        .execute()
        .df
    )


@q(
    "nonempty_crossjoin_nation_brand",
    f"""
    SELECT n_name AS supplier_nation, p_brand AS brand,
           sum(l_quantity) AS sum_qty
    FROM {_SUPP_STAR} JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2
    """,
)
def nonempty_crossjoin_nation_brand(spark, sf_dir):
    """NONEMPTYCROSSJOIN: only combinations with fact data appear —
    emerges naturally from groupBy over the fact (SURVEY.md §2.3)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]")
        .rows("[Supplier].children")
        .nonempty_crossjoin("[Part].children")
        .execute()
        .df
    )


# =====================================================================
# §2.4 — aggregation (rollup, cube, distinct count, Aggregate(), stats)
# =====================================================================
@q(
    "rollup_region_nation",
    f"""
    SELECT r_name AS region_name, n_name AS nation_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price, count(l_orderkey) AS count_order
    FROM {_CUST_STAR}
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_region_nation(spark, sf_dir):
    """Multi-level rollup with super-aggregate (All) rows in one pass
    (jar!mondrian/rolap/agg/GroupingSetsList → df.rollup)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]", "[Measures].[Count Order]")
        .rows("[Customer].[Nation].Members")
        .totals("rollup")
        .execute()
        .df
    )


@q(
    "cube_flags_totals",
    """
    SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
           sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_flags_totals(spark, sf_dir):
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]")
        .rows("[ReturnFlag].children")
        .crossjoin("[LineStatus].children")
        .totals("cube")
        .execute()
        .df
    )


@q(
    "distinct_count_by_region",
    f"""
    SELECT r_name AS region_name, count(DISTINCT l_partkey) AS distinct_parts,
           count(DISTINCT l_suppkey) AS distinct_suppliers
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def distinct_count_by_region(spark, sf_dir):
    """Exact distinct-count measures (MondrianTest.xml:105-106 pattern)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Distinct Parts]", "[Measures].[Distinct Suppliers]")
        .rows("[Customer].children")
        .execute()
        .df
    )


@q(
    "aggregate_member_set",
    f"""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price, sum(l_quantity) AS sum_qty,
           count(l_orderkey) AS count_order
    FROM {_CUST_STAR}
    WHERE r_name IN ('ASIA', 'EUROPE') AND year(o_orderdate) = 1997
    """,
)
def aggregate_member_set(spark, sf_dir):
    """Aggregate() over a compound member set: union of member keys filtered
    then aggregated (jar!...AggregateFunDef; mondrian_test.rb:189-239)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]", "[Measures].[Sum Qty]", "[Measures].[Count Order]")
        .where("[Customer].[ASIA]", "[Customer].[EUROPE]", "[Time].[1997]")
        .execute()
        .df
    )


@q(
    "aggregate_crossjoin_set",
    f"""
    WITH star AS (
      SELECT r_name, l_quantity, p_brand
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      JOIN part ON l_partkey = p_partkey
    )
    SELECT r_name AS region_name, sum(l_quantity) AS sum_qty
    FROM star GROUP BY 1
    UNION ALL
    SELECT 'AsiaAfrica B13', sum(l_quantity)
    FROM star WHERE r_name IN ('ASIA', 'AFRICA') AND p_brand = 'Brand#13'
    """,
)
def aggregate_crossjoin_set(spark, sf_dir):
    """Aggregate over a CROSSJOIN of sets spanning dimensions
    (mondrian_test.rb:205-212 'aggregate stored members from several
    dimensions'): home-dimension members define the synthetic member, the
    other set becomes a context constraint ANDed into its cells."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Customer].[AsiaAfrica B13] AS
          'Aggregate({[Part].[Brand#13]} * {[Customer].[ASIA], [Customer].[AFRICA]})'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               {[Customer].children, [Customer].[AsiaAfrica B13]} ON ROWS
        FROM [Sales]
        """
    ).df


@q(
    "aggregate_value_forms",
    f"""
    WITH star AS (
      SELECT year(o_orderdate) AS y, l_quantity, r_name FROM {_CUST_STAR}
    ),
    base AS (SELECT y AS o_year, sum(l_quantity) AS sum_qty FROM star GROUP BY 1),
    aa AS (
      SELECT y AS o_year, sum(l_quantity) AS q FROM star
      WHERE r_name IN ('ASIA', 'AFRICA') GROUP BY 1
    )
    SELECT b.o_year, b.sum_qty, a.q AS asia_africa,
           a.q * 2 AS asia_africa_doubled
    FROM base b LEFT JOIN aa a USING (o_year)
    """,
)
def aggregate_value_forms(spark, sf_dir):
    """Aggregate() as a VALUE in Measures formulas — all three reference
    forms in one grid (mondrian_test.rb:197-228): implicit-measure set,
    crossjoined explicit-measure set, and the expression form (per-member
    evaluation + additive combine), each keeping the per-row Time
    context."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Asia Africa] AS
          'Aggregate({[Customer].[ASIA], [Customer].[AFRICA]} * {[Measures].[Sum Qty]})'
             MEMBER [Measures].[Asia Africa Doubled] AS
          'Aggregate({[Customer].[ASIA], [Customer].[AFRICA]}, [Measures].[Sum Qty] * 2)'
        SELECT {[Measures].[Sum Qty], [Measures].[Asia Africa],
                [Measures].[Asia Africa Doubled]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "median_percentile_price",
    """
    SELECT l_returnflag AS return_flag,
           median(l_extendedprice) AS median_price,
           quantile_cont(l_extendedprice, 0.9) AS p90_price
    FROM lineitem GROUP BY 1
    """,
)
def median_percentile_price(spark, sf_dir):
    """Median / Percentile set functions (jar!...MedianFunDef,
    PercentileFunDef) — exact continuous percentiles, JVM-side."""
    eng = get_engine(spark, sf_dir)
    return set_aggregate(
        eng.fact,
        ["return_flag"],
        [
            ("median_price", "median", "l_extendedprice"),
            ("p90_price", "percentile", "l_extendedprice", 0.9),
        ],
    )


@q(
    "dispersion_stats",
    """
    WITH m AS (
      SELECT l_returnflag AS return_flag,
             count(l_extendedprice) AS n,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS DECIMAL(18,0))) AS DOUBLE) AS s1,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                           AS DECIMAL(18,0))
                      * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                             AS DECIMAL(18,0))) AS DOUBLE) AS s2
      FROM lineitem GROUP BY 1
    )
    SELECT return_flag,
           sqrt((s2 - s1*s1/n) / (n - 1) / 10000.0) AS stdev_price,
           sqrt((s2 - s1*s1/n) / n / 10000.0) AS stdevp_price,
           (s2 - s1*s1/n) / (n - 1) / 10000.0 AS var_price,
           (s2 - s1*s1/n) / n / 10000.0 AS varp_price
    FROM m
    """,
)
def dispersion_stats(spark, sf_dir):
    """Stdev/StdevP/Var/VarP (jar!...StdevFunDef etc.; mondrian_test.rb
    NaN-on-NULL behavior tests :673-686).  Uses the deterministic
    decimal-moment variants so cell values are bit-stable across shuffle
    orders (the plain stdev/var Spark natives remain available)."""
    eng = get_engine(spark, sf_dir)
    dec = "CAST(l_extendedprice AS DECIMAL(12,2))"
    return set_aggregate(
        eng.fact,
        ["return_flag"],
        [
            ("stdev_price", "dstdev", dec),
            ("stdevp_price", "dstdevp", dec),
            ("var_price", "dvar", dec),
            ("varp_price", "dvarp", dec),
        ],
    )


@q(
    "corr_linreg_stats",
    """
    WITH u AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
                  AS DECIMAL(18,0)) AS xi,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                  AS DECIMAL(18,0)) AS yi
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag AS return_flag,
             count(*) AS n,
             CAST(sum(xi) AS DOUBLE) AS sx,
             CAST(sum(yi) AS DOUBLE) AS sy,
             CAST(sum(xi * xi) AS DOUBLE) AS sxx,
             CAST(sum(yi * yi) AS DOUBLE) AS syy,
             CAST(sum(xi * yi) AS DOUBLE) AS sxy
      FROM u GROUP BY 1
    )
    SELECT return_flag,
           (sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)) AS corr_price_qty,
           (sxy - sx*sy/n) / n / 10000.0 AS covar_price_qty,
           (sxy - sx*sy/n) / (sxx - sx*sx/n) AS slope,
           sy/n/100.0 - (sxy - sx*sy/n) / (sxx - sx*sx/n) * (sx/n/100.0) AS intercept,
           (sxy - sx*sy/n) * (sxy - sx*sy/n)
             / ((sxx - sx*sx/n) * (syy - sy*sy/n)) AS r2
    FROM m
    """,
)
def corr_linreg_stats(spark, sf_dir):
    """Correlation / Covariance / LinRegSlope / LinRegIntercept / LinRegR2
    (jar!...CorrelationFunDef, CovarianceFunDef, LinReg$*FunDef;
    behavior tests mondrian_test.rb:608-778).  Deterministic decimal-moment
    variants (bit-stable across shuffle orders); Spark-native corr/covar/
    regr_* stay available through set_aggregate."""
    eng = get_engine(spark, sf_dir)
    y = "CAST(l_extendedprice AS DECIMAL(12,2))"
    x = "CAST(l_quantity AS DECIMAL(12,2))"
    return set_aggregate(
        eng.fact,
        ["return_flag"],
        [
            ("corr_price_qty", "dcorrelation", y, x),
            ("covar_price_qty", "dcovariance", y, x),
            ("slope", "dlinregslope", y, x),
            ("intercept", "dlinregintercept", y, x),
            ("r2", "dlinregr2", y, x),
        ],
    )


@q(
    "linreg_formula_text_gate",
    """
    WITH ranks AS (
      SELECT CAST(row_number() OVER (ORDER BY r_name) AS INT) AS rk
      FROM (SELECT DISTINCT r_name FROM region)
    ),
    pts AS (
      SELECT rk,
             CASE rk WHEN 1 THEN 10 WHEN 2 THEN 30 WHEN 3 THEN 10 END AS yf,
             CASE rk WHEN 1 THEN 10 WHEN 2 THEN 30 WHEN 3 THEN 25 END AS ym,
             rk * 10 AS yp
      FROM ranks
    ),
    m AS (
      SELECT
        count(CASE WHEN yf IS NOT NULL THEN rk END) AS nf,
        CAST(sum(CASE WHEN yf IS NOT NULL THEN rk END) AS DOUBLE) AS sxf,
        CAST(sum(yf) AS DOUBLE) AS syf,
        CAST(sum(CASE WHEN yf IS NOT NULL THEN rk * rk END) AS DOUBLE) AS sxxf,
        CAST(sum(yf * yf) AS DOUBLE) AS syyf,
        CAST(sum(rk * yf) AS DOUBLE) AS sxyf,
        count(CASE WHEN ym IS NOT NULL THEN rk END) AS nm,
        CAST(sum(CASE WHEN ym IS NOT NULL THEN rk END) AS DOUBLE) AS sxm,
        CAST(sum(ym) AS DOUBLE) AS sym,
        CAST(sum(CASE WHEN ym IS NOT NULL THEN rk * rk END) AS DOUBLE) AS sxxm,
        CAST(sum(ym * ym) AS DOUBLE) AS syym,
        CAST(sum(rk * ym) AS DOUBLE) AS sxym,
        count(rk) AS np,
        CAST(sum(rk) AS DOUBLE) AS sxp,
        CAST(sum(yp) AS DOUBLE) AS syp,
        CAST(sum(rk * rk) AS DOUBLE) AS sxxp,
        CAST(sum(yp * yp) AS DOUBLE) AS syyp,
        CAST(sum(rk * yp) AS DOUBLE) AS sxyp
      FROM pts
    )
    SELECT
      (sxyf - sxf*syf/nf) * (sxyf - sxf*syf/nf)
        / ((sxxf - sxf*sxf/nf) * (syyf - syf*syf/nf)) AS r2_flat,
      round((sxym - sxm*sym/nm) * (sxym - sxm*sym/nm)
        / ((sxxm - sxm*sxm/nm) * (syym - sym*sym/nm)), 2) AS r2_moderate,
      (sxyp - sxp*syp/np) * (sxyp - sxp*syp/np)
        / ((sxxp - sxp*sxp/np) * (syyp - syp*syp/np)) AS r2_perfect,
      CAST('nan' AS DOUBLE) AS r2_null,
      round((syyf - syf*syf/nf)
        - (sxyf - sxf*syf/nf) * (sxyf - sxf*syf/nf) / (sxxf - sxf*sxf/nf),
        2) AS var_flat,
      (syyp - syp*syp/np)
        - (sxyp - sxp*syp/np) * (sxyp - sxp*syp/np) / (sxxp - sxp*sxp/np)
        AS var_perfect,
      (sxyp - sxp*syp/np) / (sxxp - sxp*sxp/np) AS slope_perfect,
      syp/np - (sxyp - sxp*syp/np) / (sxxp - sxp*sxp/np) * (sxp/np)
        AS intercept_perfect,
      (sxyp - sxp*syp/np) / (sxxp - sxp*sxp/np) * 4.0
        + (syp/np - (sxyp - sxp*syp/np) / (sxxp - sxp*sxp/np) * (sxp/np))
        AS point_perfect
    FROM m
    """,
)
def linreg_formula_text_gate(spark, sf_dir):
    """LinRegR2/LinRegVariance/LinRegSlope/LinRegIntercept/LinRegPoint as
    WITH MEMBER formula TEXT, lifted verbatim (modulo cube names) from the
    reference's behavior tests — including Rank(CurrentMember, set)
    arguments, CASE-over-rank expressions, and the NaN-on-NULL matrix
    (/root/reference/test/mondrian_test.rb:608-778;
    jar!mondrian/olap/fun/LinReg$*FunDef, RankFunDef).  The oracle replays
    the deterministic decimal-moment formulas over the same rank points."""
    eng = get_engine(spark, sf_dir)
    rank = "Rank([Customer].CurrentMember, [Customer].[Region].Members)"
    case_flat = f"CASE {rank} WHEN 1 THEN 10 WHEN 2 THEN 30 WHEN 3 THEN 10 END"
    case_mod = f"CASE {rank} WHEN 1 THEN 10 WHEN 2 THEN 30 WHEN 3 THEN 25 END"
    regions = "[Customer].[Region].Members"
    return eng.execute(
        f"""
        WITH MEMBER [Measures].[R2 Flat] AS
          'LinRegR2({regions}, {rank}, {case_flat})'
        MEMBER [Measures].[R2 Moderate] AS
          'Round(LinRegR2({regions}, {rank}, {case_mod}), 2)'
        MEMBER [Measures].[R2 Perfect] AS
          'LinRegR2({regions}, {rank}, {rank} * 10)'
        MEMBER [Measures].[R2 Null] AS
          'LinRegR2({regions}, NULL, {rank})'
        MEMBER [Measures].[Var Flat] AS
          'Round(LinRegVariance({regions}, {case_flat}, {rank}), 2)'
        MEMBER [Measures].[Var Perfect] AS
          'LinRegVariance({regions}, {rank} * 10, {rank})'
        MEMBER [Measures].[Slope Perfect] AS
          'LinRegSlope({regions}, {rank} * 10, {rank})'
        MEMBER [Measures].[Intercept Perfect] AS
          'LinRegIntercept({regions}, {rank} * 10, {rank})'
        MEMBER [Measures].[Point Perfect] AS
          'LinRegPoint(4, {regions}, {rank} * 10, {rank})'
        SELECT {{[Measures].[R2 Flat], [Measures].[R2 Moderate],
                [Measures].[R2 Perfect], [Measures].[R2 Null],
                [Measures].[Var Flat], [Measures].[Var Perfect],
                [Measures].[Slope Perfect], [Measures].[Intercept Perfect],
                [Measures].[Point Perfect]}} ON COLUMNS
        FROM [Sales]
        """
    ).df


@q(
    "setstat_formula_text_gate",
    f"""
    WITH star AS (
      SELECT year(o_orderdate) AS y, r_name, l_quantity,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS price
      FROM {_CUST_STAR}
    ),
    cells AS (
      SELECT y, r_name, sum(l_quantity) AS sq
      FROM star GROUP BY 1, 2
    ),
    ranks AS (
      SELECT r_name, CAST(row_number() OVER (ORDER BY r_name) AS INT) AS rk
      FROM (SELECT DISTINCT r_name FROM region)
    ),
    base AS (SELECT y AS o_year, sum(l_quantity) AS sum_qty FROM star GROUP BY 1),
    stats AS (
      SELECT c.y AS o_year,
             median(c.sq) AS median_region_qty,
             quantile_cont(c.sq, 0.75) AS p75_region_qty,
             max(c.sq) AS max_region_qty,
             min(c.sq) AS min_region_qty,
             avg(c.sq) AS avg_region_qty,
             sum(c.sq) AS sum_region_qty,
             count(c.sq) AS nonempty_region_qty,
             sqrt((CAST(sum(c.sq * c.sq) AS DOUBLE)
                   - CAST(sum(c.sq) AS DOUBLE) * CAST(sum(c.sq) AS DOUBLE) / count(c.sq))
                  / (count(c.sq) - 1)) AS stdev_region_qty,
             (CAST(sum(c.sq * c.sq) AS DOUBLE)
              - CAST(sum(c.sq) AS DOUBLE) * CAST(sum(c.sq) AS DOUBLE) / count(c.sq))
             / count(c.sq) AS var_p_region_qty,
             (CAST(sum(r.rk * c.sq) AS DOUBLE)
              - CAST(sum(r.rk) AS DOUBLE) * CAST(sum(c.sq) AS DOUBLE) / count(c.sq))
             / sqrt((CAST(sum(r.rk * r.rk) AS DOUBLE)
                     - CAST(sum(r.rk) AS DOUBLE) * CAST(sum(r.rk) AS DOUBLE) / count(c.sq))
                    * (CAST(sum(c.sq * c.sq) AS DOUBLE)
                       - CAST(sum(c.sq) AS DOUBLE) * CAST(sum(c.sq) AS DOUBLE) / count(c.sq)))
               AS corr_qty_rank,
             (CAST(sum(r.rk * c.sq) AS DOUBLE)
              - CAST(sum(r.rk) AS DOUBLE) * CAST(sum(c.sq) AS DOUBLE) / count(c.sq))
             / count(c.sq) AS cov_qty_rank
      FROM cells c JOIN ranks r USING (r_name) GROUP BY 1
    )
    SELECT b.o_year, b.sum_qty, s.median_region_qty, s.p75_region_qty,
           s.max_region_qty,
           s.min_region_qty, s.avg_region_qty, s.sum_region_qty,
           s.nonempty_region_qty, s.stdev_region_qty, s.var_p_region_qty,
           s.corr_qty_rank, s.cov_qty_rank,
           5 AS region_count
    FROM base b JOIN stats s USING (o_year)
    """,
)
def setstat_formula_text_gate(spark, sf_dir):
    """Median/Max/Min/Avg/Sum/Count/Stdev/VarP/Correlation/Covariance over
    an explicit set, as WITH MEMBER formula TEXT per Time-year row
    (jar!mondrian/olap/fun/{Median,Stdev,Var,Correlation,Covariance}FunDef;
    SURVEY.md §2.4).  Each statistic re-aggregates the (year × region)
    cell grid and broadcast-attaches back onto the year rows; Correlation/
    Covariance use the omitted-x form (x defaults to the member's set
    position).  Count(set) folds to a metadata literal; Count(set, expr)
    counts non-empty cells.  All inputs are integer-valued, so the
    deterministic moment formulas are bit-stable and oracle-replayable."""
    eng = get_engine(spark, sf_dir)
    regions = "[Customer].[Region].Members"
    qty = "[Measures].[Sum Qty]"
    return eng.execute(
        f"""
        WITH MEMBER [Measures].[Median Region Qty] AS 'Median({regions}, {qty})'
        MEMBER [Measures].[P75 Region Qty] AS 'Percentile({regions}, {qty}, 75)'
        MEMBER [Measures].[Max Region Qty] AS 'Max({regions}, {qty})'
        MEMBER [Measures].[Min Region Qty] AS 'Min({regions}, {qty})'
        MEMBER [Measures].[Avg Region Qty] AS 'Avg({regions}, {qty})'
        MEMBER [Measures].[Sum Region Qty] AS 'Sum({regions}, {qty})'
        MEMBER [Measures].[Nonempty Region Qty] AS 'Count({regions}, {qty})'
        MEMBER [Measures].[Stdev Region Qty] AS 'Stdev({regions}, {qty})'
        MEMBER [Measures].[VarP Region Qty] AS 'VarP({regions}, {qty})'
        MEMBER [Measures].[Corr Qty Rank] AS 'Correlation({regions}, {qty})'
        MEMBER [Measures].[Cov Qty Rank] AS 'Covariance({regions}, {qty})'
        MEMBER [Measures].[Region Count] AS 'Count({regions})'
        SELECT {{[Measures].[Sum Qty], [Measures].[Median Region Qty],
                [Measures].[P75 Region Qty],
                [Measures].[Max Region Qty], [Measures].[Min Region Qty],
                [Measures].[Avg Region Qty], [Measures].[Sum Region Qty],
                [Measures].[Nonempty Region Qty], [Measures].[Stdev Region Qty],
                [Measures].[VarP Region Qty], [Measures].[Corr Qty Rank],
                [Measures].[Cov Qty Rank], [Measures].[Region Count]}}
          ON COLUMNS,
        [Time].[Year].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "case_coalesce_measures",
    f"""
    SELECT r_name AS region_name,
           CAST(sum(CASE WHEN l_discount > 0.05 THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             AS high_disc_revenue,
           count(nullif(l_discount, 0.0)) AS nonzero_disc_count
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def case_coalesce_measures(spark, sf_dir):
    """CASE / IIF / CoalesceEmpty / NULLIF scalar functions inside measure
    expressions (SURVEY.md §2.7)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[High Disc Revenue]", "[Measures].[Nonzero Disc Count]")
        .rows("[Customer].children")
        .execute()
        .df
    )


@q(
    "calc_member_chain",
    """
    SELECT l_returnflag AS return_flag, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) - CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS discount_amount,
           (CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) - CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE))
             / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS discount_share,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(l_orderkey) AS avg_item_value
    FROM lineitem GROUP BY 1
    """,
)
def calc_member_chain(spark, sf_dir):
    """Calculated members with solve-order chaining (schema.rb:314-341;
    member-referencing-member mondrian_test.rb:579-605)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns(
            "[Measures].[Sum Price]", "[Measures].[Discount Amount]",
            "[Measures].[Discount Share]", "[Measures].[Avg Item Value]",
        )
        .rows("[ReturnFlag].children")
        .execute()
        .df
    )


# =====================================================================
# §2.5 — windows / ranking / time intelligence
# =====================================================================
_NATION_AGG = f"""
    SELECT r_name AS region_name, n_name AS nation_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price, sum(l_quantity) AS sum_qty
    FROM {_CUST_STAR} GROUP BY 1, 2
"""


@q(
    "topcount_nations",
    f"""
    WITH agg AS ({_NATION_AGG})
    SELECT region_name, nation_name, sum_price FROM agg
    ORDER BY sum_price DESC, region_name, nation_name LIMIT 5
    """,
)
def topcount_nations(spark, sf_dir):
    """TOPCOUNT (jar!...TopBottomCountFunDef; mondrian_test.rb:272-296)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .top_count(5, "sum_price")
        .execute()
        .df
    )


@q(
    "bottomcount_nations",
    f"""
    WITH agg AS ({_NATION_AGG})
    SELECT region_name, nation_name, sum_qty FROM agg
    ORDER BY sum_qty ASC, region_name, nation_name LIMIT 5
    """,
)
def bottomcount_nations(spark, sf_dir):
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .bottom_count(5, "sum_qty")
        .execute()
        .df
    )


@q(
    "toppercent_nations",
    f"""
    WITH agg AS ({_NATION_AGG}),
    w AS (
      SELECT region_name, nation_name, sum_price,
             sum(sum_price) OVER (ORDER BY sum_price DESC, region_name, nation_name
                                  ROWS UNBOUNDED PRECEDING) AS cum,
             sum(sum_price) OVER () AS total
      FROM agg
    )
    SELECT region_name, nation_name, sum_price FROM w
    WHERE cum - sum_price < 0.30 * total
    """,
)
def toppercent_nations(spark, sf_dir):
    """TOPPERCENT: smallest prefix of the sorted set reaching 30% of total
    (jar!...TopBottomPercentSumFunDef) — cumulative-window pattern."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .top_percent(30, "sum_price")
        .execute()
        .df
    )


@q(
    "topsum_nations",
    f"""
    WITH agg AS ({_NATION_AGG}),
    w AS (
      SELECT region_name, nation_name, sum_price,
             sum(sum_price) OVER (ORDER BY sum_price DESC, region_name, nation_name
                                  ROWS UNBOUNDED PRECEDING) AS cum
      FROM agg
    )
    SELECT region_name, nation_name, sum_price FROM w
    WHERE cum - sum_price < 500000000
    """,
)
def topsum_nations(spark, sf_dir):
    """TOPSUM: smallest prefix whose running sum reaches the threshold."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .top_sum(500_000_000, "sum_price")
        .execute()
        .df
    )


@q(
    "rank_nations",
    f"""
    WITH agg AS ({_NATION_AGG})
    SELECT region_name, nation_name, sum_price,
           rank() OVER (ORDER BY sum_price DESC) AS price_rank
    FROM agg
    """,
)
def rank_nations(spark, sf_dir):
    """RANK over a set by expression (jar!...RankFunDef)."""
    df = (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    return fx.rank_over(df, "sum_price", output="price_rank")


@q(
    "head_nations_hierarchized",
    f"""
    WITH agg AS ({_NATION_AGG})
    SELECT region_name, nation_name, sum_price FROM agg
    ORDER BY region_name, nation_name LIMIT 3
    """,
)
def head_nations_hierarchized(spark, sf_dir):
    """HEAD(set, 3) in hierarchize order (jar!...HeadTailFunDef)."""
    df = (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    return fx.head(df, ["region_name", "nation_name"], 3)


@q(
    "subset_nations_by_price",
    f"""
    WITH agg AS ({_NATION_AGG}),
    w AS (
      SELECT region_name, nation_name, sum_price,
             row_number() OVER (ORDER BY sum_price DESC, region_name, nation_name) AS rn
      FROM agg
    )
    SELECT region_name, nation_name, sum_price FROM w WHERE rn > 5 AND rn <= 10
    """,
)
def subset_nations_by_price(spark, sf_dir):
    """SUBSET(set, 5, 5) — ranks 6..10 by measure (jar!...SubsetFunDef)."""
    df = (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    return fx.subset(df, ["sum_price DESC", "region_name", "nation_name"], 5, 5)


_MONTHLY_AGG = f"""
    SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM {_ORD_STAR} GROUP BY 1, 2
"""


@q(
    "ytd_monthly",
    f"""
    WITH agg AS ({_MONTHLY_AGG})
    SELECT o_year, o_month, sum_price,
           sum(sum_price) OVER (PARTITION BY o_year ORDER BY o_month
                                ROWS UNBOUNDED PRECEDING) AS ytd_price
    FROM agg
    """,
)
def ytd_monthly(spark, sf_dir):
    """YTD / PeriodsToDate: cumulative from period start within the period
    parent (jar!...XtdFunDef, PeriodsToDateFunDef)."""
    df = (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Time].[Month].Members")
        .execute()
        .df
        .drop("o_quarter")
    )
    return fx.cumulative(df, "sum_price", ["o_month"], partition=["o_year"], output="ytd_price")


@q(
    "prev_member_month",
    f"""
    WITH agg AS ({_MONTHLY_AGG})
    SELECT o_year, o_month, sum_price,
           lag(sum_price, 1) OVER (ORDER BY o_year, o_month) AS prev_price
    FROM agg
    """,
)
def prev_member_month(spark, sf_dir):
    """PrevMember / Lag (jar!...LeadLagFunDef)."""
    df = (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Time].[Month].Members")
        .execute()
        .df
        .drop("o_quarter")
    )
    return fx.lag_over(df, "sum_price", ["o_year", "o_month"], output="prev_price")


@q(
    "parallel_period_month",
    f"""
    WITH agg AS ({_MONTHLY_AGG})
    SELECT o_year, o_month, sum_price,
           lag(sum_price, 1) OVER (PARTITION BY o_month ORDER BY o_year) AS py_price
    FROM agg
    """,
)
def parallel_period_month(spark, sf_dir):
    """ParallelPeriod(Year, 1): same month previous year
    (jar!...ParallelPeriodFunDef)."""
    df = (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Time].[Month].Members")
        .execute()
        .df
        .drop("o_quarter")
    )
    return fx.lag_over(df, "sum_price", ["o_year"], partition=["o_month"], output="py_price")


@q(
    "last_periods_moving_3m",
    f"""
    WITH agg AS ({_MONTHLY_AGG})
    SELECT o_year, o_month, sum_price,
           sum(sum_price) OVER (ORDER BY o_year, o_month
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_3m
    FROM agg
    """,
)
def last_periods_moving_3m(spark, sf_dir):
    """LastPeriods(3): trailing 3-period aggregate (jar!...LastPeriodsFunDef)."""
    df = (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Time].[Month].Members")
        .execute()
        .df
        .drop("o_quarter")
    )
    return fx.last_periods(df, "sum_price", ["o_year", "o_month"], 3, output="moving_3m")


@q(
    "opening_closing_period",
    f"""
    WITH agg AS ({_MONTHLY_AGG})
    SELECT o_year, o_month, sum_price,
           first_value(sum_price) OVER (PARTITION BY o_year ORDER BY o_month
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS opening_value,
           last_value(sum_price) OVER (PARTITION BY o_year ORDER BY o_month
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS closing_value
    FROM agg
    """,
)
def opening_closing_period(spark, sf_dir):
    """OpeningPeriod / ClosingPeriod (jar!...OpeningClosingPeriodFunDef)."""
    df = (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Time].[Month].Members")
        .execute()
        .df
        .drop("o_quarter")
    )
    df = fx.opening_period(df, "sum_price", ["o_month"], ["o_year"], output="opening_value")
    return fx.closing_period(df, "sum_price", ["o_month"], ["o_year"], output="closing_value")


_MONTHLY_AGG_Q = f"""
    SELECT year(o_orderdate) AS o_year,
           concat('Q', quarter(o_orderdate)) AS o_quarter,
           month(o_orderdate) AS o_month,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           sum(l_quantity) AS sum_qty
    FROM {_ORD_STAR} GROUP BY 1, 2, 3
"""


@q(
    "ytd_mdx_gate",
    f"""
    WITH agg AS ({_MONTHLY_AGG_Q})
    SELECT o_year, o_quarter, o_month, sum_price,
           sum(sum_price) OVER (PARTITION BY o_year ORDER BY o_quarter, o_month
                                ROWS UNBOUNDED PRECEDING) AS ytd_price,
           sum(sum_price) OVER (ORDER BY o_year, o_quarter, o_month
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_3
    FROM agg
    """,
)
def ytd_mdx_gate(spark, sf_dir):
    """Ytd() / LastPeriods(n) as WITH MEMBER formula TEXT
    (jar!mondrian/olap/fun/XtdFunDef, LastPeriodsFunDef; SURVEY.md §2.5):
    ``Sum(Ytd(), m)`` lowers to a running window partitioned by the
    TimeYears level, ``Sum(LastPeriods(3), m)`` to a trailing frame over
    the full time order — both resolved per query from the axis's
    projected time columns (query._lower_formula)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[YTD Price] AS 'Sum(Ytd(), [Measures].[Sum Price])'
        MEMBER [Measures].[Moving 3] AS 'Sum(LastPeriods(3), [Measures].[Sum Price])'
        SELECT {[Measures].[Sum Price], [Measures].[YTD Price],
                [Measures].[Moving 3]} ON COLUMNS,
               [Time].[Month].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "parallelperiod_mdx_gate",
    f"""
    WITH agg AS ({_MONTHLY_AGG_Q})
    SELECT o_year, o_quarter, o_month, sum_price,
           lag(sum_price, 1) OVER (PARTITION BY o_quarter, o_month
                                   ORDER BY o_year) AS py_price,
           first_value(sum_price) OVER (PARTITION BY o_year, o_quarter
             ORDER BY o_month
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS opening_price,
           last_value(sum_price) OVER (PARTITION BY o_year, o_quarter
             ORDER BY o_month
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS closing_price
    FROM agg
    """,
)
def parallelperiod_mdx_gate(spark, sf_dir):
    """ParallelPeriod / OpeningPeriod / ClosingPeriod in WITH MEMBER tuple
    TEXT (jar!...ParallelPeriodFunDef, OpeningClosingPeriodFunDef):
    ``(m, ParallelPeriod([Time].[Year], 1))`` → same-period-previous-year
    lag; Opening/Closing → first/last period value within the current
    parent — all lowered to window SQL at execute time.  Both tuple
    orders parse."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[PY Price] AS
          '([Measures].[Sum Price], ParallelPeriod([Time].[Year], 1))'
        MEMBER [Measures].[Opening Price] AS
          '([Measures].[Sum Price], OpeningPeriod([Time].[Month]))'
        MEMBER [Measures].[Closing Price] AS
          '(ClosingPeriod([Time].[Month]), [Measures].[Sum Price])'
        SELECT {[Measures].[Sum Price], [Measures].[PY Price],
                [Measures].[Opening Price], [Measures].[Closing Price]}
          ON COLUMNS,
        [Time].[Month].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "openingperiod_ancestor_gate",
    f"""
    WITH agg AS ({_MONTHLY_AGG_Q})
    SELECT o_year, o_quarter, o_month, sum_price,
           first_value(sum_price) OVER (PARTITION BY o_year
             ORDER BY o_quarter, o_month
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS open_year,
           last_value(sum_price) OVER (PARTITION BY o_year
             ORDER BY o_quarter, o_month
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS close_year
    FROM agg
    """,
)
def openingperiod_ancestor_gate(spark, sf_dir):
    """OpeningPeriod/ClosingPeriod with an explicit Ancestor scope —
    ``OpeningPeriod([T].[Month], Ancestor([T].CurrentMember,
    [T].[Year]))`` widens the frame from the immediate parent (quarter)
    to the YEAR ancestor's months (jar!...OpeningClosingPeriodFunDef
    member argument)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Open Year] AS
          '([Measures].[Sum Price], OpeningPeriod([Time].[Month],
            Ancestor([Time].CurrentMember, [Time].[Year])))'
        MEMBER [Measures].[Close Year] AS
          '(ClosingPeriod([Time].[Month],
            Ancestor([Time].CurrentMember, [Time].[Year])),
            [Measures].[Sum Price])'
        SELECT {[Measures].[Sum Price], [Measures].[Open Year],
                [Measures].[Close Year]} ON COLUMNS,
               [Time].[Month].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "parallelperiod_quarter_gate",
    f"""
    WITH agg AS ({_MONTHLY_AGG_Q})
    SELECT o_year, o_quarter, o_month, sum_price,
           lag(sum_price, 1) OVER (PARTITION BY (o_month - 1) % 3
                                   ORDER BY o_year, o_quarter) AS pq_price
    FROM agg
    """,
)
def parallelperiod_quarter_gate(spark, sf_dir):
    """ParallelPeriod BELOW the top time level — the POSITIONAL cousin
    (jar!...ParallelPeriodFunDef): month 5's cousin one quarter back is
    month 2 (same position in Q1), crossing year boundaries at Q1.  The
    engine partitions the lag by the member's position-within-parent
    joined from the member list (data-independent); the oracle derives
    the same position from calendar arithmetic ((month-1) mod 3)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[PQ Price] AS
          '([Measures].[Sum Price], ParallelPeriod([Time].[Quarter], 1))'
        SELECT {[Measures].[Sum Price], [Measures].[PQ Price]} ON COLUMNS,
               [Time].[Month].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "prevmember_formula_gate",
    f"""
    WITH agg AS ({_MONTHLY_AGG_Q})
    SELECT o_year, o_quarter, o_month, sum_price,
           lag(sum_price, 1) OVER (ORDER BY o_year, o_quarter, o_month)
             AS prev_price,
           sum_price
             - lag(sum_price, 1) OVER (ORDER BY o_year, o_quarter, o_month)
             AS mo_m_delta,
           lead(sum_price, 2) OVER (ORDER BY o_year, o_quarter, o_month)
             AS in_two_months
    FROM agg
    """,
)
def prevmember_formula_gate(spark, sf_dir):
    """(measure, [Time].PrevMember) / .Lead(n) tuples in WITH MEMBER
    formula TEXT — the reference fixture's 'Profit last Period' idiom
    (MondrianTest.xml:116; jar!...LeadLagFunDef), lowered to lag/lead
    windows over the grid's time columns, composing inside arithmetic."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Prev Price] AS
          '([Measures].[Sum Price], [Time].PrevMember)'
        MEMBER [Measures].[MoM Delta] AS
          '[Measures].[Sum Price] - ([Measures].[Sum Price], [Time].PrevMember)'
        MEMBER [Measures].[In Two Months] AS
          '([Time].Lead(2), [Measures].[Sum Price])'
        SELECT {[Measures].[Sum Price], [Measures].[Prev Price],
                [Measures].[MoM Delta], [Measures].[In Two Months]}
          ON COLUMNS,
        [Time].[Month].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "ytd_axis_gate",
    f"""
    WITH agg AS ({_MONTHLY_AGG_Q})
    SELECT o_year, o_quarter, o_month, sum_qty
    FROM agg WHERE o_year = 1995 AND o_month BETWEEN 1 AND 5
    """,
)
def ytd_axis_gate(spark, sf_dir):
    """Ytd(member) as an AXIS set (jar!...XtdFunDef): the months of 1995
    through May — resolved as an ordinal range under the year ancestor
    (two single-scalar lookups, then a BETWEEN predicate; the set crosses
    quarter parents and is never enumerated)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               Ytd([Time].[1995].[Q2].[5]) ON ROWS FROM [Sales]
        """
    ).df


# =====================================================================
# §2.6 — set operations & generators
# =====================================================================
@q(
    "catalog_xml_import_gate",
    f"""
    SELECT r_name AS region, n_name AS nation,
           sum(l_quantity) AS sum_qty,
           count(l_orderkey) AS order_count,
           sum(l_quantity) / count(l_orderkey) AS qty_per_order
    FROM {_CUST_STAR} GROUP BY 1, 2
    """,
)
def catalog_xml_import_gate(spark, sf_dir):
    """Mondrian XML catalog importer end-to-end (catalog_xml.
    from_mondrian_xml; schema.rb:53-489 element inventory, fixture
    test/fixtures/MondrianTest.xml): a cube declared in Mondrian XML —
    nested snowflake <Join>s, <DimensionUsage>, <Measure>s, a
    <CalculatedMember> whose [Measures].[X] formula refs rewrite to
    output aliases — builds a live engine whose star-join answers are
    oracle-exact."""
    from .catalog_xml import from_mondrian_xml
    from .star import CubeEngine, read_parquet_table

    schema, _ = from_mondrian_xml(
        '''<?xml version="1.0"?>
        <Schema name="TpchXml">
          <Dimension name="Customer">
            <Hierarchy hasAll="true" primaryKey="o_orderkey">
              <Join leftKey="o_custkey" rightKey="c_custkey">
                <Table name="orders"/>
                <Join leftKey="c_nationkey" rightKey="n_nationkey">
                  <Table name="customer"/>
                  <Join leftKey="n_regionkey" rightKey="r_regionkey">
                    <Table name="nation"/>
                    <Table name="region"/>
                  </Join>
                </Join>
              </Join>
              <Level name="Region" column="r_name"/>
              <Level name="Nation" column="n_name"/>
            </Hierarchy>
          </Dimension>
          <Cube name="Sales">
            <Table name="lineitem"/>
            <DimensionUsage name="Customer" source="Customer"
                foreignKey="l_orderkey"/>
            <Measure name="Sum Qty" column="l_quantity" aggregator="sum"/>
            <Measure name="Order Count" column="l_orderkey"
                aggregator="count"/>
            <CalculatedMember name="Qty Per Order" dimension="Measures"
                formula="[Measures].[Sum Qty] / [Measures].[Order Count]"/>
          </Cube>
        </Schema>'''
    )
    cube = schema.cube("Sales")
    names = {cube.fact} | {
        t
        for d in cube.dimensions
        for t in [d.table, *[j.table for j in d.joins]]
        if t
    }
    tables = {
        n: read_parquet_table(spark, f"{sf_dir}/{n}.parquet") for n in names
    }
    eng = CubeEngine(cube, tables)
    return (
        Query(eng)
        .columns(
            "[Measures].[Sum Qty]", "[Measures].[Order Count]",
            "[Measures].[Qty Per Order]",
        )
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )


@q(
    "partitioned_fact_dpp_gate",
    """
    WITH f AS (
      SELECT l_quantity, l_returnflag, year(o_orderdate) AS o_year
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT 'year_slice' AS tag, l_returnflag AS flag,
           sum(l_quantity) AS sum_qty
    FROM f WHERE o_year = 1995 GROUP BY 2
    UNION ALL
    SELECT 'epoch_dpp', l_returnflag, sum(l_quantity)
    FROM f WHERE o_year % 2 = 1 GROUP BY 2
    """,
)
def partitioned_fact_dpp_gate(spark, sf_dir):
    """Date-PARTITIONED fact layout — the 100 TB scan lever
    (tpch.partitioned_fact_engines; reference behavior anchor:
    slicer→WHERE pushdown, /root/reference/README.md:132-143).  Two
    pruning shapes, both plan-asserted in the gate itself:

    * a degenerate time slicer reaches the scan as a STATIC
      ``PartitionFilters`` entry (whole ``o_year=`` directories pruned);
    * filtering a dimension TABLE joined on the partition column plans a
      ``dynamicpruningexpression`` subquery (Spark DPP — the classic
      filtered-date-dim star shape).

    Answers must be bit-identical across the partitioned and flat
    layouts (layout is physical, never semantic) and hash-match the
    fact-derived oracle."""
    from pyspark.sql import functions as F

    from .tpch import partitioned_fact_engines

    part_eng, flat_eng = partitioned_fact_engines(spark, sf_dir)

    def run(eng):
        ys = (
            Query(eng)
            .columns("[Measures].[Sum Qty]")
            .rows("[ReturnFlag].children")
            .where("[Time].[1995]")
            .execute()
            .df
        )
        dpp = (
            Query(eng)
            .columns("[Measures].[Sum Qty]")
            .rows("[ReturnFlag].children")
            .where("[Epoch].[EPOCH_1]")
            .execute()
            .df
        )
        return ys, dpp

    ys_p, dpp_p = run(part_eng)
    plan_ys = ys_p._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"PartitionFilters: \[[^\]]*o_year[^\]]*1995", plan_ys
    ), "time slicer did not prune partitions statically"
    plan_dpp = dpp_p._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan_dpp, (
        "dim-table filter did not plan dynamic partition pruning"
    )
    ys_f, dpp_f = run(flat_eng)
    for a, b in ((ys_p, ys_f), (dpp_p, dpp_f)):
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        ), "partitioned and flat layouts disagree"
    tag = lambda df, t: df.select(
        F.lit(t).alias("tag"), F.col("flag"), F.col("sum_qty")
    )
    return tag(ys_p, "year_slice").unionByName(tag(dpp_p, "epoch_dpp"))


@q(
    "xml_aggname_routing_gate",
    f"""
    SELECT r_name AS region, sum(l_quantity) AS sum_qty,
           count(l_orderkey) AS order_count
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def xml_aggname_routing_gate(spark, sf_dir):
    """XML-declared <AggName> summary tables route queries
    (schema.rb:374-414; rendered forms
    test/schema_definition_test.rb:627-775; matcher
    jar!mondrian/rolap/aggmatcher): the declaration names physical
    level/measure columns of a pre-aggregated table, the engine registers
    it at construction when the table exists in the tables map, and a
    coarser-grain query is served from it — the executed plan never
    rescans the fact — with bit-exact answers vs the fact-derived
    oracle."""
    from .catalog_xml import from_mondrian_xml
    from .star import CubeEngine, read_parquet_table

    schema, _ = from_mondrian_xml(
        '''<?xml version="1.0"?>
        <Schema name="TpchXmlAgg">
          <Dimension name="Customer">
            <Hierarchy hasAll="true" primaryKey="o_orderkey">
              <Join leftKey="o_custkey" rightKey="c_custkey">
                <Table name="orders"/>
                <Join leftKey="c_nationkey" rightKey="n_nationkey">
                  <Table name="customer"/>
                  <Join leftKey="n_regionkey" rightKey="r_regionkey">
                    <Table name="nation"/>
                    <Table name="region"/>
                  </Join>
                </Join>
              </Join>
              <Level name="Region" column="r_name"/>
              <Level name="Nation" column="n_name"/>
            </Hierarchy>
          </Dimension>
          <Cube name="Sales">
            <Table name="lineitem">
              <AggName name="agg_sales_nation">
                <AggFactCount column="fact_count"/>
                <AggMeasure column="qty_sum" name="[Measures].[Sum Qty]"/>
                <AggMeasure column="order_cnt"
                    name="[Measures].[Order Count]"/>
                <AggLevel column="region" name="[Customer].[Region]"/>
                <AggLevel column="nation" name="[Customer].[Nation]"/>
              </AggName>
            </Table>
            <DimensionUsage name="Customer" source="Customer"
                foreignKey="l_orderkey"/>
            <Measure name="Sum Qty" column="l_quantity" aggregator="sum"/>
            <Measure name="Order Count" column="l_orderkey"
                aggregator="count"/>
          </Cube>
        </Schema>'''
    )
    cube = schema.cube("Sales")
    names = {cube.fact} | {
        t
        for d in cube.dimensions
        for t in [d.table, *[j.table for j in d.joins]]
        if t
    }
    tables = {
        n: read_parquet_table(spark, f"{sf_dir}/{n}.parquet") for n in names
    }
    # the physical summary, at the declared grain with the declared
    # PHYSICAL column names (built here from the same sources; a real
    # migration ships it as its own table) — eager checkpoint cuts the
    # fact out of its lineage so the plan assertion below is honest
    li, od, cu, na, re_ = (
        tables["lineitem"], tables["orders"], tables["customer"],
        tables["nation"], tables["region"],
    )
    summary = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(cu, od["o_custkey"] == cu["c_custkey"])
        .join(na, cu["c_nationkey"] == na["n_nationkey"])
        .join(re_, na["n_regionkey"] == re_["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum("l_quantity").alias("qty_sum"),
            F.count("l_orderkey").alias("order_cnt"),
            F.count(F.lit(1)).alias("fact_count"),
        )
        .localCheckpoint(eager=True)
    )
    eng = CubeEngine(cube, {**tables, "agg_sales_nation": summary})
    routed = (
        Query(eng)
        .columns("[Measures].[Sum Qty]", "[Measures].[Order Count]")
        .rows("[Customer].[Region].Members")
        .execute()
        .df
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "query was not served from the summary"
    return routed


@q(
    "union_intersect_mdx_gate",
    f"""
    SELECT r_name AS region_name, sum(l_quantity) AS sum_qty
    FROM {_CUST_STAR}
    WHERE r_name IN ('AFRICA', 'EUROPE') GROUP BY 1
    """,
)
def union_intersect_mdx_gate(spark, sf_dir):
    """UNION / INTERSECT function spellings in MDX text, nested
    (jar!mondrian/olap/fun/UnionFunDef, IntersectFunDef):
    INTERSECT(UNION({ASIA, AFRICA}, {AFRICA, EUROPE}), {AFRICA, EUROPE,
    AMERICA}) = {AFRICA, EUROPE}."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               INTERSECT(
                 UNION({[Customer].[ASIA], [Customer].[AFRICA]},
                       {[Customer].[AFRICA], [Customer].[EUROPE]}),
                 {[Customer].[AFRICA], [Customer].[EUROPE],
                  [Customer].[AMERICA]}) ON ROWS
        FROM [Sales]
        """
    ).df


@q(
    "currentdatemember_formula_gate",
    """
    WITH y AS (
      SELECT max(year(o_orderdate)) AS yy FROM orders
      WHERE year(o_orderdate) <= year(current_date)
    ),
    q AS (
      SELECT max(quarter(o_orderdate)) AS qq FROM orders, y
      WHERE year(o_orderdate) = y.yy
        AND (y.yy < year(current_date)
             OR quarter(o_orderdate) <= quarter(current_date))
    )
    SELECT sum(l_quantity) AS sum_qty,
           count(l_orderkey) AS count_order
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey, y, q
    WHERE year(o_orderdate) = y.yy AND quarter(o_orderdate) = q.qq
    """,
)
def currentdatemember_formula_gate(spark, sf_dir):
    """``[Dim].[Level].CurrentDateMember`` as formula text — the
    reference's schema calc-member idiom
    (/root/reference/test/schema_definition_test.rb:580-591): the member
    whose period contains the evaluation date, else the latest before it
    (BEFORE matching) — here in slicer position (the WITH dimension-
    formula and axis forms are pytest-covered).  The oracle replays the
    resolution date-independently for any evaluation date after the
    data's last year."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        SELECT {[Measures].[Sum Qty], [Measures].[Count Order]}
          ON COLUMNS
        FROM [Sales]
        WHERE [Time].[Quarter].CurrentDateMember
        """
    ).df


@q(
    "generate_measure_concat_gate",
    f"""
    WITH a AS (
      SELECT r_name, CAST(sum(l_quantity) AS BIGINT) AS s
      FROM {_CUST_STAR} GROUP BY 1
    )
    SELECT
      (SELECT string_agg(CAST(s AS VARCHAR), '|' ORDER BY r_name)
       FROM a) AS region_qtys,
      (SELECT string_agg(CAST(s AS VARCHAR), '|' ORDER BY
                CASE r_name WHEN 'EUROPE' THEN 0 WHEN 'AFRICA' THEN 1
                            WHEN 'ASIA' THEN 2 END)
       FROM a WHERE r_name IN ('EUROPE', 'AFRICA', 'ASIA')) AS picked_qtys
    """,
)
def generate_measure_concat_gate(spark, sf_dir):
    """GENERATE string form over a MEASURE-referencing expression — the
    set-statistic lowering path ('genconcat' collapse over a per-member
    fact sub-aggregate), as opposed to the member-metadata fold the
    reference variants take.  Iteration order is the set AS WRITTEN
    (Mondrian semantics, test/mondrian_test.rb:491-517): the second
    measure's explicit out-of-hierarchy-order list {EUROPE, AFRICA, ASIA}
    must concatenate in exactly that order — the written position rides
    into the sub-aggregate as a CASE over the member path.  BIGINT-cast
    keeps the double→string rendering engine-independent (Spark goes
    scientific above 1e7)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Region Qtys] AS
          'Generate([Customer].[Region].Members,
                    Cast(Cast([Measures].[Sum Qty] AS bigint) AS String),
                    "|")'
        MEMBER [Measures].[Picked Qtys] AS
          'Generate({[Customer].[EUROPE], [Customer].[AFRICA],
                     [Customer].[ASIA]},
                    Cast(Cast([Measures].[Sum Qty] AS bigint) AS String),
                    "|")'
        SELECT {[Measures].[Region Qtys], [Measures].[Picked Qtys]}
          ON COLUMNS FROM [Sales]
        """
    ).df


@q(
    "strtomember_mdx_gate",
    f"""
    SELECT r_name AS region_name, n_name AS nation_name,
           sum(l_quantity) AS sum_qty
    FROM {_CUST_STAR}
    WHERE n_name IN ('NATION_2', 'NATION_7', 'NATION_0')
      AND year(o_orderdate) = 1995 AND l_returnflag = 'N'
    GROUP BY 1, 2
    """,
)
def strtomember_mdx_gate(spark, sf_dir):
    """StrToMember('…') MDX spelling (jar!mondrian/olap/fun/
    StrToMemberFunDef) in all three member positions at once: an axis
    set element, a set-function argument, and a slicer TUPLE component —
    the literal argument makes each a parse-time constant, spliced
    inline."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        SELECT {[Measures].[Sum Qty]} ON COLUMNS,
               UNION({StrToMember('[Customer].[ASIA].[NATION_2]'),
                      [Customer].[ASIA].[NATION_7]},
                     {StrToMember('[Customer].[AFRICA].[NATION_0]')}) ON ROWS
        FROM [Sales]
        WHERE (StrToMember('[Time].[1995]'),
               StrToMember('[ReturnFlag].[N]'))
        """
    ).df


@q(
    "generate_string_formula_gate",
    """
    WITH s AS (
      SELECT string_agg(r_name, ',' ORDER BY r_name) AS g FROM region
    ),
    allr AS (
      SELECT '{' || string_agg('[Customer].[' || r_name || ']', ', '
               ORDER BY r_name) || '}' AS g3
      FROM region
    )
    SELECT s.g AS generate_1, s.g AS generate_2, allr.g3 AS generate_3
    FROM s, allr
    """,
)
def generate_string_formula_gate(spark, sf_dir):
    """GENERATE string form + SetToStr(Generate(...)) member form in WITH
    MEMBER formula text — the three reference variants verbatim
    (/root/reference/test/mondrian_test.rb:491-517; jar!mondrian/olap/fun/
    GenerateFunDef): a measure CAST to string, a measure already string-
    valued, and SetToStr over the identity member form with ALL.
    Member-metadata expressions (these, via the WITH-member inline)
    evaluate over the MEMBER LIST — all set members, empty or not, zero
    fact scans; a measure-referencing expression would lower onto the
    set-statistic sub-plan (fn 'genconcat', written-order keyed)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Region name] AS
          '[Customer].CurrentMember.Name'
        MEMBER [Measures].[Generate 1] AS
          'Generate([Customer].[Region].Members,
                    Cast([Measures].[Region name] AS String), ",")'
        MEMBER [Measures].[Generate 2] AS
          'Generate([Customer].[Region].Members,
                    [Measures].[Region name], ",")'
        MEMBER [Measures].[Generate 3] AS
          'SetToStr(Generate([Customer].[Region].Members,
                             [Customer].CurrentMember, ALL))'
        SELECT {[Measures].[Generate 1], [Measures].[Generate 2],
                [Measures].[Generate 3]} ON COLUMNS FROM [Sales]
        """
    ).df


@q(
    "except_regions",
    f"""
    SELECT r_name AS region_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM {_CUST_STAR}
    WHERE r_name NOT IN ('ASIA', 'EUROPE') GROUP BY 1
    """,
)
def except_regions(spark, sf_dir):
    """EXCEPT set difference (query.rb:59-66; jar!...ExceptFunDef)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].children")
        .except_("[Customer].[ASIA]", "[Customer].[EUROPE]")
        .execute()
        .df
    )


@q(
    "filter_order_nations",
    f"""
    WITH agg AS (
      SELECT r_name AS region_name, n_name AS nation_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price, avg(l_quantity) AS avg_qty
      FROM {_CUST_STAR} GROUP BY 1, 2
    )
    SELECT region_name, nation_name, sum_price, avg_qty FROM agg
    WHERE avg_qty > 25.5
    """,
)
def filter_order_nations(spark, sf_dir):
    """FILTER with a measure condition = HAVING (query.rb:80-95,
    jar!...FilterFunDef; test/query_test.rb:624-655)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]", "[Measures].[Avg Qty]")
        .rows("[Customer].[Nation].Members")
        .filter("avg_qty > 25.5")
        .order("sum_price", "BDESC")
        .execute()
        .df
    )


@q(
    "generate_customer_list",
    """
    SELECT r_name AS region_name, n_name AS nation_name,
           string_agg(c_name, '|' ORDER BY c_name) AS customer_list
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    """,
)
def generate_customer_list(spark, sf_dir):
    """GENERATE string form: concatenate an expression over a set with a
    separator (query.rb:97-108; string form mondrian_test.rb:491-517)."""
    eng = get_engine(spark, sf_dir)
    members = eng.level_members("Customer", 2)
    return fx.generate_concat(
        members,
        ["region_name", "nation_name"],
        "customer_name",
        ["customer_name"],
        sep="|",
        output="customer_list",
    )


@q(
    "level_members_metadata",
    """
    SELECT DISTINCT r_name AS region_name, n_name AS nation_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def level_members_metadata(spark, sf_dir):
    """Level member load (entry point C — SqlTupleReader analog:
    distinct + hierarchy order, cube.rb:328-332)."""
    return get_engine(spark, sf_dir).level_members("Customer", 1)


@q(
    "descendants_of_member",
    """
    SELECT DISTINCT r_name AS region_name, n_name AS nation_name,
           c_name AS customer_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
    """,
)
def descendants_of_member(spark, sf_dir):
    """Descendants(member, level) (jar!...DescendantsFunDef;
    cube.rb:453-468 descendants_at_level)."""
    return get_engine(spark, sf_dir).level_members("Customer", 2, ("EUROPE",))


# =====================================================================
# §3 D — drill-through
# =====================================================================
@q(
    "drillthrough_cell",
    f"""
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           c_name AS customer_name, l_quantity AS quantity,
           l_extendedprice AS price
    FROM {_CUST_STAR}
    WHERE r_name = 'ASIA' AND year(o_orderdate) = 1998
    ORDER BY orderkey, linenumber, customer_name, quantity, price
    LIMIT 1000
    """,
)
def drillthrough_cell(spark, sf_dir):
    """Cell drill-through with RETURN fields and MAXROWS
    (result.rb:145-157, :283-419; expected SQL test/query_test.rb:932-1028)."""
    eng = get_engine(spark, sf_dir)
    return eng.drill_through(
        where=["[Customer].[ASIA]", "[Time].[1998]"],
        fields=[
            ("orderkey", "l_orderkey"),
            ("linenumber", "l_linenumber"),
            ("customer_name", "[Customer].[Customer]"),
            ("quantity", "l_quantity"),
            ("price", "l_extendedprice"),
        ],
        max_rows=1000,
    )


# =====================================================================
# Events cube (second fact — Sales-and-Warehouse analog, FIXTURES.md §3)
# =====================================================================
@q(
    "events_by_type",
    """
    SELECT event_type, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value, count(event_id) AS event_count,
           count(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY 1
    """,
)
def events_by_type(spark, sf_dir):
    return (
        Query(get_engine(spark, sf_dir, cube="Events"))
        .columns(
            "[Measures].[Sum Value]", "[Measures].[Event Count]",
            "[Measures].[Distinct Users]",
        )
        .rows("[EventType].children")
        .execute()
        .df
    )


@q(
    "count_exclude_empty",
    """
    SELECT event_type,
           count(event_id) AS event_count,
           count(CASE WHEN value > 50 THEN value END) AS high_value_count
    FROM events GROUP BY 1
    """,
)
def count_exclude_empty(spark, sf_dir):
    """Count vs Count-EXCLUDEEMPTY (jar!mondrian/olap/fun/CountFunDef):
    counting an expression that is NULL for empty cells counts only the
    non-empty ones; plain count counts every row."""
    return (
        Query(get_engine(spark, sf_dir, cube="Events"))
        .columns("[Measures].[Event Count]", "[Measures].[High Value Count]")
        .rows("[EventType].children")
        .execute()
        .df
    )


@q(
    "events_daily_users",
    """
    SELECT day(ts) AS event_day, count(DISTINCT user_id) AS distinct_users,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
)
def events_daily_users(spark, sf_dir):
    return (
        Query(get_engine(spark, sf_dir, cube="Events"))
        .columns("[Measures].[Distinct Users]", "[Measures].[Sum Value]")
        .rows("[EventTime].children")
        .execute()
        .df
    )


# =====================================================================
# Virtual cubes (§1.1 — schema.rb:343-372) & roles (§2 — schema.rb:416-489)
# =====================================================================
_ORD_CUST = (
    "orders JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey"
)


@q(
    "virtual_sales_orders",
    f"""
    WITH s AS (
      SELECT r_name AS region_name, year(o_orderdate) AS o_year,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price, count(l_orderkey) AS count_order
      FROM {_CUST_STAR} GROUP BY 1, 2
    ),
    o AS (
      SELECT r_name AS region_name, year(o_orderdate) AS o_year,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_totalprice, count(o_orderkey) AS order_count
      FROM {_ORD_CUST} GROUP BY 1, 2
    )
    SELECT coalesce(s.region_name, o.region_name) AS region_name,
           coalesce(s.o_year, o.o_year) AS o_year,
           s.sum_price, s.count_order, o.sum_totalprice, o.order_count
    FROM s FULL OUTER JOIN o
      ON s.region_name = o.region_name AND s.o_year = o.o_year
    """,
)
def virtual_sales_orders(spark, sf_dir):
    """Virtual cube over two fact tables conformed on customer geography +
    order year: per-cube aggregates full-outer-joined on the conformed
    levels (MondrianTest.xml Sales+Warehouse analog)."""
    from .virtual import CubeUsage, VirtualCube

    vc = VirtualCube(
        "SalesAndOrders",
        [
            CubeUsage(get_engine(spark, sf_dir, "Sales"), ("Sum Price", "Count Order")),
            CubeUsage(get_engine(spark, sf_dir, "Orders"), ("Sum Total Price", "Order Count")),
        ],
    )
    df = vc.aggregate(rows=["[Customer].children", "[Time].[Year].Members"])
    return df.select(
        "region_name", "o_year", "sum_price", "count_order", "sum_totalprice", "order_count"
    )


@q(
    "virtual_valid_measure",
    f"""
    WITH s AS (
      SELECT r_name AS region_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM {_CUST_STAR} GROUP BY 1
    ),
    o AS (
      SELECT r_name AS region_name, o_orderstatus AS order_status,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_totalprice
      FROM {_ORD_CUST} GROUP BY 1, 2
    )
    SELECT o.region_name, s.sum_price, o.order_status, o.sum_totalprice
    FROM s FULL OUTER JOIN o ON s.region_name = o.region_name
    """,
)
def virtual_valid_measure(spark, sf_dir):
    """ValidMeasure: the Sales cube lacks the order-status dimension, so its
    measure aggregates without that grouping and repeats across statuses
    (jar!mondrian/olap/fun/ValidMeasureFunDef)."""
    from .virtual import CubeUsage, VirtualCube

    vc = VirtualCube(
        "SalesAndOrders",
        [
            CubeUsage(get_engine(spark, sf_dir, "Sales"), ("Sum Price",)),
            CubeUsage(get_engine(spark, sf_dir, "Orders"), ("Sum Total Price",)),
        ],
    )
    df = vc.aggregate(rows=["[Customer].children", "[Status].children"])
    return df.select("region_name", "sum_price", "order_status", "sum_totalprice")


@q(
    "role_region_grant",
    f"""
    SELECT n_name AS nation_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM {_CUST_STAR}
    WHERE r_name = 'ASIA' GROUP BY 1
    """,
)
def role_region_grant(spark, sf_dir):
    """Member-grant role ('Mexico manager' analog — MondrianTest.xml:161-169):
    every query through the role engine sees only the granted region."""
    from .roles import MemberGrant, Role

    role = Role("asia_manager", grants=(MemberGrant("Customer", ("ASIA",)),))
    eng = get_engine(spark, sf_dir).with_role(role)
    df = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df
    )
    return df.select("nation_name", "sum_price")


# =====================================================================
# §2.6 set operators, §2.7 scalar functions, metadata & drilldown
# =====================================================================
@q(
    "set_union_nations",
    f"""
    SELECT nation_name, sum_qty FROM (
      SELECT n_name AS nation_name, sum(l_quantity) AS sum_qty
      FROM {_CUST_STAR} GROUP BY 1, r_name HAVING r_name = 'ASIA'
      UNION
      SELECT n_name AS nation_name, sum(l_quantity) AS sum_qty
      FROM {_CUST_STAR} GROUP BY 1, r_name HAVING r_name = 'EUROPE'
    )
    """,
)
def set_union_nations(spark, sf_dir):
    """UNION of two member-set aggregates (jar!...UnionFunDef)."""
    from .functions.sets import set_union

    def nations_of(region):
        return (
            Query(get_engine(spark, sf_dir))
            .columns("[Measures].[Sum Qty]")
            .rows(f"[Customer].[{region}].children")
            .execute()
            .df.select("nation_name", "sum_qty")
        )

    return set_union(nations_of("ASIA"), nations_of("EUROPE"))


@q(
    "set_intersect_active_nations",
    f"""
    SELECT n_name AS nation_name FROM {_CUST_STAR}
    WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT n_name AS nation_name FROM {_CUST_STAR}
    WHERE year(o_orderdate) = 2000
    """,
)
def set_intersect_active_nations(spark, sf_dir):
    """INTERSECT of member sets derived from fact slices
    (jar!...IntersectFunDef)."""
    from .functions.sets import set_intersect

    def active_in(year):
        # a columns axis is mandatory (olap4j rejects non-contiguous axes —
        # the engine now enforces it); the default non-empty grid keeps
        # "active in year" semantics: only nations with fact rows appear
        return (
            Query(get_engine(spark, sf_dir))
            .columns("[Measures].[Sum Qty]")
            .rows("[Customer].[Nation].Members")
            .where(f"[Time].[{year}]")
            .execute()
            .df.select("nation_name")
        )

    return set_intersect(active_in(1995), active_in(2000))


@q(
    "visual_totals_regions",
    f"""
    WITH nations AS (
      SELECT r_name AS region_name, n_name AS nation_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price, avg(l_quantity) AS avg_qty
      FROM {_CUST_STAR} GROUP BY 1, 2
    )
    SELECT region_name,
           CAST(sum(CAST(sum_price AS DECIMAL(18,2))) AS DOUBLE) AS visual_total
    FROM nations WHERE avg_qty > 25.5 GROUP BY 1
    """,
)
def visual_totals_regions(spark, sf_dir):
    """VisualTotals through the public API: parent totals recomputed from
    *visible* children only (jar!...VisualTotalsFunDef;
    ``query.visual_totals()``) — also demonstrates in-memory rollup of a
    finer aggregate to a coarser one without rescanning the fact
    (SURVEY.md §4 EnableInMemoryRollup).  The visible-total re-aggregation
    re-widens child cells to exact decimals, so the total is bit-identical
    across shuffle orders (and engines)."""
    grid = (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]", "[Measures].[Avg Qty]")
        .rows("[Customer].[Nation].Members")
        .filter("avg_qty > 25.5")
        .visual_totals()
        .execute()
        .df
    )
    return grid.filter(F.col("nation_name").isNull()).select(
        "region_name", F.col("sum_price").alias("visual_total")
    )


@q(
    "visualtotals_mdx_gate",
    f"""
    WITH cells AS (
      SELECT r_name AS region_name, n_name AS nation_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_price
      FROM {_CUST_STAR} GROUP BY 1, 2
    ),
    vis AS (SELECT * FROM cells WHERE sum_price > 90000000)
    SELECT region_name, nation_name, sum_price FROM vis
    UNION ALL
    SELECT region_name, 'Total ' || region_name,
           CAST(sum(CAST(sum_price AS DECIMAL(27,6))) AS DOUBLE)
    FROM vis GROUP BY 1
    """,
)
def visualtotals_mdx_gate(spark, sf_dir):
    """VISUALTOTALS(set, 'pattern') as MDX TEXT
    (jar!mondrian/olap/fun/VisualTotalsFunDef): parent totals from only
    the filter-surviving children, with the parent caption rendered into
    the child column ('*' = the parent member name)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        SELECT {[Measures].[Sum Price]} ON COLUMNS,
               VISUALTOTALS(
                 FILTER([Customer].[Nation].Members,
                        [Measures].[Sum Price] > 90000000),
                 'Total *') ON ROWS
        FROM [Sales]
        """
    ).df


@q(
    "scalar_string_math_functions",
    """
    SELECT n_name AS nation_name,
           upper(n_name) AS upper_name,
           lower(trim(n_name)) AS lower_name,
           length(n_name) AS name_len,
           instr(n_name, '_') AS underscore_pos,
           substring(n_name, 1, 6) AS name_prefix,
           replace(n_name, 'NATION', 'N') AS short_name,
           abs(-1 * n_nationkey) AS abs_key,
           round(sqrt(n_nationkey), 4) AS sqrt_key,
           round(exp(ln(n_nationkey + 1)), 6) AS exp_ln_key
    FROM nation
    """,
)
def scalar_string_math_functions(spark, sf_dir):
    """VBA/MDX scalar function library mapped to built-in Spark functions —
    UCase/LCase/Trim/InStr/Left/Mid/Len/Replace/Abs/Sqr/Exp/Log
    (SURVEY.md §2.7; jar!mondrian/olap/fun/vba/Vba)."""
    from .star import read_parquet_table

    nation = read_parquet_table(spark, f"{sf_dir}/nation.parquet")
    return nation.selectExpr(
        "n_name AS nation_name",
        "upper(n_name) AS upper_name",
        "lower(trim(n_name)) AS lower_name",
        "length(n_name) AS name_len",
        "instr(n_name, '_') AS underscore_pos",
        "substring(n_name, 1, 6) AS name_prefix",
        "replace(n_name, 'NATION', 'N') AS short_name",
        "abs(-1 * n_nationkey) AS abs_key",
        "round(sqrt(n_nationkey), 4) AS sqrt_key",
        "round(exp(ln(n_nationkey + 1)), 6) AS exp_ln_key",
    )


@q(
    "date_functions_by_year",
    """
    SELECT year(o_orderdate) AS o_year,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order,
           date_diff('day', min(o_orderdate), max(o_orderdate)) AS span_days,
           (min(o_orderdate) + INTERVAL 30 DAY)::DATE AS first_plus_30
    FROM orders GROUP BY 1
    """,
)
def date_functions_by_year(spark, sf_dir):
    """Date function family — Now/DateAdd/DateDiff/DatePart analogs
    (SURVEY.md §2.7 date row)."""
    from .star import read_parquet_table

    orders = read_parquet_table(spark, f"{sf_dir}/orders.parquet")
    return (
        orders.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .withColumn("span_days", F.datediff(F.col("last_order"), F.col("first_order")))
        .withColumn("first_plus_30", F.date_add(F.col("first_order").cast("date"), 30))
    )


@q(
    "member_properties_parts",
    """
    SELECT p_brand AS brand, p_name AS part_name,
           min(p_size) AS part_size, min(p_type) AS part_type_prop,
           min(p_retailprice) AS retail_price
    FROM part WHERE p_brand = 'Brand#11'
    GROUP BY 1, 2
    """,
)
def member_properties_parts(spark, sf_dir):
    """Member property columns carried with level members
    (schema.rb:272-284; .Properties('X') accessors §2.7)."""
    eng = get_engine(spark, sf_dir)
    df = eng.level_members("Part", 1, ("Brand#11",), include_properties=True)
    return df.select("brand", "part_name", "part_size", "part_type_prop", "retail_price")


@q(
    "member_lookup_strtomember",
    """
    SELECT DISTINCT r_name AS region_name, n_name AS nation_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND n_name = 'NATION_13'
    """,
)
def member_lookup_strtomember(spark, sf_dir):
    """StrToMember / cube.member full-name lookup with bracket parsing
    (cube.rb:106-116; jar!...StrToMemberFunDef)."""
    return get_engine(spark, sf_dir).member("[Customer].[EUROPE].[NATION_13]")


@q(
    "drilldown_member_region",
    f"""
    SELECT r_name AS region_name, CAST(NULL AS VARCHAR) AS nation_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM {_CUST_STAR} GROUP BY 1
    UNION ALL
    SELECT r_name, n_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
    FROM {_CUST_STAR} WHERE r_name = 'ASIA' GROUP BY 1, 2
    """,
)
def drilldown_member_region(spark, sf_dir):
    """DrilldownMember: parent positions plus the drilled member's children
    (jar!...DrilldownMemberFunDef) — union of the two grouping sets."""
    eng = get_engine(spark, sf_dir)
    parents = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].children")
        .execute()
        .df.withColumn("nation_name", F.lit(None).cast("string"))
        .select("region_name", "nation_name", "sum_price")
    )
    children = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[ASIA].children")
        .execute()
        .df.select("region_name", "nation_name", "sum_price")
    )
    return parents.unionByName(children)


@q(
    "parent_child_rollup",
    """
    WITH RECURSIVE cl AS (
      SELECT c_custkey AS ancestor, c_custkey AS descendant FROM customer
      UNION ALL
      SELECT cl.ancestor, c.c_custkey
      FROM cl JOIN customer c
        ON (c.c_custkey // 10) = cl.descendant AND c.c_custkey <> cl.descendant
    )
    SELECT ancestor, count(*) AS n_desc,
           round(sum(c.c_acctbal), 4) AS total_acctbal
    FROM cl JOIN customer c ON c.c_custkey = cl.descendant
    GROUP BY 1
    """,
)
def parent_child_rollup(spark, sf_dir):
    """Parent-child hierarchy rollup (schema.rb:191-197 parent_column):
    transitive closure via iterative distributed self-joins (Spark has no
    recursive CTE), then subtree aggregation through the closure table.
    The synthetic hierarchy is parent(k) = k div 10 over customer keys."""
    from .hierarchy import closure, rollup_parent_child
    from .star import read_parquet_table

    cust = read_parquet_table(spark, f"{sf_dir}/customer.parquet")
    # parent(k) = k div 10; key 0 would be its own parent -> treat as root
    # (null_parent_value semantics, schema.rb:191-197)
    edges = cust.selectExpr(
        "c_custkey AS id",
        "CASE WHEN c_custkey div 10 = c_custkey THEN NULL "
        "ELSE c_custkey div 10 END AS parent",
    )
    cl = closure(edges, "id", "parent")
    return rollup_parent_child(
        cust,
        cl,
        "c_custkey",
        [F.count("*").alias("n_desc"), F.round(F.sum("c_acctbal"), 4).alias("total_acctbal")],
    )


@q(
    "udf_scaled_revenue",
    f"""
    SELECT r_name AS region_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) * 2 + 1 AS scaled
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def udf_scaled_revenue(spark, sf_dir):
    """Python-registered MDX-style function used in a WITH MEMBER formula
    (schema_udf.rb:64-213 UDF bridge) — the documented slow path, registered
    per session and callable from any query expression."""
    from .udf import register_scalar

    register_scalar(spark, "suite_scale_fn", lambda x: x * 2 + 1 if x is not None else None)
    return (
        Query(get_engine(spark, sf_dir))
        .with_member("Scaled")
        .as_("suite_scale_fn(sum_price)", output="scaled")
        .columns("[Measures].[Sum Price]", "[Measures].[Scaled]")
        .rows("[Customer].children")
        .execute()
        .df
    )


@q(
    "empty_cells_grid",
    f"""
    WITH members AS (
      SELECT DISTINCT n_name AS supplier_nation FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
    ),
    years AS (SELECT DISTINCT year(o_orderdate) AS o_year FROM orders),
    agg AS (
      SELECT n_name AS supplier_nation, year(o_orderdate) AS o_year,
             sum(l_quantity) AS sum_qty
      FROM {_SUPP_STAR} JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R'
      GROUP BY 1, 2
    )
    SELECT m.supplier_nation, y.o_year, agg.sum_qty
    FROM members m CROSS JOIN years y
    LEFT JOIN agg ON agg.supplier_nation = m.supplier_nation AND agg.o_year = y.o_year
    """,
)
def empty_cells_grid(spark, sf_dir):
    """Empty-cell semantics (SURVEY.md §1.2): the full axis cross product
    with NULL measures where no fact rows exist — ISEMPTY operates on these
    cells; NON EMPTY (the default) drops them."""
    eng = get_engine(spark, sf_dir)
    df = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Supplier].children")
        .crossjoin("[Time].[Year].Members")
        .where("[ReturnFlag].[R]")
        .include_empty()
        .execute()
        .df
    )
    return df.select("supplier_nation", "o_year", "sum_qty")


@q(
    "nested_filter_crossjoin",
    f"""
    WITH qualifying AS (
      SELECT n_name
      FROM {_CUST_STAR}
      GROUP BY 1
      HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) > 130000000
    )
    SELECT l_returnflag AS return_flag, n_name AS nation_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM {_CUST_STAR}
    WHERE n_name IN (SELECT n_name FROM qualifying)
    GROUP BY 1, 2
    """,
)
def nested_filter_crossjoin(spark, sf_dir):
    """Nested set function as a CROSSJOIN argument, from MDX text:
    FILTER evaluates per member of ITS set in the slicer context (the
    qualifying-member semi-join), then crosses — Mondrian nested-set
    evaluation (jar!mondrian/olap/fun/FilterFunDef; verdict item: MDX
    parser depth)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Price] ON COLUMNS, "
        "CROSSJOIN([ReturnFlag].children, "
        "  FILTER([Customer].[Nation].Members, [Measures].[Sum Price] > 130000000)) ON ROWS "
        "FROM [Sales]"
    ).df.select("return_flag", "nation_name", "sum_price")


@q(
    "exists_customers_q1",
    f"""
    WITH star AS (
      SELECT r_name, n_name, c_name, l_quantity, o_orderdate FROM {_CUST_STAR}
    )
    SELECT r_name AS region_name, n_name AS nation_name,
           c_name AS customer_name, sum(l_quantity) AS sum_qty
    FROM star
    WHERE c_name IN (
      SELECT DISTINCT c_name FROM star
      WHERE year(o_orderdate) = 1995 AND 'Q' || quarter(o_orderdate) = 'Q1'
    )
    GROUP BY 1, 2, 3
    """,
)
def exists_customers_q1(spark, sf_dir):
    """EXISTS(set1, set2) as an explicit operator
    (jar!mondrian/olap/fun/ExistsFunDef): customers with any Q1-1995 fact
    rows — the member set filters, the measures aggregate over ALL time.
    Planned as a distinct member lookup + broadcast semi-join, from MDX."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXISTS([Customer].[Customer].Members, {[Time].[1995].[Q1]}) ON ROWS "
        "FROM [Sales]"
    ).df


@q(
    "mixed_depth_axis",
    f"""
    SELECT r_name AS region_name, CAST(NULL AS VARCHAR) AS nation_name,
           sum(l_quantity) AS sum_qty
    FROM {_CUST_STAR} WHERE r_name = 'ASIA' GROUP BY 1
    UNION ALL
    SELECT r_name AS region_name, n_name AS nation_name,
           sum(l_quantity) AS sum_qty
    FROM {_CUST_STAR} WHERE r_name = 'EUROPE' AND n_name = 'NATION_13'
    GROUP BY 1, 2
    """,
)
def mixed_depth_axis(spark, sf_dir):
    """Mixed-depth axis set {[Region], [Nation]} — members at different
    levels union on one axis; the shallower member carries NULL in the
    deeper level columns (SetFunDef union-of-levels; SURVEY.md §2.6)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[ASIA]", "[Customer].[EUROPE].[NATION_13]")
        .execute()
        .df
    )


@q(
    "filter_nonempty_grid",
    f"""
    SELECT n_name AS supplier_nation, year(o_orderdate) AS o_year,
           sum(l_quantity) AS sum_qty
    FROM {_SUPP_STAR} JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY 1, 2
    """,
)
def filter_nonempty_grid(spark, sf_dir):
    """filter_nonempty (query.rb:93-95 — FILTER(set AS S, NOT
    ISEMPTY(S.CURRENT))): expanding the grid to empty cells and then
    filtering them out is the identity on the non-empty aggregation — the
    oracle is the plain GROUP BY."""
    eng = get_engine(spark, sf_dir)
    df = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Supplier].children")
        .crossjoin("[Time].[Year].Members")
        .where("[ReturnFlag].[R]")
        .include_empty()
        .filter_nonempty()
        .execute()
        .df
    )
    return df.select("supplier_nation", "o_year", "sum_qty")


@q(
    "filter_last_regions",
    f"""
    WITH cells AS (
      SELECT r_name AS region_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM {_CUST_STAR}
      WHERE r_name IN ('ASIA', 'EUROPE', 'AFRICA')
      GROUP BY 1
    )
    SELECT region_name, sum_price FROM cells
    WHERE region_name IN ('ASIA', 'EUROPE') OR sum_price > 400000000
    """,
)
def filter_last_regions(spark, sf_dir):
    """filter_last (query.rb:86-91): the condition applies only to the last
    set added to the axis ({ASIA, EUROPE, FILTER(AFRICA, cond)}); earlier
    sets pass through unconditionally."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[ASIA]", "[Customer].[EUROPE]", "[Customer].[AFRICA]")
        .filter_last("sum_price > 400000000")
        .execute()
        .df
    )


@q(
    "generate_children_drill",
    f"""
    SELECT n_name AS nation_name, sum(l_quantity) AS sum_qty
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def generate_children_drill(spark, sf_dir):
    """GENERATE(set, [Dim].CurrentMember.Children) — per-member drilldown
    composed through the Generate set form (query.rb:97-108;
    jar!mondrian/olap/fun/GenerateFunDef), executed from MDX text."""
    eng = get_engine(spark, sf_dir)
    df = eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "GENERATE([Customer].[Region].Members, [Customer].CurrentMember.Children) ON ROWS "
        "FROM [Sales]"
    ).df
    return df.select("nation_name", "sum_qty")


@q(
    "pages_axis_3d",
    f"""
    SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
           o_orderpriority AS order_priority,
           sum(l_quantity) AS sum_qty, count(l_orderkey) AS count_order
    FROM {_ORD_STAR} GROUP BY 1, 2, 3
    """,
)
def pages_axis_3d(spark, sf_dir):
    """Third axis (PAGES — query.rb:23-45 five named axes): grouping columns
    from three axes in one aggregation pass."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
        .rows("[ReturnFlag].children")
        .crossjoin("[LineStatus].children")
        .pages("[Priority].children")
        .execute()
        .df
    )


@q(
    "weekly_hierarchy_totals",
    f"""
    SELECT year(o_orderdate) AS w_year, weekofyear(o_orderdate) AS w_week,
           sum(l_quantity) AS sum_qty
    FROM {_ORD_STAR}
    WHERE year(o_orderdate) = 1999
    GROUP BY 1, 2
    """,
)
def weekly_hierarchy_totals(spark, sf_dir):
    """Second hierarchy on the time axis (Time.Weekly — two-hierarchy
    example /root/reference/test/mondrian_test.rb:54-68): Year > ISO Week."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]")
        .rows("[TimeWeekly].[Week].Members")
        .where("[TimeWeekly].[1999]")
        .execute()
        .df
    )


@q(
    "currentdate_member",
    """
    SELECT max(year(o_orderdate)) AS latest_year,
           count(DISTINCT year(o_orderdate)) AS n_years
    FROM orders WHERE year(o_orderdate) <= year(current_date)
    """,
)
def currentdate_member(spark, sf_dir):
    """CurrentDateMember analog (test/schema_definition_test.rb:580-583):
    the latest time member not after today, resolved against the dimension."""
    eng = get_engine(spark, sf_dir)
    years = eng.level_members("Time", 0)
    return years.filter("o_year <= year(current_date())").agg(
        F.max("o_year").alias("latest_year"),
        F.count_distinct("o_year").alias("n_years"),
    )


@q(
    "dimension_calc_member_mdx",
    f"""
    WITH base AS (
      SELECT year(o_orderdate) AS o_year, 'Q' || quarter(o_orderdate) AS o_quarter,
             l_quantity, l_extendedprice
      FROM {_ORD_STAR}
    )
    SELECT o_year, o_quarter, sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM base GROUP BY 1, 2
    UNION ALL
    SELECT 1996, 'H1-1996', sum(l_quantity), CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
    FROM base WHERE o_year = 1996 AND o_quarter IN ('Q1', 'Q2')
    """,
)
def dimension_calc_member_mdx(spark, sf_dir):
    """Calculated member on a non-Measures dimension through the MDX entry
    point: Aggregate({Q1,Q2}) synthesised onto the Time axis
    (schema.rb:314-341; cube_test.rb:48-51)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Time].[H1-1996] AS 'Aggregate({[Time].[1996].[Q1], [Time].[1996].[Q2]})'
        SELECT {[Measures].[Sum Qty], [Measures].[Sum Price]} ON COLUMNS,
               [Time].[Quarter].Members ON ROWS
        FROM [Sales]
        """
    ).df


@q(
    "drilldown_level_top",
    f"""
    WITH star AS (SELECT r_name, n_name, l_quantity FROM {_CUST_STAR})
    SELECT r_name AS region_name, CAST(NULL AS VARCHAR) AS nation_name,
           sum(l_quantity) AS sum_qty
    FROM star GROUP BY 1
    UNION ALL
    SELECT region_name, nation_name, sum_qty FROM (
      SELECT r_name AS region_name, n_name AS nation_name,
             sum(l_quantity) AS sum_qty,
             row_number() OVER (PARTITION BY r_name
                                ORDER BY sum(l_quantity) DESC, n_name) AS rn
      FROM star GROUP BY 1, 2
    ) WHERE rn <= 2
    """,
)
def drilldown_level_top(spark, sf_dir):
    """DrilldownLevelTop: every region plus its top-2 nations by Sum Qty
    (jar!mondrian/olap/fun/DrilldownLevelTopBottomFunDef), from MDX text
    with the empty optional-level slot."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DRILLDOWNLEVELTOP([Customer].[Region].Members, 2, , [Measures].[Sum Qty]) ON ROWS "
        "FROM [Sales]"
    ).df


@q(
    "dimension_formula_member",
    f"""
    WITH star AS (
      SELECT r_name, l_quantity FROM {_CUST_STAR}
    )
    SELECT r_name AS region_name, sum(l_quantity) AS sum_qty
    FROM star GROUP BY 1
    UNION ALL
    SELECT 'Non-ASIA', sum(l_quantity) FROM star WHERE r_name <> 'ASIA'
    """,
)
def dimension_formula_member(spark, sf_dir):
    """Formula calculated member on a non-Measures dimension:
    [Customer].[Non-ASIA] = All - ASIA (schema.rb:314-341 calculated_member
    with formula; cube_test.rb:48-51), via the MDX entry point.  Quantity
    sums are whole numbers in double, so the member-cell arithmetic is
    bit-exact on both sides."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Customer].[Non-ASIA] AS '[Customer].[All] - [Customer].[ASIA]'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               [Customer].[Region].Members ON ROWS
        FROM [Sales]
        """
    ).df


@q(
    "member_range_years",
    f"""
    SELECT year(o_orderdate) AS o_year, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM {_ORD_STAR}
    WHERE year(o_orderdate) BETWEEN 1996 AND 1999
    GROUP BY 1
    """,
)
def member_range_years(spark, sf_dir):
    """Member range a:b resolved against the level's ordered member list
    (jar!mondrian/olap/fun/RangeFunDef)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Price] ON COLUMNS, "
        "[Time].[1996]:[Time].[1999] ON ROWS FROM [Sales]"
    ).df


@q(
    "drilldown_operator_month",
    f"""
    SELECT year(o_orderdate) AS o_year, CAST(NULL AS VARCHAR) AS o_quarter,
           sum(l_quantity) AS sum_qty
    FROM {_ORD_STAR} GROUP BY 1
    UNION ALL
    SELECT year(o_orderdate), 'Q' || quarter(o_orderdate), sum(l_quantity)
    FROM {_ORD_STAR} WHERE year(o_orderdate) = 1997 GROUP BY 1, 2
    """,
)
def drilldown_operator_month(spark, sf_dir):
    """DrilldownMember as a first-class builder operator: years plus 1997's
    quarters with NULL quarter on parent rows (jar!...DrilldownMemberFunDef)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]")
        .rows("[Time].[Year].Members")
        .drilldown("[Time].[1997]")
        .execute()
        .df
    )


@q(
    "member_captions_suppliers",
    """
    SELECT n_name AS supplier_nation, s_name AS supplier_name,
           s_name || ' (' || n_name || ')' AS supplier_name_caption
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1, 2, 3
    """,
)
def member_captions_suppliers(spark, sf_dir):
    """Member captions distinct from keys (schema.rb:176-190 name/caption
    columns; .Caption accessor §2.7)."""
    eng = get_engine(spark, sf_dir)
    return eng.level_members("Supplier", 1, include_properties=True)


@q(
    "namedset_rank_filter",
    f"""
    WITH g AS (
      SELECT r_name AS region_name, n_name AS nation_name,
             sum(l_quantity) AS sum_qty
      FROM {_CUST_STAR} GROUP BY 1, 2
    )
    SELECT region_name, nation_name, sum_qty FROM (
      SELECT g.*, rank() OVER (ORDER BY sum_qty DESC) AS rk FROM g
    ) WHERE rk <= 5
    """,
)
def namedset_rank_filter(spark, sf_dir):
    """Named-set self-reference: RANK(NS.Current, NS, expr) inside a FILTER
    over the same set (query_test.rb:635-644; jar!mondrian/mdx/NamedSetExpr,
    fun/RankFunDef) — planned as one rank() window over the axis grid."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH SET NS AS '[Customer].[Nation].Members'
        SELECT [Measures].[Sum Qty] ON COLUMNS,
               FILTER(NS, RANK(NS.Current, NS, [Measures].[Sum Qty]) <= 5) ON ROWS
        FROM [Sales]
        """
    ).df


@q(
    "toggle_drill_state_year",
    f"""
    SELECT year(o_orderdate) AS o_year, CAST(NULL AS VARCHAR) AS o_quarter,
           sum(l_quantity) AS sum_qty
    FROM {_ORD_STAR} GROUP BY 1
    UNION ALL
    SELECT year(o_orderdate), 'Q' || quarter(o_orderdate), sum(l_quantity)
    FROM {_ORD_STAR} WHERE year(o_orderdate) = 1996 GROUP BY 1, 2
    """,
)
def toggle_drill_state_year(spark, sf_dir):
    """ToggleDrillState from MDX text: an undrilled member toggles to
    drilled — years plus 1996's quarters
    (jar!mondrian/olap/fun/ToggleDrillStateFunDef)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOGGLEDRILLSTATE([Time].[Year].Members, {[Time].[1996]}) ON ROWS "
        "FROM [Sales]"
    ).df


@q(
    "drillthrough_grouped",
    f"""
    SELECT n_name AS nation_name, sum(l_quantity) AS sum_qty,
           count(l_orderkey) AS count_order
    FROM {_CUST_STAR}
    WHERE year(o_orderdate) = 1995 AND 'Q' || quarter(o_orderdate) = 'Q1'
    GROUP BY 1
    """,
)
def drillthrough_grouped(spark, sf_dir):
    """Aggregated drill-through (result.rb group_by option,
    query_test.rb:999-1029): measure fields aggregate over the RETURN grain
    instead of returning raw fact rows."""
    eng = get_engine(spark, sf_dir)
    return eng.drill_through(
        ["[Time].[1995].[Q1]"],
        [
            ("nation_name", "[Customer].[Nation]"),
            ("sum_qty", "l_quantity"),
            ("count_order", "l_orderkey"),
        ],
        group_by=True,
    )


@q(
    "linreg_variance_point",
    """
    WITH u AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100
                  AS DECIMAL(18,0)) AS xi,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                  AS DECIMAL(18,0)) AS yi
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag AS return_flag,
             count(*) AS n,
             CAST(sum(xi) AS DOUBLE) AS sx,
             CAST(sum(yi) AS DOUBLE) AS sy,
             CAST(sum(xi * xi) AS DOUBLE) AS sxx,
             CAST(sum(yi * yi) AS DOUBLE) AS syy,
             CAST(sum(xi * yi) AS DOUBLE) AS sxy
      FROM u GROUP BY 1
    )
    SELECT return_flag,
           ((syy - sy*sy/n)
             - (sxy - sx*sy/n) * (sxy - sx*sy/n) / (sxx - sx*sx/n))
             / 10000.0 AS resid_ss,
           (sxy - sx*sy/n) / (sxx - sx*sx/n) * 25.0
             + (sy/n/100.0 - (sxy - sx*sy/n) / (sxx - sx*sx/n)
                * (sx/n/100.0)) AS point_at_25
    FROM m
    """,
)
def linreg_variance_point(spark, sf_dir):
    """LinRegVariance (residual sum of squares of the least-squares fit —
    mondrian_test.rb:689-760) and LinRegPoint(x0) = slope·x0 + intercept
    (jar!mondrian/olap/fun/LinReg$PointFunDef), decimal-moment exact."""
    eng = get_engine(spark, sf_dir)
    y = "CAST(l_extendedprice AS DECIMAL(12,2))"
    x = "CAST(l_quantity AS DECIMAL(12,2))"
    return set_aggregate(
        eng.fact,
        ["return_flag"],
        [
            ("resid_ss", "linregvariance", y, x),
            ("point_at_25", "linregpoint", y, x, 25.0),
        ],
    )


@q(
    "matches_regex_filter",
    f"""
    SELECT r_name AS region_name, n_name AS nation_name,
           sum(l_quantity) AS sum_qty
    FROM {_CUST_STAR}
    WHERE regexp_matches(n_name, '^NATION_1[0-9]$')
    GROUP BY 1, 2
    """,
)
def matches_regex_filter(spark, sf_dir):
    """MATCHES regex predicate on member names (schema_element MATCHES →
    Spark rlike; SURVEY.md §2.2)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .filter("nation_name rlike '^NATION_1[0-9]$'")
        .execute()
        .df
    )


@q(
    "extract_hierarchy",
    f"""
    SELECT DISTINCT n_name AS nation_name
    FROM {_CUST_STAR}
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#11'
    """,
)
def extract_hierarchy(spark, sf_dir):
    """EXTRACT(set, hierarchy): project a crossjoin grid onto one
    hierarchy's tuples (jar!mondrian/olap/fun/ExtractFunDef)."""
    from .functions.sets import extract

    grid = (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .crossjoin("[Part].[Brand].Members")
        .execute()
        .df
        .filter("brand = 'Brand#11'")
    )
    return extract(grid, "nation_name")


@q(
    "sql_view_fact",
    """
    SELECT n_name AS geo_nation, count(s_suppkey) AS supplier_count
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_acctbal > 1000
    GROUP BY 1
    """,
)
def sql_view_fact(spark, sf_dir):
    """SQL view as the fact table (schema.rb View/SQL element,
    schema_definition_test.rb:171-193): the cube runs over SQL text whose
    scan Catalyst inlines (pushdown reaches the base parquet)."""
    from .model import Cube, Dimension, Level, Measure
    from .sources.registry import with_sql_views
    from .star import CubeEngine, read_parquet_table

    base = {
        "supplier": read_parquet_table(spark, f"{sf_dir}/supplier.parquet"),
        "nation": read_parquet_table(spark, f"{sf_dir}/nation.parquet"),
    }
    tables = with_sql_views(
        spark, base, {"rich_suppliers": "SELECT * FROM supplier WHERE s_acctbal > 1000"}
    )
    cube = Cube(
        name="RichSuppliers",
        fact="rich_suppliers",
        dimensions=(
            Dimension(
                name="Geo",
                foreign_key="s_nationkey",
                table="nation",
                primary_key="n_nationkey",
                levels=(Level("Nation", "n_name", output="geo_nation"),),
                guaranteed_small=True,
            ),
        ),
        measures=(
            Measure("Supplier Count", "s_suppkey", "count", output="supplier_count"),
        ),
    )
    return (
        Query(CubeEngine(cube, tables))
        .columns("[Measures].[Supplier Count]")
        .rows("[Geo].[Nation].Members")
        .execute()
        .df
    )


@q(
    "descendants_months_mdx",
    f"""
    SELECT year(o_orderdate) AS o_year,
           'Q' || quarter(o_orderdate) AS o_quarter,
           month(o_orderdate) AS o_month,
           sum(l_quantity) AS sum_qty
    FROM {_ORD_STAR}
    WHERE year(o_orderdate) = 1995
    GROUP BY 1, 2, 3
    """,
)
def descendants_months_mdx(spark, sf_dir):
    """DESCENDANTS(member, level) from MDX text (DescendantsFunDef; the
    chained-.Children lowering)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DESCENDANTS([Time].[1995], [Time].[Month]) ON ROWS FROM [Sales]"
    ).df


@q(
    "tuple_case_contextual",
    f"""
    WITH star AS (
      SELECT year(o_orderdate) AS y, l_quantity, r_name FROM {_CUST_STAR}
    ),
    base AS (SELECT y AS o_year, sum(l_quantity) AS sum_qty FROM star GROUP BY 1),
    asia AS (SELECT y AS o_year, sum(l_quantity) AS q FROM star WHERE r_name = 'ASIA' GROUP BY 1),
    africa AS (SELECT y AS o_year, sum(l_quantity) AS q FROM star WHERE r_name = 'AFRICA' GROUP BY 1)
    SELECT b.o_year, b.sum_qty,
           CASE WHEN b.sum_qty > 50000 THEN a.q ELSE f.q END AS asia_or_africa
    FROM base b LEFT JOIN asia a USING (o_year) LEFT JOIN africa f USING (o_year)
    """,
)
def tuple_case_contextual(spark, sf_dir):
    """Tuple-valued CASE results (mondrian_test.rb:361-380): branches return
    ([Measures].[Sum Qty], [Customer].[REGION]) tuples — the measure with
    Customer's context overridden, per-year otherwise.  Lowered to member-
    scoped sub-aggregates broadcast-joined onto the grid
    (plan._attach_tuple_scalar)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Asia Or Africa] AS
          'CASE WHEN [Measures].[Sum Qty] > 50000
                THEN ([Measures].[Sum Qty], [Customer].[ASIA])
                ELSE ([Measures].[Sum Qty], [Customer].[AFRICA]) END'
        SELECT {[Measures].[Sum Qty], [Measures].[Asia Or Africa]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "tuple_item_implicit_measure",
    f"""
    WITH star AS (
      SELECT year(o_orderdate) AS y, l_quantity, r_name FROM {_CUST_STAR}
    ),
    base AS (SELECT y AS o_year, sum(l_quantity) AS sum_qty FROM star GROUP BY 1),
    asia AS (SELECT y AS o_year, sum(l_quantity) AS q FROM star WHERE r_name = 'ASIA' GROUP BY 1)
    SELECT b.o_year, b.sum_qty,
           a.q AS implicit_asia,
           b.sum_qty AS picked_qty
    FROM base b LEFT JOIN asia a USING (o_year)
    """,
)
def tuple_item_implicit_measure(spark, sf_dir):
    """The last two MDX-surface gaps in one grid (mondrian_test.rb:361-397
    family): a tuple with NO [Measures] component — ([Customer].[ASIA]) —
    resolves its Measures context via the cube's default measure (Sum Qty;
    Cube defaultMeasure, schema.rb:61), and a bare CASE … END.Item(0) used
    as a VALUE evaluates the winning branch's indexed tuple component as a
    cell value in the per-row context."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Implicit Asia] AS '([Customer].[ASIA])'
             MEMBER [Measures].[Picked Qty] AS
          'CASE 1 WHEN 1 THEN ([Measures].[Sum Qty], [Customer].[EUROPE])
                  ELSE ([Measures].[Count Order], [Customer].[AFRICA]) END.Item(0)'
        SELECT {[Measures].[Sum Qty], [Measures].[Implicit Asia],
                [Measures].[Picked Qty]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "object_accessor_metadata",
    f"""
    SELECT r_name AS region_name, sum(l_quantity) AS sum_qty,
           'Customer/Region/Sum Qty#1' AS meta_tag
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def object_accessor_metadata(spark, sf_dir):
    """Object-accessor MDX surface (DimensionDimensionFunDef,
    LevelLevelFunDef, DimensionsStringFunDef): .Dimension.Name /
    .Level.Name / measure .Name / level .Ordinal fold to metadata
    constants inside a formula."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Meta Tag] AS
          'concat([Customer].[ASIA].Dimension.Name, ''/'',
                  [Customer].[ASIA].Level.Name, ''/'',
                  [Measures].[Sum Qty].Name, ''#'',
                  CAST(Dimensions(''Customer'').[Nation].Ordinal AS STRING))'
        SELECT {[Measures].[Sum Qty], [Measures].[Meta Tag]} ON COLUMNS,
               [Customer].[Region].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "strtotuple_slicer",
    f"""
    SELECT l_returnflag AS return_flag, sum(l_quantity) AS sum_qty
    FROM {_CUST_STAR}
    WHERE r_name = 'ASIA' AND year(o_orderdate) = 1995
    GROUP BY 1
    """,
)
def strtotuple_slicer(spark, sf_dir):
    """StrToTuple in the WHERE clause (jar!mondrian/olap/fun/
    StrToTupleFunDef): the quoted tuple string parses into the ordinary
    cross-dimension slicer AND."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, [ReturnFlag].children ON ROWS "
        "FROM [Sales] WHERE StrToTuple('([Customer].[ASIA], [Time].[1995])')"
    ).df


@q(
    "locale_caption_members",
    """
    SELECT r_name AS region_name, 'Region ' || r_name AS region_name_caption
    FROM region
    """,
)
def locale_caption_members(spark, sf_dir):
    """Localized member captions (connection.rb:213-223 locale surface):
    a German caption expression is selected when the engine runs under
    locale de_DE (bare-language fallback)."""
    import dataclasses

    from .star import engine_from_parquet
    from .tpch import SCHEMA

    sales = SCHEMA.cube("Sales")
    cust = sales.dimension("Customer")
    lv0 = dataclasses.replace(
        cust.levels[0],
        caption_locales=(("de", "concat('Region ', r_name)"),),
    )
    cust2 = dataclasses.replace(cust, levels=(lv0,) + cust.levels[1:])
    sales2 = dataclasses.replace(
        sales,
        dimensions=tuple(
            cust2 if d.name == "Customer" else d for d in sales.dimensions
        ),
    )
    schema2 = dataclasses.replace(
        SCHEMA,
        cubes=tuple(sales2 if c.name == "Sales" else c for c in SCHEMA.cubes),
    )
    eng = engine_from_parquet(spark, schema2, "Sales", sf_dir).with_locale("de_DE")
    return eng.level_members("Customer", 0, include_properties=True).select(
        "region_name", "region_name_caption"
    )


@q(
    "family_navigation_firstchild",
    f"""
    SELECT year(o_orderdate) AS o_year, 'Q' || quarter(o_orderdate) AS o_quarter,
           sum(l_quantity) AS sum_qty
    FROM {_ORD_STAR}
    WHERE year(o_orderdate) = 1995 AND quarter(o_orderdate) = 1
    GROUP BY 1, 2
    """,
)
def family_navigation_firstchild(spark, sf_dir):
    """FirstChild navigation resolved through the ordinal-ordered edge
    lookup (jar!mondrian/olap/fun/... FirstChild; engine.edge_member —
    one row to the driver, visibility-filtered)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "[Time].[1995].FirstChild ON ROWS FROM [Sales]"
    ).df


@q(
    "parameter_scaled_measure",
    f"""
    SELECT r_name AS region_name, sum(l_quantity) AS sum_qty,
           sum(l_quantity) * 3 AS scaled_qty
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def parameter_scaled_measure(spark, sf_dir):
    """Typed Parameter with default in a formula
    (test/schema_definition_test.rb:1298-1427; ParameterFunDef): the
    default value folds into the calc-member expression."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Scaled Qty] AS
          '[Measures].[Sum Qty] * Parameter("factor", NUMERIC, 3)'
        SELECT {[Measures].[Sum Qty], [Measures].[Scaled Qty]} ON COLUMNS,
               [Customer].[Region].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "tuple_item_name",
    f"""
    SELECT year(o_orderdate) AS o_year, sum(l_quantity) AS sum_qty,
           CASE WHEN sum(l_quantity) > 50000 THEN 'ASIA' ELSE 'AFRICA' END
             AS picked_region
    FROM {_ORD_STAR} GROUP BY 1
    """,
)
def tuple_item_name(spark, sf_dir):
    """CASE … END.Item(i).Name over tuple branches
    (mondrian_test.rb:388-397): the winning tuple's i-th component NAME
    per row."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Picked Region] AS
          'CASE WHEN [Measures].[Sum Qty] > 50000
                THEN ([Measures].[Sum Qty], [Customer].[ASIA])
                ELSE ([Measures].[Sum Qty], [Customer].[AFRICA]) END.Item(1).Name'
        SELECT {[Measures].[Sum Qty], [Measures].[Picked Region]} ON COLUMNS,
               [Time].[Year].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "measures_allmembers",
    f"""
    WITH base AS (
      SELECT r_name AS region_name,
             sum(l_quantity) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(1,0)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(1,0)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
             avg(l_quantity) AS avg_qty,
             (CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(l_extendedprice)) AS avg_price,
             (CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / count(l_discount)) AS avg_disc,
             count(l_orderkey) AS count_order,
             count(DISTINCT l_partkey) AS distinct_parts,
             count(DISTINCT l_suppkey) AS distinct_suppliers,
             min(l_extendedprice) AS min_price,
             max(l_extendedprice) AS max_price,
             CAST(sum(CASE WHEN l_discount > 0.05 THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS high_disc_revenue,
             count(nullif(l_discount, 0.0)) AS nonzero_disc_count
      FROM {_CUST_STAR} GROUP BY 1
    ),
    calc1 AS (
      SELECT *, sum_price - sum_disc_price AS discount_amount,
             sum_price / count_order AS avg_item_value
      FROM base
    )
    SELECT *, discount_amount / sum_price AS discount_share FROM calc1
    """,
)
def measures_allmembers(spark, sf_dir):
    """AddCalculatedMembers([Measures].Members): every base measure plus
    the schema's calculated members on one axis
    (AddCalculatedMembersFunDef; the Members/AllMembers split).  The
    approx-distinct (HLL) measure is projected out — its value is
    engine-specific by construction and covered by its own rows-only
    check."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT AddCalculatedMembers([Measures].Members) ON COLUMNS, "
        "[Customer].[Region].Members ON ROWS FROM [Sales]"
    ).df.drop("approx_parts")


@q(
    "approx_distinct_parts",
    f"""
    SELECT r_name AS region_name,
           count(DISTINCT l_partkey) AS distinct_parts,
           TRUE AS approx_within_5pct
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def approx_distinct_parts(spark, sf_dir):
    """approx-distinct-count measure (the HLL opt-in variant —
    SURVEY.md §2.4 'approx only as opt-in'; Spark approx_count_distinct).

    The raw HLL estimate is engine-specific, so the hash-comparable
    contract is exact count + a relative-error assertion computed from
    the live HLL value (measured error 2.1-3.0% at sf0.01/sf0.1 under
    the default rsd=0.05; the 5% bound is the documented guarantee, not
    a tuned constant).  The oracle asserts the bound as literal TRUE —
    a drifting HLL implementation turns the row red instead of being
    invisible to the gate."""
    df = (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Approx Parts]", "[Measures].[Distinct Parts]")
        .rows("[Customer].[Region].Members")
        .execute()
        .df
    )
    return df.select(
        "region_name",
        "distinct_parts",
        (
            F.abs(F.col("approx_parts") - F.col("distinct_parts"))
            / F.col("distinct_parts")
            <= F.lit(0.05)
        ).alias("approx_within_5pct"),
    )


@q(
    "vba_function_names",
    f"""
    SELECT r_name AS region_name, n_name AS nation_name,
           sum(l_quantity) AS sum_qty,
           round(sqrt(sum(l_quantity)), 6) AS sqr_qty,
           substring(n_name, 1, 6) AS mid_name,
           CAST(sign(sum(l_quantity) - 50000) AS INT) AS sgn_qty,
           round(atan(sum(l_quantity) / 10000), 6) AS atn_qty,
           ascii(n_name) AS asc_first,
           upper(lower(n_name)) AS roundtrip_name
    FROM {_CUST_STAR} GROUP BY 1, 2
    """,
)
def vba_function_names(spark, sf_dir):
    """VBA function NAMES in MDX formulas (jar!mondrian/olap/fun/vba/Vba;
    SURVEY.md §2.7): Sqr/Mid/Sgn/Atn/Asc alias to Spark builtins at
    translation time; UCase/LCase pass through (Spark has them natively)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Sqr Qty] AS 'round(Sqr(sum_qty), 6)'
             MEMBER [Measures].[Mid Name] AS 'Mid(nation_name, 1, 6)'
             MEMBER [Measures].[Sgn Qty] AS 'Sgn(sum_qty - 50000)'
             MEMBER [Measures].[Atn Qty] AS 'round(Atn(sum_qty / 10000), 6)'
             MEMBER [Measures].[Asc First] AS 'Asc(nation_name)'
             MEMBER [Measures].[Roundtrip Name] AS 'UCase(LCase(nation_name))'
        SELECT {[Measures].[Sum Qty], [Measures].[Sqr Qty], [Measures].[Mid Name],
                [Measures].[Sgn Qty], [Measures].[Atn Qty], [Measures].[Asc First],
                [Measures].[Roundtrip Name]} ON COLUMNS,
               [Customer].[Nation].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "vba_val_round_dateserial",
    f"""
    SELECT r_name AS region_name,
           round(CAST(avg(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE))
             AS round_avg_price,
           round((CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                  - sum(l_quantity))
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE),
                 6) AS val_margin,
           DATE '1970-01-01' AS epoch_date
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def vba_val_round_dateserial(spark, sf_dir):
    """Val / Round / DateSerial VBA functions (mondrian_test.rb:264-269
    Round(measure) == rounded measure; query_test.rb:343-358 Val(profit
    margin); mondrian_test.rb:520-531 DateSerial inside CoalesceEmpty):
    Round resolves to Spark's native half-away-from-zero round (the
    reference pins Ruby Float#round semantics on positive values), Val
    dispatches numeric-vs-string via a try_cast chain, DateSerial lowers
    to make_date."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Round Avg Price] AS 'Round(avg_price)'
             MEMBER [Measures].[Val Margin] AS
               'round(Val((sum_price - sum_qty) / sum_price), 6)'
             MEMBER [Measures].[Epoch Date] AS
               'CoalesceEmpty(DateSerial(1970, 1, 1), DateSerial(2000, 1, 1))'
        SELECT {[Measures].[Round Avg Price], [Measures].[Val Margin],
                [Measures].[Epoch Date]} ON COLUMNS,
               [Customer].[Region].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "ragged_hierarchy_members",
    """
    WITH rn AS (
      SELECT r_regionkey, r_name,
             CASE WHEN n_nationkey % 5 = 0 THEN '' ELSE n_name END AS city
      FROM nation JOIN region ON n_regionkey = r_regionkey
    )
    SELECT r_name AS region_name, city AS city_name
    FROM rn WHERE city IS NOT NULL AND city <> ''
    GROUP BY 1, 2
    """,
)
def ragged_hierarchy_members(spark, sf_dir):
    """Ragged hierarchy via hide_member_if='IfBlankName'
    (schema.rb:222-230): blank member keys are invisible in member lists;
    the blanks are injected through a SQL-view table so the shape is
    driver-checkable on the standard testdata."""
    from .model import Cube, Dimension, Level, Measure
    from .sources.registry import with_sql_views
    from .star import CubeEngine, read_parquet_table

    base = {
        t: read_parquet_table(spark, f"{sf_dir}/{t}.parquet")
        for t in ("nation", "region", "supplier")
    }
    tables = with_sql_views(
        spark,
        base,
        {
            "ragged_nation": (
                "SELECT n_nationkey, n_regionkey, r_name, "
                "CASE WHEN n_nationkey % 5 = 0 THEN '' ELSE n_name END AS city "
                "FROM nation JOIN region ON n_regionkey = r_regionkey"
            )
        },
    )
    cube = Cube(
        name="Ragged",
        fact="supplier",
        dimensions=(
            Dimension(
                name="Geo",
                foreign_key="s_nationkey",
                table="ragged_nation",
                primary_key="n_nationkey",
                levels=(
                    Level("Region", "r_name", output="region_name"),
                    Level(
                        "City", "city", output="city_name",
                        hide_member_if="IfBlankName",
                    ),
                ),
                guaranteed_small=True,
            ),
        ),
        measures=(
            Measure("Suppliers", "s_suppkey", "count", output="suppliers"),
        ),
    )
    eng = CubeEngine(cube, tables)
    return eng.level_members("Geo", 1)


@q(
    "format_strings_gate",
    f"""
    WITH v AS (
      SELECT r_name AS region_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sp
      FROM {_CUST_STAR} GROUP BY 1
    )
    SELECT region_name,
           format('{{:,}}', CAST(floor(sp) AS BIGINT)) || '.' ||
           lpad(CAST(CAST(round((sp - floor(sp)) * 100) AS INT) AS VARCHAR), 2, '0')
             AS pretty_price
    FROM v
    """,
)
def format_strings_gate(spark, sf_dir):
    """VBA format strings in the driver gate (jar!mondrian/util/Format;
    formats.py): '#,##0.00' formatting of exact-decimal sums compared
    against DuckDB's fmt-library rendering of the same doubles.
    Formatting is a driver-side presentation concern, so the formatted
    grid re-enters Spark as a literal DataFrame for the comparison."""
    from .formats import format_value

    eng = get_engine(spark, sf_dir)
    r = (
        Query(eng)
        .columns("[Measures].[Sum Price]")
        .rows("[Customer].[Region].Members")
        .execute()
    )
    data = [
        (x["region_name"], format_value(x["sum_price"], "#,##0.00"))
        for x in r.df.collect()
    ]
    return fsio.tiny_df(spark, data, "region_name string, pretty_price string")


@q(
    "aggregate_routing_gate",
    f"""
    SELECT r_name AS region_name, sum(l_quantity) AS sum_qty
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def aggregate_routing_gate(spark, sf_dir):
    """Aggregate-table ROUTING in the driver gate (AggName matcher analog,
    schema.rb:374-414): a nation-grain summary is materialized (eager
    localCheckpoint cuts the fact lineage) and registered; the
    region-grain query must roll up from the summary — the plan never
    rescans the fact — and still hash-match the fact-derived oracle."""
    from .star import engine_from_parquet
    from .tpch import SCHEMA

    eng = engine_from_parquet(spark, SCHEMA, "Sales", sf_dir)
    summary = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Nation].Members")
        .execute()
        .df.localCheckpoint(eager=True)
    )
    eng.register_aggregate(
        summary, ["region_name", "nation_name"], {"sum_qty": "sum"}
    )
    routed = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Region].Members")
        .execute()
        .df
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "query was not served from the summary"
    return routed


@q(
    "advisor_auto_materialize_gate",
    f"""
    SELECT r_name AS region_name, sum(l_quantity) AS sum_qty
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def advisor_auto_materialize_gate(spark, sf_dir):
    """The CLOSED advisor loop in the driver gate (view-selection
    automation on top of the AggName surface, schema.rb:374-414 +
    Harinarayan/Rajaraman/Ullman '96 greedy selection): an observed query
    log goes into advisor.auto_materialize, which recommends the region
    grain, materializes the summary (lineage-truncated checkpoint) and
    registers it — in one call.  The covered query must then be served
    ENTIRELY from the summary (asserted: no fact scan in the executed
    plan) and still hash-match the fact-derived oracle."""
    from .advisor import auto_materialize
    from .star import engine_from_parquet
    from .tpch import SCHEMA

    eng = engine_from_parquet(spark, SCHEMA, "Sales", sf_dir)
    recs = auto_materialize(
        eng, query_log=[["[Customer].[Region]"]] * 3, measures=["Sum Qty"]
    )
    assert recs and recs[0].levels == ["[Customer].[Region]"]
    routed = (
        Query(eng)
        .columns("[Measures].[Sum Qty]")
        .rows("[Customer].[Region].Members")
        .execute()
        .df
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "query was not served from the summary"
    return routed


@q(
    "aggregate_refresh_gate",
    f"""
    SELECT r_name AS region_name, sum(l_quantity) AS sum_qty,
           count(l_orderkey) AS count_order
    FROM {_CUST_STAR} GROUP BY 1
    """,
)
def aggregate_refresh_gate(spark, sf_dir):
    """Incremental summary MAINTENANCE in the driver gate: the summary is
    materialized from a BASE fact (90% of rows), then
    engine.refresh_aggregates folds in only the held-out delta (one
    delta-sized aggregation + a summary-sized merge — never a full
    rescan), and the routed query must hash-match the oracle computed
    over the FULL fact.  Roll-up-safe merges (sum⊎sum, count adds) make
    the refreshed summary identical to re-materializing from scratch —
    the 100 TB maintenance path."""
    from .star import engine_from_parquet, read_parquet_table
    from .tpch import SCHEMA

    full = read_parquet_table(spark, f"{sf_dir}/lineitem.parquet")
    base = full.filter("l_orderkey % 10 != 0")
    delta = full.filter("l_orderkey % 10 = 0")
    eng = engine_from_parquet(spark, SCHEMA, "Sales", sf_dir)
    eng.__init__(
        eng.cube, {**eng.tables, "lineitem": base},
        eng.parameters, eng.available_roles,
    )
    eng.materialize_aggregate(
        ["[Customer].[Nation]"], measures=["Sum Qty", "Count Order"]
    )
    assert eng.refresh_aggregates(delta) == 1
    routed = (
        Query(eng)
        .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
        .rows("[Customer].[Region].Members")
        .execute()
        .df
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "refresh must not rescan the fact"
    return routed


@q(
    "filter_member_property_gate",
    """
    WITH members AS (
      SELECT p_brand AS brand, p_name AS part_name, min(p_size) AS sz
      FROM part GROUP BY 1, 2
    ),
    grid AS (
      SELECT p_brand AS brand, p_name AS part_name,
             sum(l_quantity) AS sum_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    )
    SELECT g.brand, g.part_name, g.sum_qty
    FROM grid g JOIN members m USING (brand, part_name)
    WHERE m.sz >= 40
    """,
)
def filter_member_property_gate(spark, sf_dir):
    """FILTER by a member PROPERTY (mondrian_test.rb:125-131 filter on
    CurrentMember.Properties): part members whose declared part_size
    property passes the threshold — the property column joins onto the
    grid for the filter and never reaches the output."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]")
        .rows("[Part].[Part].Members")
        .filter("[Part].CurrentMember.Properties('part_size') >= 40")
        .execute()
        .df
    )


@q(
    "default_member_all_gate",
    f"""
    SELECT CAST(NULL AS VARCHAR) AS region_name,
           sum(l_quantity) AS sum_qty, count(l_orderkey) AS count_order
    FROM lineitem
    UNION ALL
    SELECT r_name AS region_name,
           sum(l_quantity) AS sum_qty, count(l_orderkey) AS count_order
    FROM {_CUST_STAR}
    GROUP BY r_name
    """,
)
def default_member_all_gate(spark, sf_dir):
    """A hierarchy WITH an All member resolves ``.DefaultMember`` to it
    (jar!mondrian/olap/fun/DimensionDefaultMemberFunDef; hasAll —
    schema.rb:132-167): on an axis it is ONE grand-total row with NULL in
    the top level's display column, computed as the PLAIN fact aggregate
    (no dimension join — plan-asserted in test_mdx.py), here unioned with
    ``.children`` through the mixed-depth grouping-sets machinery.
    First-member resolution survives only for all-less hierarchies
    (test_default_member_all_less_hierarchy)."""
    return (
        Query(get_engine(spark, sf_dir))
        .columns("[Measures].[Sum Qty]", "[Measures].[Count Order]")
        .rows("[Customer].DefaultMember", "[Customer].children")
        .execute()
        .df
    )


@q(
    "vba_excel_breadth_gate",
    f"""
    WITH g AS (
      SELECT r_name AS region_name, sum(l_quantity) AS sum_qty,
             count(l_orderkey) AS count_order
      FROM {_CUST_STAR} GROUP BY 1
    )
    SELECT region_name,
           upper(format('{{:x}}', CAST(round(sum_qty) AS BIGINT))) AS hex_qty,
           format('{{:o}}', CAST(round(sum_qty) AS BIGINT)) AS oct_qty,
           CAST(floor(0 - sum_qty / 7) AS BIGINT) AS int_div,
           CAST(trunc(0 - sum_qty / 7) AS BIGINT) AS fix_div,
           strftime(make_date(2000,
             CAST(count_order - 12 * floor(count_order / 12.0) AS INT) + 1,
             1), '%B') AS month_nm,
           strftime(DATE '2000-01-02' +
             CAST(count_order - 7 * floor(count_order / 7.0) AS INT),
             '%A') AS weekday_nm,
           month(make_date(1995, 1, 15) + to_months(
             CAST(count_order - 12 * floor(count_order / 12.0) AS INT)))
             AS shifted_month,
           datediff('day', DATE '1995-07-01',
             DATE '1995-07-01' +
             CAST(count_order - 28 * floor(count_order / 28.0) AS INT))
             AS day_span,
           reverse(region_name) AS rev_name,
           (CASE WHEN region_name < 'EUROPE' THEN -1
                 WHEN region_name = 'EUROPE' THEN 0 ELSE 1 END) AS cmp_eur,
           repeat(substring(region_name, 1, 1), 3) AS first3,
           round(atan2(count_order, sum_qty), 6) AS at2,
           (sum_qty - count_order) / 9 AS sln_dep,
           (sum_qty - count_order) * (4 - 1 + 1) * 2 / (4 * (4 + 1))
             AS syd_dep,
           round(sqrt(count_order * pi()), 6) AS sqrtpi_cnt,
           power(2, CAST(count_order - 10 * floor(count_order / 10.0)
             AS INT)) AS pow_ord
    FROM g
    """,
)
def vba_excel_breadth_gate(spark, sf_dir):
    """Round-7 VBA/Excel function breadth (jar!mondrian/olap/fun/vba/
    Vba.class + Excel.class method inventories), per-region so every
    value is data-dependent: Hex/Oct (round-first), Int-floors vs
    Fix-truncates, MonthName/WeekdayName, DateAdd+DatePart month
    arithmetic, DateDiff day spans, StrReverse/StrComp/String, Excel
    ATAN2 in (x, y) order, SLN/SYD depreciation, SqrtPi, Power, with
    Excel floored MOD feeding the date/name indices."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Hex Qty] AS 'Hex(sum_qty)'
             MEMBER [Measures].[Oct Qty] AS 'Oct(sum_qty)'
             MEMBER [Measures].[Int Div] AS 'Int(0 - sum_qty / 7)'
             MEMBER [Measures].[Fix Div] AS 'Fix(0 - sum_qty / 7)'
             MEMBER [Measures].[Month Nm] AS
               'MonthName(CInt(Mod(count_order, 12)) + 1)'
             MEMBER [Measures].[Weekday Nm] AS
               'WeekdayName(CInt(Mod(count_order, 7)) + 1)'
             MEMBER [Measures].[Shifted Month] AS
               'DatePart("m", DateAdd("m", CInt(Mod(count_order, 12)),
                                      DateSerial(1995, 1, 15)))'
             MEMBER [Measures].[Day Span] AS
               'DateDiff("d", DateSerial(1995, 7, 1),
                         DateAdd("d", CInt(Mod(count_order, 28)),
                                 DateSerial(1995, 7, 1)))'
             MEMBER [Measures].[Rev Name] AS 'StrReverse(region_name)'
             MEMBER [Measures].[Cmp Eur] AS 'StrComp(region_name, "EUROPE")'
             MEMBER [Measures].[First3] AS 'String(3, region_name)'
             MEMBER [Measures].[At2] AS
               'round(Atan2(sum_qty, count_order), 6)'
             MEMBER [Measures].[Sln Dep] AS 'SLN(sum_qty, count_order, 9)'
             MEMBER [Measures].[Syd Dep] AS
               'SYD(sum_qty, count_order, 4, 1)'
             MEMBER [Measures].[Sqrtpi Cnt] AS
               'round(SqrtPi(count_order), 6)'
             MEMBER [Measures].[Pow Ord] AS
               'Power(2, CInt(Mod(count_order, 10)))'
        SELECT {[Measures].[Hex Qty], [Measures].[Oct Qty],
                [Measures].[Int Div], [Measures].[Fix Div],
                [Measures].[Month Nm], [Measures].[Weekday Nm],
                [Measures].[Shifted Month], [Measures].[Day Span],
                [Measures].[Rev Name], [Measures].[Cmp Eur],
                [Measures].[First3], [Measures].[At2],
                [Measures].[Sln Dep], [Measures].[Syd Dep],
                [Measures].[Sqrtpi Cnt], [Measures].[Pow Ord]}
               ON COLUMNS,
               [Customer].[Region].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "vba_financial_gate",
    f"""
    WITH g AS (
      SELECT r_name AS region_name, sum(l_quantity) AS sum_qty,
             count(l_orderkey) AS count_order
      FROM {_CUST_STAR} GROUP BY 1
    ),
    p AS (
      SELECT region_name, sum_qty, count_order,
             CAST(count_order - 24 * floor(count_order / 24.0) AS INT) + 12
               AS nper,
             CAST(count_order - 5 * floor(count_order / 5.0) AS INT) + 1
               AS per
      FROM g
    ),
    f AS (
      SELECT *,
             -(sum_qty * power(1.005, nper)) * 0.005
               / (power(1.005, nper) - 1) AS pmt_full,
             power(1.005, per - 1) AS t_per
      FROM p
    )
    SELECT region_name,
           round(pmt_full, 6) AS pmt_v,
           round(-(-100 * (power(1.005, nper) - 1) / 0.005), 6) AS fv_v,
           round(-(-100 * (power(1.005, nper) - 1) / 0.005)
                 / power(1.005, nper), 6) AS pv_v,
           round(ln((-(sum_qty * 0.01 + count_order))
                    / (-(sum_qty * 0.01 + count_order) + sum_qty * 0.005))
                 / ln(1.005), 6) AS nper_v,
           round(-(sum_qty * t_per
                   + pmt_full * (t_per - 1) / 0.005) * 0.005, 6) AS ipmt_v,
           round(pmt_full
                 - (-(sum_qty * t_per
                      + pmt_full * (t_per - 1) / 0.005) * 0.005), 6)
             AS ppmt_v,
           round(least(sum_qty * power(0.6, per - 1) * 0.4,
                       greatest(sum_qty * power(0.6, per - 1)
                                - sum_qty * 0.1, 0.0)), 6) AS ddb_v,
           round((sum_qty - count_order) / 9, 6) AS sln_v
    FROM f
    """,
)
def vba_financial_gate(spark, sf_dir):
    """Round-7 VBA financial family under the driver gate
    (Vba.pmt/fV/pV/nPer/iPmt/pPmt/dDB/sLN closed forms, VBA sign
    convention), per-region so every value is data-dependent: nper and
    the DDB/IPmt period derive from count_order via Excel floored MOD;
    principal is the region's quantity sum.

    IPmt oracle: the balance after per-1 END-of-period payments is
    FV(rate, per-1, pmt, pv) = -(pv*(1+r)^(per-1) + pmt*((1+r)^(per-1)-1)/r);
    IPmt = that balance times the rate — the same composition the engine
    emits, reproduced arithmetically in the SQL."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Nper I] AS
               'CInt(Mod(count_order, 24)) + 12'
             MEMBER [Measures].[Per I] AS 'CInt(Mod(count_order, 5)) + 1'
             MEMBER [Measures].[Pmt V] AS
               'round(Pmt(0.005, [Measures].[Nper I], sum_qty), 6)'
             MEMBER [Measures].[Fv V] AS
               'round(FV(0.005, [Measures].[Nper I], 0 - 100), 6)'
             MEMBER [Measures].[Pv V] AS
               'round(PV(0.005, [Measures].[Nper I], 0 - 100), 6)'
             MEMBER [Measures].[Nper V] AS
               'round(NPer(0.005, 0 - (sum_qty * 0.01 + count_order), sum_qty), 6)'
             MEMBER [Measures].[Ipmt V] AS
               'round(IPmt(0.005, [Measures].[Per I], [Measures].[Nper I], sum_qty), 6)'
             MEMBER [Measures].[Ppmt V] AS
               'round(PPmt(0.005, [Measures].[Per I], [Measures].[Nper I], sum_qty), 6)'
             MEMBER [Measures].[Ddb V] AS
               'round(DDB(sum_qty, sum_qty * 0.1, 5, [Measures].[Per I]), 6)'
             MEMBER [Measures].[Sln V] AS
               'round(SLN(sum_qty, count_order, 9), 6)'
        SELECT {[Measures].[Pmt V], [Measures].[Fv V], [Measures].[Pv V],
                [Measures].[Nper V], [Measures].[Ipmt V],
                [Measures].[Ppmt V], [Measures].[Ddb V], [Measures].[Sln V]}
               ON COLUMNS,
               [Customer].[Region].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "vba_breadth2_gate",
    f"""
    WITH g AS (
      SELECT r_name AS region_name, sum(l_quantity) AS sum_qty,
             count(l_orderkey) AS count_order
      FROM {_CUST_STAR} GROUP BY 1
    )
    SELECT region_name,
           (CASE CAST(count_order % 3 AS INT) + 1
                 WHEN 1 THEN 'alpha' WHEN 2 THEN 'beta'
                 WHEN 3 THEN 'gamma' END) AS choose_cls,
           (CASE WHEN sum_qty > 300000 THEN 'XL'
                 WHEN sum_qty > 150000 THEN 'L'
                 WHEN sum_qty > 0 THEN 'S' END) AS switch_cls,
           CAST(CASE WHEN strpos(substr('MISSISSIPPI',
                            CAST(count_order % 3 AS INT) + 1), 'SS') = 0
                 THEN 0
                 ELSE strpos(substr('MISSISSIPPI',
                        CAST(count_order % 3 AS INT) + 1), 'SS')
                      + CAST(count_order % 3 AS INT) + 1 - 1
            END AS INT) AS instr3_pos,
           CAST(CASE WHEN strpos(region_name, 'I') = 0 THEN 0
                 ELSE length(region_name) + 1
                      - strpos(reverse(region_name), 'I')
            END AS INT) AS instrrev_pos,
           array_to_string(list_transform(
             string_split(lower(region_name), ' '),
             w -> upper(w[1]) || w[2:]), ' ') AS proper_nm,
           lower(region_name) AS lc_nm,
           CAST(factorial(CAST(count_order % 6 AS INT)) AS BIGINT) AS fact_n,
           CAST(count_order % 5 + 1 AS INT) AS space_len,
           replace(region_name, 'A', '@') AS repl_nm,
           radians(CAST(count_order AS DOUBLE)) AS rad_cnt
    FROM g
    """,
)
def vba_breadth2_gate(spark, sf_dir):
    """Round-8 VBA/Excel breadth (jar!mondrian/olap/fun/vba/Vba.class +
    Excel.class continuation): Choose (1-based, CInt-rounded index),
    Switch (first-true CASE chain), 3-arg InStr (VBA argument order →
    Spark locate), InStrRev (last occurrence via reversed instr),
    StrConv proper case, LCase, Excel Fact, Space/Len round-trip,
    Replace, Excel Radians — all data-dependent per region, bit-exact
    vs DuckDB equivalents."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Choose Cls] AS
               'Choose(CInt(Mod(count_order, 3)) + 1,
                       "alpha", "beta", "gamma")'
             MEMBER [Measures].[Switch Cls] AS
               'Switch(sum_qty > 300000, "XL", sum_qty > 150000, "L",
                       sum_qty > 0, "S")'
             MEMBER [Measures].[Instr3 Pos] AS
               'InStr(CInt(Mod(count_order, 3)) + 1, "MISSISSIPPI", "SS")'
             MEMBER [Measures].[Instrrev Pos] AS
               'InStrRev([Customer].CurrentMember.Name, "I")'
             MEMBER [Measures].[Proper Nm] AS
               'StrConv(LCase([Customer].CurrentMember.Name), 3)'
             MEMBER [Measures].[Lc Nm] AS
               'LCase([Customer].CurrentMember.Name)'
             MEMBER [Measures].[Fact N] AS 'Fact(CInt(Mod(count_order, 6)))'
             MEMBER [Measures].[Space Len] AS
               'Len(Space(CInt(Mod(count_order, 5)) + 1))'
             MEMBER [Measures].[Repl Nm] AS
               'Replace([Customer].CurrentMember.Name, "A", "@")'
             MEMBER [Measures].[Rad Cnt] AS 'Radians(count_order)'
        SELECT {[Measures].[Choose Cls], [Measures].[Switch Cls],
                [Measures].[Instr3 Pos], [Measures].[Instrrev Pos],
                [Measures].[Proper Nm], [Measures].[Lc Nm],
                [Measures].[Fact N], [Measures].[Space Len],
                [Measures].[Repl Nm], [Measures].[Rad Cnt]}
               ON COLUMNS,
               [Customer].[Region].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "vba_breadth3_gate",
    f"""
    WITH g AS (
      SELECT r_name AS region_name, sum(l_quantity) AS sum_qty,
             count(l_orderkey) AS count_order
      FROM {_CUST_STAR} GROUP BY 1
    )
    SELECT region_name,
           (CASE WHEN CAST(count_order % 120 AS INT) < 10
                 THEN repeat(' ', 3) || ':' || lpad('9', 3, ' ')
                 WHEN CAST(count_order % 120 AS INT) > 98
                 THEN lpad('99', 3, ' ') || ':' || repeat(' ', 3)
                 ELSE lpad(CAST((CAST(count_order % 120 AS INT) // 5) * 5
                                AS VARCHAR), 3, ' ')
                      || ':' ||
                      lpad(CAST(least((CAST(count_order % 120 AS INT) // 5)
                                      * 5 + 4, 98) AS VARCHAR), 3, ' ')
            END) AS part_lbl,
           (CASE WHEN try_cast(region_name AS DOUBLE) IS NOT NULL
                 THEN 1 ELSE 0 END) AS isnum_name,
           (CASE WHEN sum_qty >= 0
                 THEN ' ' || CAST(sum_qty AS VARCHAR)
                 ELSE CAST(sum_qty AS VARCHAR) END) AS str_qty,
           CAST(CAST(sum_qty AS DECIMAL(19,4)) AS VARCHAR) AS cur_qty,
           hour(TIMESTAMP '1899-12-30 00:00:00'
                + to_seconds(CAST(count_order % 20 AS INT) * 3600
                             + 90 * 60)) AS ts_hour,
           CAST(CAST(count_order % 7 AS INT) + 1 AS VARCHAR) AS cstr_day
    FROM g
    """,
)
def vba_breadth3_gate(spark, sf_dir):
    """Round-8 VBA batch 3 through the driver gate, data-dependent per
    region: Partition (below/in/above-range labels with the
    len(str(stop))+1 layout rule — start=10 so small residues exercise
    the blank-lower branch), IsNumeric, Str's sign slot, CCur's
    DECIMAL(19,4) rendering, TimeSerial hour carry-over, CStr — each
    replayed in DuckDB arithmetic, bit-exact."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        """
        WITH MEMBER [Measures].[Part Lbl] AS
               'Partition(CInt(Mod(count_order, 120)), 10, 98, 5)'
             MEMBER [Measures].[Isnum Name] AS
               'IIF(IsNumeric([Customer].CurrentMember.Name), 1, 0)'
             MEMBER [Measures].[Str Qty] AS 'Str(sum_qty)'
             MEMBER [Measures].[Cur Qty] AS 'CStr(CCur(sum_qty))'
             MEMBER [Measures].[Ts Hour] AS
               'Hour(TimeSerial(CInt(Mod(count_order, 20)), 90, 0))'
             MEMBER [Measures].[Cstr Day] AS
               'CStr(CInt(Mod(count_order, 7)) + 1)'
        SELECT {[Measures].[Part Lbl], [Measures].[Isnum Name],
                [Measures].[Str Qty], [Measures].[Cur Qty],
                [Measures].[Ts Hour], [Measures].[Cstr Day]}
               ON COLUMNS,
               [Customer].[Region].Members ON ROWS FROM [Sales]
        """
    ).df


@q(
    "exists_set_expression_gate",
    f"""
    WITH star AS (
      SELECT r_name, n_name, c_name, l_quantity FROM {_CUST_STAR}
      WHERE year(o_orderdate) = 1995
    ),
    qnations AS (
      SELECT n_name FROM star GROUP BY 1 HAVING sum(l_quantity) > 11500
    )
    SELECT r_name AS region_name, n_name AS nation_name,
           c_name AS customer_name, sum(l_quantity) AS sum_qty
    FROM star
    WHERE c_name IN (
      SELECT DISTINCT c_name FROM star
      WHERE n_name IN (SELECT n_name FROM qnations)
    )
    GROUP BY 1, 2, 3
    """,
)
def exists_set_expression_gate(spark, sf_dir):
    """EXISTS with a COMPUTED second set (round-11 verdict item 1 — the
    mdx _plain_members lift): FILTER evaluates per nation in the slicer
    context (jar!mondrian/olap/fun/ExistsFunDef takes any set expression;
    builder nesting query.rb:47-57), the qualifying nations become the
    shared-fact-rows slice, and the customer set semi-joins to it.  Plan
    shape: one dimension-grain sub-aggregate for the FILTER, a bounded
    member-list collect (dimension-sized, Mondrian's own TupleList
    materialization), then the existing broadcast semi-join — the fact
    never re-shuffles."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXISTS([Customer].[Customer].Members, "
        "  FILTER([Customer].[Nation].Members, [Measures].[Sum Qty] > 11500)) "
        "ON ROWS FROM [Sales] WHERE [Time].[1995]"
    ).df


@q(
    "except_set_expression_gate",
    f"""
    WITH agg AS (
      SELECT r_name, n_name, sum(l_quantity) AS s
      FROM {_CUST_STAR} GROUP BY 1, 2
    )
    SELECT r_name AS region_name, n_name AS nation_name, s AS sum_qty
    FROM agg WHERE s <= 70000
    """,
)
def except_set_expression_gate(spark, sf_dir):
    """EXCEPT subtracting a COMPUTED set (ExceptFunDef arbitrary-set
    parity): the FILTER result evaluates at the nation grain in the
    slicer context, collects to a bounded member list, and anti-filters
    the axis grid by full member paths — equivalent to keeping nations at
    or under the threshold."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXCEPT([Customer].[Nation].Members, "
        "  FILTER([Customer].[Nation].Members, [Measures].[Sum Qty] > 70000)) "
        "ON ROWS FROM [Sales]"
    ).df


@q(
    "drilldown_set_expression_gate",
    f"""
    WITH star AS (
      SELECT r_name, n_name, l_quantity FROM {_CUST_STAR}
      WHERE year(o_orderdate) = 1996
    ),
    top1 AS (
      SELECT r_name FROM star GROUP BY 1
      ORDER BY sum(l_quantity) DESC, r_name LIMIT 1
    )
    SELECT r_name AS region_name, CAST(NULL AS VARCHAR) AS nation_name,
           sum(l_quantity) AS sum_qty
    FROM star GROUP BY 1
    UNION ALL
    SELECT r_name AS region_name, n_name AS nation_name,
           sum(l_quantity) AS sum_qty
    FROM star WHERE r_name IN (SELECT r_name FROM top1)
    GROUP BY 1, 2
    """,
)
def drilldown_set_expression_gate(spark, sf_dir):
    """DRILLDOWNMEMBER with a COMPUTED second set: the TOPCOUNT result
    (top region by quantity, slicer-context evaluation — deferred past
    WHERE so the 1996 slice binds) drills to its nations; parent rows
    keep NULL in the nation column (DrilldownMemberFunDef union-of-
    grouping-sets shape)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DRILLDOWNMEMBER([Customer].[Region].Members, "
        "  TOPCOUNT([Customer].[Region].Members, 1, [Measures].[Sum Qty])) "
        "ON ROWS FROM [Sales] WHERE [Time].[1996]"
    ).df


@q(
    "existing_context_gate",
    f"""
    WITH star AS (
      SELECT r_name, n_name, l_quantity FROM {_CUST_STAR}
      WHERE year(o_orderdate) = 1995
    ),
    nat AS (
      SELECT r_name, n_name, sum(l_quantity) AS s
      FROM star GROUP BY 1, 2
    )
    SELECT r_name AS region_name, sum(s) AS sum_qty,
           count(*) AS nation_cnt, max(s) AS top_nation_qty
    FROM nat GROUP BY 1
    """,
)
def existing_context_gate(spark, sf_dir):
    """One-arg EXISTING (round-11 verdict item 2 —
    jar!mondrian/olap/fun/ExistingFunDef): the set binds to the CURRENT
    evaluation context.  Per region row, Count(EXISTING Nation.Members)
    counts only that region's nations with 1995 fact rows (slicer + axis
    context), and Max(EXISTING …) takes the per-region nation maximum —
    unlike the plain forms, which override the context and repeat one
    global value.  Plan shape: the sub-aggregate keeps the grid's own
    grain (region stays in the collapse grouping), one fact pass, no
    per-cell work."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "WITH MEMBER [Measures].[Nation Cnt] AS "
        "  'Count(EXISTING [Customer].[Nation].Members)' "
        "MEMBER [Measures].[Top Nation Qty] AS "
        "  'Max(EXISTING [Customer].[Nation].Members, [Measures].[Sum Qty])' "
        "SELECT {[Measures].[Sum Qty], [Measures].[Nation Cnt], "
        "        [Measures].[Top Nation Qty]} ON COLUMNS, "
        "[Customer].[Region].Members ON ROWS FROM [Sales] "
        "WHERE [Time].[1995]"
    ).df


@q(
    "descendants_flags_gate",
    f"""
    WITH star AS (
      SELECT r_name, n_name, c_name, l_quantity FROM {_CUST_STAR}
      WHERE r_name = 'ASIA' AND year(o_orderdate) = 1995
    )
    SELECT r_name AS region_name, CAST(NULL AS VARCHAR) AS nation_name,
           CAST(NULL AS VARCHAR) AS customer_name,
           sum(l_quantity) AS sum_qty
    FROM star GROUP BY 1
    UNION ALL
    SELECT r_name, n_name, CAST(NULL AS VARCHAR), sum(l_quantity)
    FROM star GROUP BY 1, 2
    UNION ALL
    SELECT r_name, n_name, c_name, sum(l_quantity)
    FROM star GROUP BY 1, 2, 3
    """,
)
def descendants_flags_gate(spark, sf_dir):
    """DESCENDANTS flag argument (round-11 verdict item 4 —
    jar!mondrian/olap/fun/DescendantsFunDef): SELF_AND_BEFORE spans the
    member's own level through the target level, lowered as per-level
    ``.Children`` chains unioned by the mixed-depth axis machinery
    (grouping-sets shape: shallower rows carry NULL in deeper level
    columns).  BEFORE/AFTER/LEAVES/SELF_BEFORE_AFTER and the no-level
    Descendants(m) default are pytest-covered."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "DESCENDANTS([Customer].[ASIA], [Customer].[Customer], "
        "            SELF_AND_BEFORE) ON ROWS "
        "FROM [Sales] WHERE [Time].[1995]"
    ).df


@q(
    "count_filter_formula_gate",
    f"""
    WITH nat AS (
      SELECT r_name, n_name, sum(l_quantity) AS s
      FROM {_CUST_STAR} GROUP BY 1, 2
    ),
    big AS (SELECT * FROM nat WHERE s > 70000)
    SELECT r.region_name,
           (SELECT count(*) FROM big) AS big_nations,
           (SELECT sum(s) FROM big) AS big_qty,
           coalesce(e.c, 0) AS ex_big
    FROM (SELECT DISTINCT r_name AS region_name FROM nat) r
    LEFT JOIN (
      SELECT r_name, count(*) AS c FROM big GROUP BY 1
    ) e ON e.r_name = r.region_name
    """,
)
def count_filter_formula_gate(spark, sf_dir):
    """Filter(set, cond) as a set-statistic argument (FilterFunDef inside
    an evaluator call — Count/Sum(Filter(...))): the condition lowers
    into the stat sub-aggregate as a row filter before the collapse, one
    fact pass.  Count(EXISTING Filter(...)) composes both forms: the
    per-region count of qualifying nations.  The plain forms repeat one
    global value per row; EXISTING keys it to the cell."""
    eng = get_engine(spark, sf_dir)
    from pyspark.sql import functions as F

    df = eng.execute(
        "WITH MEMBER [Measures].[Big Nations] AS "
        "  'Count(Filter([Customer].[Nation].Members, "
        "                [Measures].[Sum Qty] > 70000))' "
        "MEMBER [Measures].[Big Qty] AS "
        "  'Sum(Filter([Customer].[Nation].Members, "
        "              [Measures].[Sum Qty] > 70000), [Measures].[Sum Qty])' "
        "MEMBER [Measures].[Ex Big] AS "
        "  'Count(EXISTING Filter([Customer].[Nation].Members, "
        "                         [Measures].[Sum Qty] > 70000))' "
        "SELECT {[Measures].[Big Nations], [Measures].[Big Qty], "
        "        [Measures].[Ex Big]} ON COLUMNS, "
        "[Customer].[Region].Members ON ROWS FROM [Sales]"
    ).df
    # a region with zero qualifying nations yields a NULL count cell
    # (empty sub-group) — the oracle's LEFT JOIN spells that coalesce
    return df.withColumn("ex_big", F.coalesce(F.col("ex_big"), F.lit(0)))


@q(
    "generate_per_member_gate",
    f"""
    WITH yr AS (
      SELECT year(o_orderdate) AS y, r_name, n_name,
             sum(l_quantity) AS s
      FROM {_CUST_STAR} WHERE l_returnflag = 'N' GROUP BY 1, 2, 3
    ),
    top2 AS (
      SELECT DISTINCT r_name, n_name FROM (
        SELECT r_name, n_name, row_number() OVER (
          PARTITION BY y ORDER BY s DESC, r_name, n_name) AS rn
        FROM yr
      ) WHERE rn <= 2
    )
    SELECT c.r_name AS region_name, c.n_name AS nation_name,
           sum(c.l_quantity) AS sum_qty
    FROM (SELECT r_name, n_name, l_quantity FROM {_CUST_STAR}
          WHERE l_returnflag = 'N') c
    JOIN top2 ON top2.r_name = c.r_name AND top2.n_name = c.n_name
    GROUP BY 1, 2
    """,
)
def generate_per_member_gate(spark, sf_dir):
    """PER-MEMBER GENERATE (GenerateFunDef's true iteration semantics):
    set2 is measure-dependent and CROSS-dimension, so it evaluates once
    per set1 member with that member pushed on the context — each year's
    top-2 nations by quantity (slicer applied), unioned with
    GenerateFunDef's default dedup.  Lowered as ONE sub-aggregate at
    (year × nation) grain + a year-partitioned row_number window — a
    single keyed shuffle, never a per-member loop — then the bounded
    distinct-member collect feeds the ordinary axis plan."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "GENERATE([Time].[Year].Members, "
        "  TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty])) "
        "ON ROWS FROM [Sales] WHERE [ReturnFlag].[N]"
    ).df


@q(
    "union_set_expression_gate",
    f"""
    WITH nat AS (
      SELECT r_name, n_name, sum(l_quantity) AS s
      FROM {_CUST_STAR} GROUP BY 1, 2
    ),
    top2 AS (
      SELECT r_name, n_name FROM (
        SELECT r_name, n_name,
               row_number() OVER (ORDER BY s DESC, r_name, n_name) AS rn
        FROM nat
      ) WHERE rn <= 2
    )
    SELECT r_name AS region_name, n_name AS nation_name, s AS sum_qty
    FROM nat
    WHERE (r_name = 'ASIA' AND n_name = 'NATION_2')
       OR EXISTS (SELECT 1 FROM top2
                  WHERE top2.r_name = nat.r_name
                    AND top2.n_name = nat.n_name)
    """,
)
def union_set_expression_gate(spark, sf_dir):
    """UNION with a COMPUTED argument (UnionFunDef over arbitrary sets):
    the TOPCOUNT side evaluates post-WHERE in the slicer context
    (bounded member collect), then both sides splice onto the axis —
    same-dimension sets union with IN semantics, the grid dedups
    (GenerateFunDef-family deferred evaluation; INTERSECT and the
    empty-result shapes are pytest-covered)."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "UNION({[Customer].[ASIA].[NATION_2]}, "
        "  TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty])) "
        "ON ROWS FROM [Sales]"
    ).df


@q(
    "exists_mixed_depth_set_gate",
    f"""
    WITH star AS (
      SELECT r_name, n_name, c_name, l_quantity,
             year(o_orderdate) AS y, quarter(o_orderdate) AS q
      FROM {_CUST_STAR}
    ),
    cand AS (
      SELECT 1995 AS y, CAST(NULL AS INT) AS q
      UNION ALL SELECT 1996, NULL
      UNION ALL SELECT 1995, 1
      UNION ALL SELECT 1996, 1
    ),
    cells AS (
      SELECT c.y, c.q, sum(s.l_quantity) AS s
      FROM cand c JOIN star s ON s.y = c.y AND (c.q IS NULL OR s.q = c.q)
      GROUP BY 1, 2
    ),
    surv AS (
      SELECT y, q FROM cells
      ORDER BY s DESC, y, q NULLS FIRST LIMIT 3 OFFSET 1
    ),
    qual AS (
      SELECT DISTINCT st.c_name
      FROM star st JOIN surv v ON st.y = v.y AND (v.q IS NULL OR st.q = v.q)
    )
    SELECT r_name AS region_name, n_name AS nation_name,
           c_name AS customer_name, sum(l_quantity) AS sum_qty
    FROM star WHERE c_name IN (SELECT c_name FROM qual)
    GROUP BY 1, 2, 3
    """,
)
def exists_mixed_depth_set_gate(spark, sf_dir):
    """MIXED-DEPTH computed set argument + TAIL after a custom ORDER
    (round-12 verdict items 2a/2b — the eval_set_expr_per_member level
    restriction lifted): the set {[1995], [1996], [1995].[Q1],
    [1996].[Q1]} spans the Year and Quarter levels; each member's sort
    value is its OWN grain's cell (one sub-aggregate per depth,
    NULL-padded union — the _split_mixed_depth lowering), ORDER BDESC
    sorts the union, and TAIL(..., 3) slices from the END of that custom
    order via the partition row count (HeadTailFunDef slices the
    evaluated list; jar!mondrian/olap/fun/FilterFunDef evaluates per
    member).  The 3 survivors (one YEAR + two QUARTERS — mixed depths
    reach the slicer) become the EXISTS fact-intersection slice for the
    customer axis.  Plan shape: one dimension-grain sub-aggregate per
    depth + a bounded member collect, then the existing broadcast
    semi-join — the fact never re-shuffles."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "EXISTS([Customer].[Customer].Members, "
        "  TAIL(ORDER({[Time].[1995], [Time].[1996], [Time].[1995].[Q1], "
        "              [Time].[1996].[Q1]}, "
        "       [Measures].[Sum Qty], BDESC), 3)) "
        "ON ROWS FROM [Sales]"
    ).df


@q(
    "descendants_ragged_leaves_gate",
    """
    WITH rag AS (
      SELECT 'World' AS world, r_name, n_nationkey,
             CASE WHEN r_name = 'AFRICA' OR n_nationkey % 5 = 0
                  THEN '' ELSE n_name END AS city
      FROM nation JOIN region ON n_regionkey = r_regionkey
    ),
    leafreg AS (
      SELECT r_name FROM rag GROUP BY r_name
      HAVING max(CASE WHEN city <> '' THEN 1 ELSE 0 END) = 0
    )
    SELECT 'World' AS world_name, r_name AS region_name,
           city AS city_name, count(*) AS suppliers
    FROM rag JOIN supplier ON s_nationkey = n_nationkey
    WHERE city <> '' GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'World', r_name, CAST(NULL AS VARCHAR), count(*)
    FROM rag JOIN supplier ON s_nationkey = n_nationkey
    WHERE r_name IN (SELECT r_name FROM leafreg)
    GROUP BY 1, 2
    """,
)
def descendants_ragged_leaves_gate(spark, sf_dir):
    """Ragged-hierarchy LEAVES (round-12 verdict item 3 —
    jar!mondrian/olap/fun/DescendantsFunDef over a hide_member_if
    hierarchy): ``Descendants([Geo].[World], [Geo].[City], LEAVES)``
    returns leaf members at MIXED depths — every visible city, PLUS each
    region whose cities are ALL hidden (blank — the region itself is the
    leaf of its branch).  One whole region's cities are blanked through
    the SQL-view table so a genuine shallow leaf exists at every SF.
    Plan shape: shallow-leaf detection is one dimension-sized distinct
    per depth at validate time (Mondrian's validator-time member
    resolution; the dim is guaranteed_small); the mixed-depth axis
    unions through _split_mixed_depth's NULL-padded grouping sets — the
    fact aggregates once per depth grain, never per member."""
    from .model import Cube, Dimension, Level, Measure
    from .sources.registry import with_sql_views
    from .star import CubeEngine, read_parquet_table

    base = {
        t: read_parquet_table(spark, f"{sf_dir}/{t}.parquet")
        for t in ("nation", "region", "supplier")
    }
    tables = with_sql_views(
        spark,
        base,
        {
            "ragged_geo": (
                "SELECT n_nationkey, 'World' AS world, r_name, "
                "CASE WHEN r_name = 'AFRICA' OR n_nationkey % 5 = 0 "
                "THEN '' ELSE n_name END AS city "
                "FROM nation JOIN region ON n_regionkey = r_regionkey"
            )
        },
    )
    cube = Cube(
        name="Ragged",
        fact="supplier",
        dimensions=(
            Dimension(
                name="Geo",
                foreign_key="s_nationkey",
                table="ragged_geo",
                primary_key="n_nationkey",
                levels=(
                    Level("World", "world", output="world_name"),
                    Level("Region", "r_name", output="region_name"),
                    Level(
                        "City", "city", output="city_name",
                        hide_member_if="IfBlankName",
                    ),
                ),
                guaranteed_small=True,
            ),
        ),
        measures=(
            Measure("Suppliers", "s_suppkey", "count", output="suppliers"),
        ),
    )
    eng = CubeEngine(cube, tables)
    from .mdx import execute_mdx

    return execute_mdx(
        eng,
        "SELECT [Measures].[Suppliers] ON COLUMNS, "
        "DESCENDANTS([Geo].[World], [Geo].[City], LEAVES) ON ROWS "
        "FROM [Ragged]",
    ).df


@q(
    "generate_post_ops_gate",
    f"""
    WITH yr AS (
      SELECT year(o_orderdate) AS y, r_name, n_name,
             sum(l_quantity) AS s
      FROM {_CUST_STAR} WHERE l_returnflag = 'N' GROUP BY 1, 2, 3
    ),
    top2 AS (
      SELECT DISTINCT r_name, n_name FROM (
        SELECT r_name, n_name, row_number() OVER (
          PARTITION BY y ORDER BY s DESC, r_name, n_name) AS rn
        FROM yr
      ) WHERE rn <= 2
    ),
    agg AS (
      SELECT c.r_name, c.n_name, sum(c.l_quantity) AS s
      FROM (SELECT r_name, n_name, l_quantity FROM {_CUST_STAR}
            WHERE l_returnflag = 'N') c
      JOIN top2 ON top2.r_name = c.r_name AND top2.n_name = c.n_name
      GROUP BY 1, 2
    )
    SELECT r_name AS region_name, n_name AS nation_name, s AS sum_qty
    FROM agg ORDER BY s DESC, r_name, n_name LIMIT 3
    """,
)
def generate_post_ops_gate(spark, sf_dir):
    """Post-op COMPOSITION after a per-member GENERATE (round-12 verdict
    item 6 — jar!mondrian/olap/fun/GenerateFunDef composes freely): the
    per-member evaluation (each year's top-2 nations, one partitioned
    window pass) replaces the axis, then the trailing TOPCOUNT runs as an
    ordinary grid mod over the RESULT set — same single-window machinery,
    no extra fact pass."""
    eng = get_engine(spark, sf_dir)
    return eng.execute(
        "SELECT [Measures].[Sum Qty] ON COLUMNS, "
        "TOPCOUNT(GENERATE([Time].[Year].Members, "
        "  TOPCOUNT([Customer].[Nation].Members, 2, [Measures].[Sum Qty])), "
        "  3, [Measures].[Sum Qty]) "
        "ON ROWS FROM [Sales] WHERE [ReturnFlag].[N]"
    ).df
