"""Seeded MDX statements over the ``Sales`` cube, each with its DuckDB oracle.

A template draws its parameters from a ``random.Random`` and returns the MDX
text and the SQL that must produce the same cells.  The engine only ever
sees the MDX text.  The oracle's column names are the Result's axis and
measure column names, so rows compare by name, order-insensitively.
"""

from __future__ import annotations

import random
from collections.abc import Callable
from dataclasses import dataclass

YEARS = tuple(range(1996, 2002))
#: years with a full twelve months of orders
FULL_YEARS = YEARS[:-1]
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
NATIONS_BY_REGION = {r: [f"NATION_{i}" for i in range(k, 25, 5)] for k, r in enumerate(REGIONS)}
FLAGS = ("A", "N", "R")

CUST_STAR = (
    "lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey"
)
PART_STAR = "lineitem JOIN part ON l_partkey = p_partkey"

#: the oracle spelling of the exact-decimal ``[Measures].[Sum Price]``
PRICE = "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)"

#: row-axis level → (MDX set, output column, oracle expression)
LEVELS = {
    "region": ("[Customer].[Region].Members", "region_name", "r_name"),
    "priority": ("[Priority].[Priority].Members", "order_priority", "o_orderpriority"),
    "segment": ("[Segment].[Segment].Members", "mktsegment", "c_mktsegment"),
    "flag": ("[ReturnFlag].[ReturnFlag].Members", "return_flag", "l_returnflag"),
}


@dataclass(frozen=True)
class Statement:
    family: str
    mdx: str
    sql: str


def level_axis(rng: random.Random) -> Statement:
    """A level's members on rows, a year slicer and a WITH MEMBER ratio."""
    level = rng.choice(sorted(LEVELS))
    year = rng.choice(YEARS)
    axis, col, expr = LEVELS[level]
    mdx = (
        "WITH MEMBER [Measures].[Price Per Unit] AS "
        "'[Measures].[Sum Price] / [Measures].[Sum Qty]' "
        "SELECT {[Measures].[Sum Qty], [Measures].[Sum Price], "
        "[Measures].[Price Per Unit]} ON COLUMNS, "
        f"{axis} ON ROWS FROM [Sales] WHERE [Time].[{year}]"
    )
    sql = (
        f"SELECT {expr} AS {col}, sum(l_quantity) AS sum_qty, {PRICE} AS sum_price, "
        f"{PRICE} / sum(l_quantity) AS price_per_unit "
        f"FROM {CUST_STAR} WHERE year(o_orderdate) = {year} GROUP BY 1"
    )
    return Statement("level_axis", mdx, sql)


def crossjoin_nonempty(rng: random.Random) -> Statement:
    """NON EMPTY member-children × level crossjoin under a quarter slicer."""
    region = rng.choice(REGIONS)
    year = rng.choice(YEARS)
    quarter = rng.randint(1, 4)
    mdx = (
        "SELECT {[Measures].[Sum Qty], [Measures].[Count Order]} ON COLUMNS, "
        f"NON EMPTY CrossJoin([Customer].[{region}].Children, "
        "[Priority].[Priority].Members) ON ROWS "
        f"FROM [Sales] WHERE [Time].[{year}].[Q{quarter}]"
    )
    sql = (
        "SELECT r_name AS region_name, n_name AS nation_name, "
        "o_orderpriority AS order_priority, sum(l_quantity) AS sum_qty, "
        f"count(l_orderkey) AS count_order FROM {CUST_STAR} "
        f"WHERE r_name = '{region}' AND year(o_orderdate) = {year} "
        f"AND quarter(o_orderdate) = {quarter} GROUP BY 1, 2, 3"
    )
    return Statement("crossjoin_nonempty", mdx, sql)


def topcount(rng: random.Random) -> Statement:
    """TopCount of nations by an exact decimal measure under a year slicer."""
    n = rng.randint(3, 8)
    year = rng.choice(YEARS)
    mdx = (
        "SELECT {[Measures].[Sum Price]} ON COLUMNS, "
        f"TopCount([Customer].[Nation].Members, {n}, [Measures].[Sum Price]) "
        f"ON ROWS FROM [Sales] WHERE [Time].[{year}]"
    )
    sql = (
        "SELECT r_name AS region_name, n_name AS nation_name, "
        f"{PRICE} AS sum_price FROM {CUST_STAR} "
        f"WHERE year(o_orderdate) = {year} GROUP BY 1, 2 "
        f"ORDER BY sum_price DESC LIMIT {n}"
    )
    return Statement("topcount", mdx, sql)


def filter_order(rng: random.Random) -> Statement:
    """Order(Filter(...)) over part brands under a return-flag slicer."""
    flag = rng.choice(FLAGS)
    # per-brand quantity under one flag spans 181k-230k (191k-220k in the
    # shared sf0.1 tables; perfbench/datacheck.py); thresholds cut inside both
    threshold = rng.randrange(196_000, 212_000, 500)
    mdx = (
        "SELECT {[Measures].[Sum Qty], [Measures].[Count Order]} ON COLUMNS, "
        f"Order(Filter([Part].[Brand].Members, [Measures].[Sum Qty] > {threshold}), "
        "[Measures].[Sum Qty], BDESC) ON ROWS "
        f"FROM [Sales] WHERE [ReturnFlag].[{flag}]"
    )
    sql = (
        "SELECT p_brand AS brand, sum(l_quantity) AS sum_qty, "
        f"count(l_orderkey) AS count_order FROM {PART_STAR} "
        f"WHERE l_returnflag = '{flag}' GROUP BY 1 HAVING sum(l_quantity) > {threshold}"
    )
    return Statement("filter_order", mdx, sql)


_MONTHLY = (
    "SELECT year(o_orderdate) AS o_year, 'Q' || quarter(o_orderdate) AS o_quarter, "
    "month(o_orderdate) AS o_month, sum(l_quantity) AS sum_qty "
    "FROM {star} WHERE r_name = '{region}' GROUP BY 1, 2, 3"
)


def time_intel(rng: random.Random) -> Statement:
    """YTD and ParallelPeriod calc members over months, sliced by region."""
    region = rng.choice(REGIONS)
    mdx = (
        "WITH MEMBER [Measures].[YTD Qty] AS 'Sum(Ytd(), [Measures].[Sum Qty])' "
        "MEMBER [Measures].[PY Qty] AS "
        "'([Measures].[Sum Qty], ParallelPeriod([Time].[Year], 1))' "
        "SELECT {[Measures].[Sum Qty], [Measures].[YTD Qty], [Measures].[PY Qty]} "
        f"ON COLUMNS, [Time].[Month].Members ON ROWS FROM [Sales] "
        f"WHERE [Customer].[{region}]"
    )
    monthly = _MONTHLY.format(star=CUST_STAR, region=region)
    sql = (
        f"WITH agg AS ({monthly}) "
        "SELECT o_year, o_quarter, o_month, sum_qty, "
        "sum(sum_qty) OVER (PARTITION BY o_year ORDER BY o_quarter, o_month "
        "ROWS UNBOUNDED PRECEDING) AS ytd_qty, "
        "lag(sum_qty, 1) OVER (PARTITION BY o_quarter, o_month ORDER BY o_year) AS py_qty "
        "FROM agg"
    )
    return Statement("time_intel", mdx, sql)


def exists_filter(rng: random.Random) -> Statement:
    """Exists over a Filter-computed set: evaluated during translation."""
    year = rng.choice(FULL_YEARS)
    # per-region quantity in a full year spans 449k-486k (445k-491k in the
    # shared tables); thresholds split both
    threshold = rng.randrange(456_000, 470_000, 1_000)
    mdx = (
        "SELECT {[Measures].[Sum Qty]} ON COLUMNS, "
        "Exists([Customer].[Nation].Members, "
        f"Filter([Customer].[Region].Members, [Measures].[Sum Qty] > {threshold})) "
        f"ON ROWS FROM [Sales] WHERE [Time].[{year}]"
    )
    sql = (
        f"WITH star AS (SELECT r_name, n_name, l_quantity FROM {CUST_STAR} "
        f"WHERE year(o_orderdate) = {year}), "
        f"big AS (SELECT r_name FROM star GROUP BY 1 HAVING sum(l_quantity) > {threshold}) "
        "SELECT r_name AS region_name, n_name AS nation_name, sum(l_quantity) AS sum_qty "
        "FROM star WHERE r_name IN (SELECT r_name FROM big) GROUP BY 1, 2"
    )
    return Statement("exists_filter", mdx, sql)


def generate_topcount(rng: random.Random) -> Statement:
    """Per-member Generate of each year's top nations: a translation-time set."""
    flag = rng.choice(FLAGS)
    n = rng.randint(1, 3)
    mdx = (
        "SELECT {[Measures].[Sum Price]} ON COLUMNS, "
        "Generate([Time].[Year].Members, "
        f"TopCount([Customer].[Nation].Members, {n}, [Measures].[Sum Price])) "
        f"ON ROWS FROM [Sales] WHERE [ReturnFlag].[{flag}]"
    )
    sql = (
        f"WITH f AS (SELECT * FROM {CUST_STAR} WHERE l_returnflag = '{flag}'), "
        f"yr AS (SELECT year(o_orderdate) AS y, r_name, n_name, {PRICE} AS s "
        "FROM f GROUP BY 1, 2, 3), "
        "top AS (SELECT DISTINCT r_name, n_name FROM (SELECT r_name, n_name, "
        "row_number() OVER (PARTITION BY y ORDER BY s DESC) AS rn FROM yr) "
        f"WHERE rn <= {n}) "
        f"SELECT f.r_name AS region_name, f.n_name AS nation_name, {PRICE} AS sum_price "
        "FROM f JOIN top ON top.r_name = f.r_name AND top.n_name = f.n_name "
        "GROUP BY 1, 2"
    )
    return Statement("generate_topcount", mdx, sql)


def strtomember(rng: random.Random) -> Statement:
    """StrToMember in an axis set and in a slicer tuple."""
    region = rng.choice(REGIONS)
    nations = rng.sample(NATIONS_BY_REGION[region], 2)
    year = rng.choice(YEARS)
    flag = rng.choice(FLAGS)
    mdx = (
        "SELECT {[Measures].[Sum Qty], [Measures].[Avg Qty]} ON COLUMNS, "
        f"{{StrToMember('[Customer].[{region}].[{nations[0]}]'), "
        f"[Customer].[{region}].[{nations[1]}]}} ON ROWS FROM [Sales] "
        f"WHERE (StrToMember('[Time].[{year}]'), StrToMember('[ReturnFlag].[{flag}]'))"
    )
    in_list = ", ".join(f"'{n}'" for n in nations)
    sql = (
        "SELECT r_name AS region_name, n_name AS nation_name, "
        "sum(l_quantity) AS sum_qty, avg(l_quantity) AS avg_qty "
        f"FROM {CUST_STAR} WHERE n_name IN ({in_list}) "
        f"AND year(o_orderdate) = {year} AND l_returnflag = '{flag}' GROUP BY 1, 2"
    )
    return Statement("strtomember", mdx, sql)


#: one entry per template family; a cold round issues one of each
FAMILIES: tuple[Callable[[random.Random], Statement], ...] = (
    level_axis,
    crossjoin_nonempty,
    topcount,
    filter_order,
    time_intel,
    exists_filter,
    generate_topcount,
    strtomember,
)
