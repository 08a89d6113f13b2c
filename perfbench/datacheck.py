#!/usr/bin/env python3
"""Compare two sf0.1 table directories on the properties the workloads'
costs and the MDX templates' thresholds depend on.

    python3 perfbench/datacheck.py DIR_A DIR_B

Typically DIR_A is the benchmark's generated tables
(``.bench_build/perfbench/data-v1/sf0.1``, written by any run) and DIR_B the
shared sf0.1 test tables.  Prints one line per statistic with both values.
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np

STATS = {
    "lineitem rows": "SELECT count(*) FROM lineitem",
    "orders rows": "SELECT count(*) FROM orders",
    "customer rows": "SELECT count(*) FROM customer",
    "part rows": "SELECT count(*) FROM part",
    "documents rows": "SELECT count(*) FROM documents",
    "embeddings rows": "SELECT count(*) FROM embeddings",
    "orders with lineitems": "SELECT count(DISTINCT l_orderkey) FROM lineitem",
    "max lineitems per order": "SELECT max(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_orderkey)",
    "max lineitems per part": "SELECT max(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_partkey)",
    "max orders per customer": "SELECT max(n) FROM (SELECT count(*) n FROM orders GROUP BY o_custkey)",
    "distinct part names": "SELECT count(DISTINCT p_name) FROM part",
    "mean l_quantity": "SELECT avg(l_quantity) FROM lineitem",
    "mean l_extendedprice": "SELECT avg(l_extendedprice) FROM lineitem",
    "mean l_discount": "SELECT avg(l_discount) FROM lineitem",
    "orders in 1996": "SELECT count(*) FROM orders WHERE year(o_orderdate) = 1996",
    "orders in 2001": "SELECT count(*) FROM orders WHERE year(o_orderdate) = 2001",
    # the filter_order and exists_filter thresholds cut inside these ranges
    "brand qty per flag, min": "SELECT min(q) FROM (SELECT sum(l_quantity) q FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY l_returnflag, p_brand)",
    "brand qty per flag, max": "SELECT max(q) FROM (SELECT sum(l_quantity) q FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY l_returnflag, p_brand)",
    "region qty per full year, min": "SELECT min(q) FROM (SELECT sum(l_quantity) q FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey WHERE year(o_orderdate) <= 2000 GROUP BY n_regionkey, year(o_orderdate))",
    "region qty per full year, max": "SELECT max(q) FROM (SELECT sum(l_quantity) q FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey WHERE year(o_orderdate) <= 2000 GROUP BY n_regionkey, year(o_orderdate))",
    "doc words, median": "SELECT median(len(string_split(text, ' '))) FROM documents",
    "doc words, min": "SELECT min(len(string_split(text, ' '))) FROM documents",
    "doc words, max": "SELECT max(len(string_split(text, ' '))) FROM documents",
    "doc chars, mean": "SELECT avg(n_chars) FROM documents",
    "vocabulary": "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "docs with a 'dup' token": "SELECT count(*) FROM documents WHERE list_contains(string_split(text, ' '), 'dup')",
    "exact duplicate docs": "SELECT count(*) - count(DISTINCT text) FROM documents",
    "share of docs in en": "SELECT avg((lang = 'en')::int) FROM documents",
    "distinct sources": "SELECT count(DISTINCT source) FROM documents",
    "embedding dims": "SELECT max(len(embedding)) FROM embeddings",
}


def profile(data_dir: str) -> dict[str, float]:
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "nation", "part", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {name: float(con.execute(sql).fetchone()[0]) for name, sql in STATS.items()}
    emb = con.execute("SELECT embedding, label FROM embeddings").fetchall()
    v = np.array([e for e, _ in emb], dtype=np.float64)
    labels = np.array([lab for _, lab in emb])
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    same = labels[:, None] == labels[None, :]
    np.fill_diagonal(same, False)
    out["embedding cosine, same label"] = float(sims[same].mean())
    con.close()
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (profile(d) for d in argv)
    for name in a:
        print(f"{name:32s} {a[name]:14.6g} {b[name]:14.6g}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
