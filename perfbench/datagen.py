"""Deterministic sf0.1 input tables for the benchmark.

The tables are the engine's TPC-H-ish star schema (the ``Sales`` cube in
``mondrian_olap_spark/tpch.py``) plus the ``documents`` and ``embeddings``
tables the curation operators read, in the schema and with the value
distributions of the shared sf0.1 test tables that ``bench.py`` and the
suite's oracles use: 600k lineitem rows, 150k orders, 5k documents, 2k
embeddings; uniform keys; documents of 10-99 words drawn uniformly from a
30-word vocabulary, 5 % of them replaced by another document plus the token
``dup``.  The benchmark generates them because it may read nothing outside
its checkout; ``perfbench/datacheck.py`` compares them with the shared ones.

The data never depends on the workload seed: every run of every workload
reads the same bytes, and only the operations drawn from ``--seed`` differ.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated bytes change, so a stale cache is not reused
VERSION = 1
DATA_SEED = 20261016

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_DOCS = 5_000
N_DUP_DOCS = 250
N_VECS = 2_000
DIM = 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

_EPOCH = np.datetime64("1970-01-01")


def _days(a: str, b: str) -> tuple[int, int]:
    return (
        int((np.datetime64(a) - _EPOCH).astype(int)),
        int((np.datetime64(b) - _EPOCH).astype(int)),
    )


def _ts(rng, n: int, a: str, b: str) -> pa.Array:
    lo, hi = _days(a, b)
    days = rng.integers(lo, hi + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _decimal2(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _tables(rng) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype="int64"),
        "c_name": _names("Customer", N_CUSTOMER),
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype("int32"),
        "c_acctbal": _decimal2(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype="int64"),
        "s_name": _names("Supplier", N_SUPPLIER),
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype("int32"),
        "s_acctbal": _decimal2(rng, N_SUPPLIER, -999.99, 9999.99),
    })
    keys = np.arange(N_PART, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype("int32"),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype("int64"),
        "o_orderstatus": rng.choice(("F", "O", "P"), N_ORDERS),
        "o_totalprice": _decimal2(rng, N_ORDERS, 1_000.0, 500_000.0),
        "o_orderdate": _ts(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype("int64"),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype("int64"),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype("int64"),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype("int32"),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype("float64"),
        "l_extendedprice": _decimal2(rng, N_LINEITEM, 900.0, 105_000.0),
        "l_discount": _decimal2(rng, N_LINEITEM, 0.0, 0.1),
        "l_tax": _decimal2(rng, N_LINEITEM, 0.0, 0.08),
        "l_returnflag": rng.choice(("A", "N", "R"), N_LINEITEM),
        "l_linestatus": rng.choice(("F", "O"), N_LINEITEM),
        "l_shipdate": _ts(rng, N_LINEITEM, "1995-01-02", "2001-11-04"),
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _documents(rng) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, int(n))) for n in rng.integers(10, 100, N_DOCS)]
    # near-duplicates: a copy of another document (possibly itself a copy)
    # plus one token, at random positions
    for i, j in zip(rng.choice(N_DOCS, N_DUP_DOCS, replace=False), rng.integers(0, N_DOCS, N_DUP_DOCS)):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })


def _embeddings(rng) -> pa.Table:
    v = rng.normal(0.0, 1.0, (N_VECS, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.array([row.astype("float32") for row in v], type=pa.list_(pa.float32()))
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype="int64"),
        "embedding": emb,
        "label": rng.integers(0, 10, N_VECS).astype("int32"),
    })


def ensure(root: str) -> tuple[str, float]:
    """Generate the tables under ``root`` unless already there.

    Returns the table directory and the seconds spent generating (0.0 when
    the tables were already present).  The directory appears atomically, so
    an interrupted run leaves no half-written table set behind.
    """
    out = os.path.join(root, f"data-v{VERSION}", "sf0.1")
    if os.path.isdir(out):
        return out, 0.0
    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out, time.perf_counter() - t0
