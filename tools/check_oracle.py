#!/usr/bin/env python
"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares it to
its ``oracle_sql()`` DuckDB result: row count, column names, and
order-insensitive values (floats with tolerance).  Usage:

    python tools/check_oracle.py [query-name ...]
"""

from __future__ import annotations

import atexit
import math
import os
import shutil
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


#: --exact: a proxy for the driver's value *hash*, which stringifies values
#: WITHOUT numeric coercion — so Decimal('0.378000') vs float 0.378 and
#: int vs float are mismatches, exactly as they are at the driver.  Queries
#: that pass --exact are bit-deterministic AND type-aligned.
EXACT = False


def norm(v):
    import decimal

    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(int(v)))
    if EXACT:
        # preserve native types: the driver hashes the stringified value, so
        # a Decimal-vs-float or int-vs-float divergence must FAIL here too
        if isinstance(v, float):
            return (2, "nan" if math.isnan(v) else repr(v))
        if isinstance(v, int):
            return (4, str(v))
        if isinstance(v, decimal.Decimal):
            return (5, str(v))
        return (3, str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return (2, "nan")
        return (2, f"{v:.6g}")
    try:
        f = float(v)
        return (2, f"{f:.6g}")
    except (TypeError, ValueError):
        return (3, str(v))


def compare(srows, scols, drows, dcols):
    if sorted(scols) != sorted(dcols):
        return f"SCHEMA columns {sorted(scols)} vs {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"ROWS {len(srows)} vs {len(drows)}"
    order = sorted(scols)
    sidx = [scols.index(c) for c in order]
    didx = [dcols.index(c) for c in order]
    snorm = sorted(tuple(norm(r[i]) for i in sidx) for r in srows)
    dnorm = sorted(tuple(norm(r[i]) for i in didx) for r in drows)
    for a, b in zip(snorm, dnorm):
        for (ka, va), (kb, vb) in zip(a, b):
            if ka != kb:
                return f"TYPE {a} vs {b}"
            if ka == 2 and va != vb:
                if EXACT:
                    return f"EXACT-VALUE {a} vs {b}"
                fa, fb = float(va), float(vb)
                if not math.isclose(fa, fb, rel_tol=1e-5, abs_tol=1e-6):
                    return f"VALUE {a} vs {b}"
            elif ka != 2 and va != vb:
                return f"VALUE {a} vs {b}"
    return None


def main():
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    global EXACT
    args = [a for a in sys.argv[1:] if a != "--exact"]
    EXACT = "--exact" in sys.argv[1:]
    only = set(args)
    # SPARK_GRAFT_ORACLE_CORES / _PARTS / _AQE let a robustness sweep run
    # the whole suite under an ADVERSARIAL layout (odd core/partition
    # counts, AQE off) — determinism claims mean results must not depend
    # on any of these
    cores = os.environ.get("SPARK_GRAFT_ORACLE_CORES", "8")
    parts = os.environ.get("SPARK_GRAFT_ORACLE_PARTS", "16")
    aqe = os.environ.get("SPARK_GRAFT_ORACLE_AQE", "true").lower()
    # Spark 4 parses this config lazily; an invalid boolean ("off", "no")
    # throws inside the DAG scheduler event loop and the job HANGS forever
    # instead of failing.  Normalize the obvious spellings so the sweep
    # can never silently wedge.
    aqe = {"off": "false", "no": "false", "0": "false",
           "on": "true", "yes": "true", "1": "true"}.get(aqe, aqe)
    if aqe not in ("true", "false"):
        raise SystemExit(f"SPARK_GRAFT_ORACLE_AQE must be true/false, got {aqe!r}")
    # a warehouse of its own: entries that save tables drop and rewrite
    # them by name, so two runs sharing ./spark-warehouse (say, the default
    # and the adversarial layout at once) would delete each other's files
    warehouse = tempfile.mkdtemp(prefix="oracle-warehouse-")
    atexit.register(shutil.rmtree, warehouse, ignore_errors=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("oracle-check")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    passed = failed = skipped = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failed += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows={len(srows)}) [{time.time()-t0:.1f}s]")
            skipped += 1
            continue
        try:
            rel = con.sql(sql)
            dcols = list(rel.columns)
            dtypes = [str(t).upper() for t in rel.types]
            drows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failed += 1
            continue
        err = compare(srows, scols, drows, dcols)
        if err is None and EXACT:
            # the driver materialises the DuckDB side through pandas, where
            # HUGEINT becomes float64 ("5.0" vs Spark's "5") — fetchall()
            # can't see that, so flag the column type itself
            huge = [c for c, t in zip(dcols, dtypes) if t == "HUGEINT"]
            if huge:
                err = f"ORACLE-TYPE HUGEINT column(s) {huge} — CAST to BIGINT"
        if err:
            print(f"FAIL {name}: {err} [{time.time()-t0:.1f}s]")
            failed += 1
        else:
            print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            passed += 1
    print(f"\n{passed} passed, {failed} failed, {skipped} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
