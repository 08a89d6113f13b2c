"""DuckDB oracle answers and the order-insensitive row comparison.

The comparison is the rule of ``tools/check_oracle.py`` (without
``--exact``): same column names, same row count, and the same multiset of
rows, with floats equal to a relative tolerance of 1e-5.  It is restated
here so the benchmark does not depend on a repository tool's internals.

Oracle answers depend only on the SQL text and the generated tables, so
each is computed once per checkout and kept as a parquet file next to the
tables; later runs still compare every output against it.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

TABLES = "region nation customer supplier part orders lineitem documents embeddings".split()


def _norm(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(int(v)))
    if isinstance(v, float):
        return (2, "nan" if math.isnan(v) else f"{v:.6g}")
    try:
        return (2, f"{float(v):.6g}")
    except (TypeError, ValueError):
        return (3, str(v))


def compare(rows, cols, want_rows, want_cols) -> str | None:
    """None when the two row sets match, else a one-line reason."""
    if sorted(cols) != sorted(want_cols):
        return f"columns {sorted(cols)} vs {sorted(want_cols)}"
    if len(rows) != len(want_rows):
        return f"rows {len(rows)} vs {len(want_rows)}"
    order = sorted(cols)
    got = sorted(tuple(_norm(r[cols.index(c)]) for c in order) for r in rows)
    want = sorted(tuple(_norm(r[want_cols.index(c)]) for c in order) for r in want_rows)
    for a, b in zip(got, want):
        for (ka, va), (kb, vb) in zip(a, b):
            if ka != kb:
                return f"type {a} vs {b}"
            if va == vb:
                continue
            if ka != 2 or not math.isclose(float(va), float(vb), rel_tol=1e-5, abs_tol=1e-6):
                return f"value {a} vs {b}"
    return None


class Oracle:
    def __init__(self, data_dir: str, cache_dir: str):
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def answer(self, sql: str) -> tuple[list[str], list[tuple]]:
        path = os.path.join(self._cache_dir, hashlib.sha1(sql.encode()).hexdigest() + ".parquet")
        if not os.path.exists(path):
            tmp = f"{path}.{os.getpid()}.tmp"
            self._con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
            os.replace(tmp, path)
        rel = self._con.sql(f"SELECT * FROM '{path}'")
        return list(rel.columns), rel.fetchall()

    def check(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        want_cols, want_rows = self.answer(sql)
        return compare(rows, cols, want_rows, want_cols)

    def close(self) -> None:
        self._con.close()
