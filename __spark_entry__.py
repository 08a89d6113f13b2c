"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query at sf0.001 (smoke).
``queries()`` — one entry per implemented operator from SURVEY.md §2,
implemented in :mod:`mondrian_olap_spark.suite` through the engine API.
``oracle_sql()`` — DuckDB-equivalent SQL per query (the correctness gate).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from mondrian_olap_spark.suite import QUERIES

    return QUERIES["flagship_region_quarter"](spark, "/root/testdata/sf0.001")


#: The driver checks a 50-entry prefix of ``queries()``, so its order is a
#: rotation policy:
#:
#: 1. never-driver-checked entries first (new this round), bit-exact-oracle
#:    entries before rows-only ones — a hash-verifiable entry must not lose
#:    its prefix slot to a weak-check entry;
#: 2. then previously-green entries, OLDEST last-hashed round first, so each
#:    round re-verifies the most stale hashes on current code.
#:
#: Full local coverage of every entry regardless of prefix position comes
#: from ``tools/check_oracle.py --exact`` (the gate mirror).
def _last_hashed() -> dict[str, int]:
    """Entry name → the latest round whose ``CORRECTNESS_r{N}.json`` (next
    to this file) hashed it green: rows, schema and value hash all matched.
    Only names still in the suite count."""
    import mondrian_olap_spark.suite_pipeline  # noqa: F401 — registers entries
    from mondrian_olap_spark.suite import QUERIES

    here = os.path.dirname(os.path.abspath(__file__))
    rounds: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        n = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            records = json.load(f)
        for name, rec in records.items():
            green = all(
                rec.get(k) for k in ("rows_match", "schema_match", "hash_match")
            )
            if green and name in QUERIES:
                rounds[name] = max(rounds.get(name, 0), n)
    return rounds


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    import mondrian_olap_spark.suite_pipeline  # noqa: F401 — registers entries
    from mondrian_olap_spark.suite import ORACLE, QUERIES

    last = _last_hashed()
    unchecked = {k: v for k, v in QUERIES.items() if k not in last}
    unchecked = dict(
        sorted(unchecked.items(), key=lambda kv: kv[0] not in ORACLE)
    )
    checked = {k: v for k, v in QUERIES.items() if k in last}
    checked = dict(
        sorted(checked.items(), key=lambda kv: (last[kv[0]], kv[0]))
    )
    return {**unchecked, **checked}


def oracle_sql() -> dict[str, str]:
    import mondrian_olap_spark.suite_pipeline  # noqa: F401 — registers entries
    from mondrian_olap_spark.suite import ORACLE

    return dict(ORACLE)
