#!/usr/bin/env python
"""Capture plans/<round>/<name>_<suffix>.txt for the named entries.

Usage: capture_plans.py --out plans/r13 [--suffix after] name [name ...]

Run from the tree whose plans you want (a detached baseline worktree for
``--suffix before``); PLAN_OUT_DIR may be absolute so before/after land in
the SAME repo's plans directory.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

args = sys.argv[1:]
out_dir = None
suffix = "after"
while args and args[0].startswith("--"):
    flag = args.pop(0)
    if flag == "--out":
        out_dir = args.pop(0)
    elif flag == "--suffix":
        suffix = args.pop(0)
    else:
        raise SystemExit(f"unknown flag {flag}")
if out_dir is None:
    raise SystemExit("capture_plans.py: --out DIR is required")

import bench  # noqa: E402

spark = bench._build_spark()
import mondrian_olap_spark.suite_pipeline  # noqa: F401,E402
from mondrian_olap_spark.suite import QUERIES  # noqa: E402

os.makedirs(out_dir, exist_ok=True)
mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
    "formatted")

for name in args:
    bench._tune_splits(spark, name)
    df = QUERIES[name](spark, SF_DIR)
    txt = df._jdf.queryExecution().explainString(mode)
    with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
        f.write(txt)
    print(name, "ok", flush=True)
