"""Self-test of the benchmark.

Two traced runs with one seed must count the same work, and the layer spans
must cover each operation.  These tests run the benchmark itself, two traced
runs per workload, so they take several minutes:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")
WORKLOADS = ("olap_cold", "olap_warm_session", "curation_batch")

#: counters that depend only on the seed and the code, never on timing
REPEATABLE = (
    "query.build_jobs",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.failed_tasks",
    "plan.exchanges",
    "plan.broadcast_exchanges",
    "plan.python_evals",
    "cache.hits",
    "cache.misses",
    "cache.rollups",
    "cache.evictions",
    "cache.flushed_entries",
    "cache.hit_ratio",
) + tuple(
    f"operators.{e}.jobs"
    for e in (
        "dedup_minhash_lsh_pairs",
        "dedup_simhash_pairs",
        "text_cdc_chunks",
        "text_quality_features",
        "embed_pq_topk",
        "multimodal_decode_features",
    )
)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


def _traced(workload: str, seed: int) -> dict:
    out = _run(ROOT, "--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", "1")
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counters_repeat(workload):
    first, second = _traced(workload, 11), _traced(workload, 11)
    for run in (first, second):
        assert run["correct"] and run["failed"] == 0
        # the layer self times cover the op spans to within 5 %
        assert run["metrics"]["trace.coverage_pct"]["value"] >= 95.0
    for name in REPEATABLE:
        assert first["metrics"][name] == second["metrics"][name], name


def test_every_metric_and_workload_is_described():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        spec = json.load(f)
    for section in ("end_to_end", "per_layer"):
        assert [m["name"] for m in bench[section]] == list(spec[section]), section
    assert set(spec["workloads"]) == set(WORKLOADS)
    listed = [w for w, d in spec["workloads"].items() if d["in_benchmark_json"] == "yes"]
    assert [w["name"] for w in bench["workloads"]] == listed


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    out = _run(str(tmp_path), "--workload", "olap_cold", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout == ""
