"""Meta-tests over the driver contract in __spark_entry__.py — cheap
insurance that future registrations keep the gate's invariants."""

import importlib.util
import os
import sys


def _entry_module():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(root, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("spark_entry", mod)
    spec.loader.exec_module(mod)
    return mod


def test_every_query_has_an_oracle_and_names_are_sane():
    se = _entry_module()
    qs, oracles = se.queries(), se.oracle_sql()
    assert set(oracles) <= set(qs), "oracle without a query"
    missing = sorted(set(qs) - set(oracles))
    # the suite's standing invariant: EVERY entry is oracle-backed
    assert not missing, f"queries without oracles: {missing}"
    for name in qs:
        assert name == name.lower() and " " not in name, name


def test_driver_prefix_leads_with_never_checked_entries():
    """The driver hashes a 50-entry prefix of queries(): entries that have
    never appeared in a CORRECTNESS file must come first so they rotate
    through the gate, then the rest most-stale-first."""
    se = _entry_module()
    names = list(se.queries())
    checked = se._last_hashed()
    unchecked_positions = [i for i, n in enumerate(names) if n not in checked]
    checked_positions = [i for i, n in enumerate(names) if n in checked]
    if unchecked_positions and checked_positions:
        assert max(unchecked_positions) < min(checked_positions)
    rounds = [checked[n] for n in names if n in checked]
    assert rounds == sorted(rounds)


def test_last_hashed_covers_every_entry():
    """The rotation map is derived from the committed CORRECTNESS_r*.json
    files, and every one of the 249 suite entries has been hashed green
    in some round."""
    se = _entry_module()
    names = set(se.queries())
    assert len(names) == 249 and set(se._last_hashed()) == names


def test_driver_checked_names_still_exist():
    """A renamed/removed suite entry must not linger in the rotation map —
    it would silently shrink the rotation budget."""
    se = _entry_module()
    qs = set(se.queries())
    stale = sorted(set(se._last_hashed()) - qs)
    assert not stale, f"stale rotation names: {stale}"


def test_bench_stdout_line_stays_under_budget():
    """The driver parses only a ~2000-char tail of bench stdout; the
    emitted line must stay under the 1700-char budget no matter how many
    headline entries exist (rounds 5-7 silently recorded parsed=null
    when the line outgrew the tail)."""
    import json

    from bench import compact_line

    detail = {
        "value": 12.345,
        "cold_value": 300.1,
        "sf": 0.1,
        "queries": {
            f"very_long_operator_entry_name_number_{i:04d}": i * 0.013
            for i in range(500)
        },
    }
    line = compact_line(detail, 500)
    assert len(line) <= 1700
    parsed = json.loads(line)
    assert parsed["queries_n"] == 500 and parsed["value"] == 12.345
    # slowest entries survive the truncation
    assert "very_long_operator_entry_name_number_0499" in parsed["queries"]
    # round-12 PERF phantom drops: absence from the line must be
    # distinguishable from removal — omitted_n counts below-cutoff entries
    assert parsed["omitted_n"] == 500 - len(parsed["queries"])
    assert parsed["omitted_n"] > 0


def test_churn_verdict_isolated_vs_isolated():
    """Round-11 VERDICT demerit #1: the detector compared a freshly-warmed
    isolate JVM against an in-suite warm and could emit untrustable
    "regression" labels.  The adjudicator must (a) still catch a real 2x
    slowdown against a like-for-like isolated baseline, (b) never call
    "regression" off an in-suite baseline, and (c) absorb sub-grace noise
    on tiny entries."""
    from bench import churn_verdict

    # real 2x against an isolated baseline on a non-trivial entry -> caught
    assert churn_verdict(2.0, 1.0, "isolated") == "regression"
    # flat against an isolated baseline -> churn
    assert churn_verdict(1.05, 1.0, "isolated") == "churn"
    # tiny entry: 2.5x of 0.1s is inside the absolute grace -> churn
    assert churn_verdict(0.25, 0.1, "isolated") == "churn"
    # no isolated history: the run RECORDS a baseline, never a regression
    assert churn_verdict(5.0, 0.2, "in_suite") == "baseline"
    assert churn_verdict(0.21, 0.2, "in_suite") == "churn"


def test_churn_isolated_baselines_carry_forward(tmp_path):
    """isolated_baselines in BENCH_DETAIL must persist across runs (same
    sf AND same core count) so the next run's movers get a like-for-like
    baseline — and must NOT be read across core counts (round-12 VERDICT
    "What's wrong" #2: the 8-core sweep adjudicated against 32-core
    baselines)."""
    import json

    from bench import load_prev_history

    prev = {
        "sf": 0.1,
        "cpus": 32,
        "queries": {"a": 0.1, "b": 0.2},
        "isolated_baselines": {"a": {"warm": 0.12, "cold": 1.0}},
    }
    p = tmp_path / "BENCH_DETAIL.json"
    p.write_text(json.dumps(prev))
    warm, iso = load_prev_history([str(p)], 0.1, 32)
    assert iso["a"]["warm"] == 0.12 and warm["b"] == 0.2
    # core-count mismatch drops both warm history and baselines
    warm, iso = load_prev_history([str(p)], 0.1, 8)
    assert warm == {} and iso == {}
    # sf mismatch drops both too
    warm, iso = load_prev_history([str(p)], 0.01, 32)
    assert warm == {} and iso == {}
    # legacy file without a cpus key is never comparable
    del prev["cpus"]
    p.write_text(json.dumps(prev))
    warm, iso = load_prev_history([str(p)], 0.1, 32)
    assert warm == {} and iso == {}


def test_churn_percore_archive_preferred(tmp_path):
    """The same-core archive (BENCH_DETAIL_c{N}.json) is consulted before
    the latest-run file, so a scaling sweep at another core count cannot
    clobber the 32-core baseline history."""
    import json

    from bench import load_prev_history

    percore = tmp_path / "BENCH_DETAIL_c32.json"
    latest = tmp_path / "BENCH_DETAIL.json"
    percore.write_text(json.dumps({
        "sf": 0.1, "cpus": 32, "queries": {"a": 0.1},
        "isolated_baselines": {"a": {"warm": 0.1, "cold": 1.0}},
    }))
    # latest run was the 8-core sweep
    latest.write_text(json.dumps({
        "sf": 0.1, "cpus": 8, "queries": {"a": 0.4},
        "isolated_baselines": {"a": {"warm": 0.4, "cold": 2.0}},
    }))
    warm, iso = load_prev_history([str(percore), str(latest)], 0.1, 32)
    assert warm == {"a": 0.1} and iso["a"]["warm"] == 0.1
    warm, iso = load_prev_history([str(percore), str(latest)], 0.1, 8)
    assert warm == {"a": 0.4} and iso["a"]["warm"] == 0.4
