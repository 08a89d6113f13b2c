#!/usr/bin/env python3
"""Run every workload once and print each metric by name with its unit.

    python3 perfbench/report.py [--seed N] [--seconds S] [--trace]

Each workload runs in its own process through ``perfbench/run.py``, as one
benchmark run does; ``--trace`` adds a traced run of each for the per-layer
metrics.  Takes about a minute per run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("olap_cold", "olap_warm_session", "curation_batch")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    failed = False
    for trace in (0, 1) if args.trace else (0,):
        for wl in WORKLOADS:
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
                cwd=os.path.dirname(HERE), capture_output=True, text=True,
            )
            if out.returncode != 0:
                print(f"{wl}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
                failed = True
                continue
            # every line but the last JSON object is the readable report
            lines = out.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            failed |= not json.loads(lines[-1])["correct"]
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
