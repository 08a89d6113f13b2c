"""The repository benchmark: three workloads driven through the engine's
public calls, with end-to-end and per-layer metrics.  Entry point:
``python3 perfbench/run.py``; workload and metric definitions are in
``perfbench/spec.json``."""
