"""The repository benchmark: seeded inputs, two workloads, end-to-end and
per-layer metrics. Entry point: ``python3 perfbench/run.py``."""
