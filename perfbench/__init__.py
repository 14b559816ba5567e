"""The engine benchmark: seeded closed-loop workloads, per-op checks and
span tracing. Entry point: ``python3 perfbench/run.py``."""
