"""Benchmark for ``polars_nexpresso_spark``: seeded workloads, output checks
and a traced per-layer run. Entry point: ``python3 perfbench/run.py``."""
