"""Benchmark for the parameter-server engine; run it with ``python3 perfbench/run.py``."""
