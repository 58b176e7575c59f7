"""Benchmark of the roddy_spark engine; entry point ``run.py``."""
