"""Benchmark of the gliner_spark package (see run.py)."""
