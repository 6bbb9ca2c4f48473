"""Benchmark of the ubw_spark engine: see run.py."""
