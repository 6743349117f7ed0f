"""Benchmark for nipper_spark: see run.py."""
