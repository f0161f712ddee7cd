"""Benchmark of the lsh_hdc_spark dedup engine (see run.py)."""
