"""Benchmark for the probminhash_spark dedup surfaces; see run.py."""
