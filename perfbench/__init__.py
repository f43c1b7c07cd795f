"""Benchmark of record for the swish-e-spark engine (see README.md)."""
