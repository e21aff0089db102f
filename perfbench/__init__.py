"""Benchmark of the iresearch_spark engine: see README.md in this directory."""
