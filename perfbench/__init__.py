"""Benchmark of the etl_rs_spark CDC engine; see README.md."""
