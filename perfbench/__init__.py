"""Benchmark for the hetnetdb_spark engine; see README.md."""
