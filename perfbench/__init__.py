"""Benchmark for kaj_query_engine_spark; see README.md."""
