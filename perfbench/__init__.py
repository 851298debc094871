"""Benchmark for the bigdata_rags_spark library (see README.md)."""
