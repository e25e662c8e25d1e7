"""Benchmark for the jivesearch_spark build, Spark query and serving paths."""
