"""Benchmark for the pdfsearch_spark index/BM25 engine (see README.md)."""
