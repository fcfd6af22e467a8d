"""Benchmark for the dump→DuckDB product path, KG reads and the query surface."""
