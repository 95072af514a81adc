"""Benchmark of the token-lakehouse maintenance engine; see README.md."""
