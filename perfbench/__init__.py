"""Benchmark of the retail analytics engine: see README.md."""
