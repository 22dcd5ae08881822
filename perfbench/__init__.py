"""Benchmark of the production KG job; see README.md."""
