"""Benchmark of the Latinad pipeline and the registry analytics (see README.md)."""
