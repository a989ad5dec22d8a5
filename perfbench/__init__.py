"""Benchmark of the user's path and the query catalog; see run.py."""
