"""Benchmark of the crawl engine and its analytics plans (see run.py)."""
