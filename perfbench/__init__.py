"""Benchmark of record for the crawl engine (see perfbench/README.md)."""
