"""Benchmark for spark-graft: see README.md in this directory."""
