"""Benchmark for the link-graph engine: see run.py."""
