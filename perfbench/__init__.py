"""Benchmark of the streaming testbed engine (see README.md)."""
