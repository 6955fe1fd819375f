"""Benchmark for the solar time-series engine: seeded inputs, workloads
timed through the package's public functions, output checks, and
per-layer traces read from Spark's event log."""
