"""Benchmark of the CDC engine: workloads, oracles and tracing."""
