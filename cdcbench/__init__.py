"""Benchmark of the CDC engine: workloads, expectations and tracing."""
