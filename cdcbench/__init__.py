"""Benchmark of the CDC service and the query registry (see BENCHMARK.md)."""
