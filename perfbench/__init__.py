"""Benchmark for sparksimjoin: see BENCHMARK.json and README.md."""
