"""Benchmark for the near-duplicate engine; entry point: perfbench/run.py."""
