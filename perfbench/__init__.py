"""Benchmark for the log-pipeline engine; see perfbench/run.py."""
