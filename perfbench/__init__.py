"""Benchmark for the linkgraph engine; entry point perfbench/run.py."""
