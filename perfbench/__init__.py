"""Benchmark for the CDC destination; run ``perfbench/run.py``."""
