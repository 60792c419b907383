"""Benchmark of the IIS loader; entry point ``perfbench/run.py``."""
