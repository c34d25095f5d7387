"""Benchmark of the SCBF engine; entry point ``perfbench/run.py``."""
