"""Benchmark of the engine, run through ``perfbench/run.py``."""
