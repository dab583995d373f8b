"""Benchmark for the HAND index engine; run ``python3 perfbench/run.py --help``."""
