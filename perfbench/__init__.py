"""Benchmark for the streaming pipeline and the batch catalog; run
``python3 perfbench/run.py --help``."""
