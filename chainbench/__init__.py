"""Benchmark for spark-chain-analytics; entry point ``run.py``."""
