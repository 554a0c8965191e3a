"""Benchmark of the spark-doccheck engine; entry point: perfbench/run.py."""
