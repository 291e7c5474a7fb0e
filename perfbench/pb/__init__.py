"""Helpers of the benchmark's entry point, `perfbench/run.py`."""
