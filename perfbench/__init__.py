"""Benchmark for the batch, streaming and catalog paths (run ``perfbench/run.py``)."""
