"""Extraction benchmark for pdf2dom_spark (run with ``python3 perfbench/run.py``)."""
