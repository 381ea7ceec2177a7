"""Extraction benchmark for zpdfspark; the entry point is perfbench/run.py."""
