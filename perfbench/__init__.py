"""Benchmark of the market-data pipeline: see NOTES.md and run.py."""
