"""Benchmark for the indicator-ETL engine; see README.md."""
