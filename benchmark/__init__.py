"""Benchmark of pdf2dataset_spark: see README.md in this directory."""
