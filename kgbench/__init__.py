"""Benchmark of the KG-construction and mixture-cleaning jobs; see run.py."""
