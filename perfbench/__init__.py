"""Benchmark of the yago4_spark KG build and document curation; see run.py."""
