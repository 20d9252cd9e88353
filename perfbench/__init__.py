"""Extraction benchmark for dedoc_spark: see perfbench/README.md."""
