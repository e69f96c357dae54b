"""Benchmark for the pcompress_spark engine (see README.md)."""
