"""Benchmark of the public sifts_spark Collection API (see README.md)."""
