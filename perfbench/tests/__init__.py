"""Tests of the benchmark's pure-Python parts (no Spark)."""
