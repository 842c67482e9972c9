"""Benchmark for pandabase_spark: see README.md in this directory."""
