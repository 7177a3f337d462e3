"""Benchmark harness for dd_graphdb_spark; see run.py."""
