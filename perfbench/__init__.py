"""Benchmark of the scoobie_spark engine: see perfbench/README.md."""
