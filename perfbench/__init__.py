"""Benchmark harness for the KG-construction package; see README.md."""
