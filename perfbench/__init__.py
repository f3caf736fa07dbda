"""Benchmark of the lineage pipeline and the query engine; see run.py."""
