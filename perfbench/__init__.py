"""Layered benchmark of the pagerank_spark engine (see README.md)."""
