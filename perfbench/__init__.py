"""Layered benchmark of lucene_spark: end-to-end workloads and per-layer traces."""
