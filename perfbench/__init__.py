"""Seeded end-to-end benchmark of ``pyspark_graph_spark``; run ``perfbench/run.py``."""
