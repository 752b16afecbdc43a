"""Benchmark of the lucene_clj_spark engine; see README.md."""
