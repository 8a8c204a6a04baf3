"""Query-side engine: parser → logical Query tree → index engine.

- :mod:`lucene_solr_spark.query.executor` — the index engine: pruned
  segment scan → vectorized posting decode → block-max WAND top-k.
- :mod:`lucene_solr_spark.query.oracle` — the DuckDB SQL twin of every
  scoring contract (the pinned rank-identity oracle, SURVEY §7.5).
"""
