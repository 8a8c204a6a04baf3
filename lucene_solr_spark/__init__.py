"""lucene_solr_spark — a PySpark-native full-text analytics engine.

A from-scratch re-expression of the query / indexing / faceting
capabilities of the ``tokee/lucene-solr`` fork (Lucene/Solr +
SOLR-5894 sparse faceting) in idiomatic Spark:

- inverted-index segments built in ``mapInPandas`` (vectorized numpy
  delta+varint posting codec, block-max metadata),
- tiered segment merge and split, one shuffle-free task per output
  segment, through one vectorized rewriter that keeps the index sort,
- BM25 top-k with block-max-WAND-style pruning,
- SOLR-5894-style sparse high-cardinality faceting with two-phase
  distributed merge-and-refine,
- an Iceberg-style snapshot/manifest layer for per-partition
  checkpoint + resume with lineage and metrics.

Everything is DataFrame-first: Catalyst handles scans, pruning,
joins, partial aggregation and top-k; Arrow-vectorized pandas UDFs
handle only what Catalyst cannot express (posting codecs, WAND).
No per-row Python anywhere on a hot path.
"""

__version__ = "0.1.0"

from pyspark import SparkFiles

from lucene_solr_spark.analyzer import TOKEN_PATTERN, tokenize_pandas, tokens_col

if SparkFiles._is_running_on_worker:
    from lucene_solr_spark.session import lazy_zip_invalidation

    lazy_zip_invalidation()

__all__ = ["TOKEN_PATTERN", "tokenize_pandas", "tokens_col", "__version__"]
