"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 top-10 over the transcripts table
derived from sf0.001 documents. ``queries()``/``oracle_sql()`` — the
operator battery from SURVEY.md §2, backed by
``lucene_solr_spark.registry``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from lucene_solr_spark import registry  # noqa: E402
from lucene_solr_spark.query.model import BooleanSpec  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    searcher = registry.cached_searcher(spark, "/root/testdata/sf0.001")
    return searcher.search(BooleanSpec(must=("merge",), k=10), round_to=4)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for each queries() key (where SQL-expressible)."""
    return dict(registry.ORACLES)
