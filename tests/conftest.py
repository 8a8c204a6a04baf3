from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_spark.query.oracle import (  # noqa: E402
    DEFAULT_TOKS_SQL,
    bm25_oracle_sql,
)
from lucene_solr_spark.session import get_spark  # noqa: E402
from lucene_solr_spark.transcripts import TRANSCRIPTS_ORACLE_CTE  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the ``documents`` view the oracle SQL
    reads (through the transcripts CTE)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    yield con
    con.close()


@pytest.fixture(scope="session")
def oracle_topk(duck):
    """``oracle_topk(spec, toks_sql=..., round_to=None)`` → the DuckDB
    oracle's pinned top-k (conv_id, turn_idx, score) as a pandas frame;
    raw float64 scores unless ``round_to`` is given."""

    def run(spec, toks_sql: str = DEFAULT_TOKS_SQL, round_to: int | None = None):
        sql = bm25_oracle_sql(spec, toks_sql=toks_sql, round_to=round_to)
        return duck.execute(sql).df()

    return run


@pytest.fixture(scope="session")
def oracle_docs(duck):
    """``oracle_docs(clause, frame=None)`` → the {(conv_id, turn_idx)}
    keys whose ``toks`` satisfy a DuckDB ``oracle._*_clause``: over the
    corpus (default analyzer), or over ``frame``, a pandas frame with
    conv_id, turn_idx and a ``toks`` list column."""

    def run(clause: str, frame=None) -> set[tuple[str, int]]:
        if frame is None:
            sql = f"""WITH {TRANSCRIPTS_ORACLE_CTE},
docs AS (SELECT conv_id, turn_idx, {DEFAULT_TOKS_SQL} AS toks
         FROM transcripts)
SELECT conv_id, turn_idx FROM docs WHERE {clause}"""
            rows = duck.execute(sql).fetchall()
        else:
            duck.register("frame_docs", frame)
            try:
                rows = duck.execute(
                    f"SELECT conv_id, turn_idx FROM frame_docs WHERE {clause}"
                ).fetchall()
            finally:
                duck.unregister("frame_docs")
        return {(c, int(i)) for c, i in rows}

    return run
