"""Reference answers the benchmark checks the engine's outputs against,
computed outside the timed region.

* BM25 top-k and match sets: the project's DuckDB oracle SQL
  (``query.oracle.bm25_oracle_sql``) run over the benchmark's corpus,
  with full-corpus statistics and deleted keys dropped before the
  top-k cut (the pinned liveDocs contract).
* Facet counts: a plain pandas ``groupby().size()`` over the oracle's
  match set.
* Dedup operators: their registered DuckDB oracles
  (``operators.textpipe.OPS``) over the same document sample.
"""

from __future__ import annotations

import dataclasses

import duckdb
import pandas as pd

from lucene_solr_spark.query.oracle import ROUND, bm25_oracle_sql
from lucene_solr_spark.transcripts import TRANSCRIPTS_ORACLE_CTE

ALL = 1 << 40


def _connect(work_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{work_dir}/duckdb_tmp'")
    return con


class Bm25Oracle:
    def __init__(self, corpus: pd.DataFrame, work_dir: str):
        self.con = _connect(work_dir)
        self.con.register("corpus_pdf", corpus)
        self.con.execute(
            "CREATE TABLE corpus AS SELECT *,"
            " regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM corpus_pdf"
        )
        self.fields = corpus.set_index(["conv_id", "turn_idx"])
        self._hits: dict = {}

    def hits(self, spec) -> list[tuple[str, int, float]]:
        """Every matching doc as (conv_id, turn_idx, score rounded to
        4 places), in the pinned (score desc, conv_id, turn_idx) order."""
        spec = dataclasses.replace(spec, k=ALL)
        if spec not in self._hits:
            sql = bm25_oracle_sql(spec, toks_sql="toks").replace(
                TRANSCRIPTS_ORACLE_CTE, "transcripts AS (SELECT * FROM corpus)"
            )
            self._hits[spec] = [
                (c, int(t), round(float(s), ROUND))
                for c, t, s in self.con.execute(sql).fetchall()
            ]
        return self._hits[spec]

    def top(self, spec, deleted=frozenset(), start: int = 0) -> list:
        live = [h for h in self.hits(spec) if (h[0], h[1]) not in deleted]
        return live[start:start + spec.k]

    def count(self, spec, deleted=frozenset()) -> int:
        return sum((h[0], h[1]) not in deleted for h in self.hits(spec))

    def facet(self, spec, field: str, limit: int, deleted=frozenset()) -> list:
        """(value, count) of ``field`` over the live match set, count
        desc then value asc, first ``limit``."""
        keys = [(h[0], h[1]) for h in self.hits(spec) if (h[0], h[1]) not in deleted]
        vals = self.fields.loc[keys, field] if keys else pd.Series([], dtype=object)
        counts = vals.dropna().groupby(vals.dropna()).size()
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return [(str(v), int(n)) for v, n in ranked[:limit]]


class DedupOracle:
    def __init__(self, docs: pd.DataFrame, work_dir: str):
        from lucene_solr_spark.operators.textpipe import OPS

        self.sql = {name: oracle for name, _, oracle in OPS}
        self.con = _connect(work_dir)
        self.con.register("documents", docs)

    def rows(self, op_name: str) -> list[tuple]:
        return sorted(
            tuple(round(v, ROUND) if isinstance(v, float) else v for v in r)
            for r in self.con.execute(self.sql[op_name]).fetchall()
        )
