#!/usr/bin/env python
"""Generate tests/golden/ — the pinned reference query set + expected
top-k (docIDs AND BM25 scores) from the DuckDB oracle at sf0.001
(SURVEY §7.5: the rank-identity contract is against this set)."""

from __future__ import annotations

import json
import os
import sys
from dataclasses import asdict

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from lucene_solr_spark.query.oracle import bm25_oracle_sql  # noqa: E402
from lucene_solr_spark.registry import BM25_SPECS  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
ROUND_TO = 6
OUT = os.path.join(REPO, "tests", "golden")
#: the spec fields tests/test_golden.py rebuilds each query from (a
#: golden spec setting any other field fails that test)
FIELDS = ("filters", "k", "min_should_match", "must", "must_not", "phrases",
          "should")


def main() -> None:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    queries, results = {}, {}
    for name, spec in BM25_SPECS.items():
        queries[name] = {f: v for f, v in asdict(spec).items() if f in FIELDS}
        rows = con.execute(bm25_oracle_sql(spec, round_to=ROUND_TO)).fetchall()
        results[name] = [[c, int(t), float(s)] for c, t, s in rows]
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "queries.json"), "w") as f:
        json.dump({"sf_dir": SF_DIR, "round_to": ROUND_TO, "queries": queries},
                  f, indent=1, sort_keys=True)
    with open(os.path.join(OUT, "results.json"), "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(f"wrote {len(queries)} golden queries -> {OUT}")


if __name__ == "__main__":
    main()
