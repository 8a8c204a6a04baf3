"""Driver-contract smoke tests (SURVEY §5 test plan, `test_entry.py`)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"conv_id", "turn_idx", "score"}
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_queries_and_oracles_aligned():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(oracles) <= set(qs)


def test_queries_run_at_sf0001(spark, sf_dir):
    qs = entrymod.queries()
    for name in list(qs)[:3]:
        df = qs[name](spark, sf_dir)
        assert df.count() >= 0, name
