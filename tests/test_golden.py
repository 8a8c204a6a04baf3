"""Golden-response gate (assertQ/assertJQ analog, SURVEY §5): the
distributed index engine must reproduce the committed golden top-k —
docIDs AND scores — for the pinned reference query set, and the DuckDB
oracle the goldens are read from must still reproduce them. Regenerate
via tools/make_golden.py ONLY on a deliberate scoring-contract change."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.query.oracle import bm25_oracle_sql
from lucene_solr_spark.transcripts import transcripts_from_documents

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


def _load():
    with open(os.path.join(GOLDEN, "queries.json")) as f:
        q = json.load(f)
    with open(os.path.join(GOLDEN, "results.json")) as f:
        r = json.load(f)
    return q, r


QUERIES, RESULTS = _load()


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    sf_dir = QUERIES["sf_dir"]
    root = str(tmp_path_factory.mktemp("gidx"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    return IndexSearcher(spark, root)


def golden_spec(name: str) -> BooleanSpec:
    spec_dict = dict(QUERIES["queries"][name])
    spec_dict["must"] = tuple(spec_dict["must"])
    spec_dict["should"] = tuple(spec_dict["should"])
    spec_dict["must_not"] = tuple(spec_dict["must_not"])
    spec_dict["phrases"] = tuple(tuple(p) for p in spec_dict["phrases"])
    spec_dict["filters"] = tuple((f, v) for f, v in spec_dict["filters"])
    return BooleanSpec(**spec_dict)


@pytest.mark.parametrize("name", sorted(QUERIES["queries"]))
def test_golden(searcher, name):
    spec = golden_spec(name)
    got = searcher.search(spec, round_to=QUERIES["round_to"]).toPandas()
    want = RESULTS[name]
    assert [[r.conv_id, r.turn_idx] for r in got.itertuples()] == [
        w[:2] for w in want
    ], name
    assert np.allclose(
        got.score.to_numpy(), [w[2] for w in want], atol=1e-9
    ), name


@pytest.mark.parametrize("name", sorted(QUERIES["queries"]))
def test_golden_from_oracle(duck, sf_dir, name):
    """The goldens' source: the DuckDB oracle (over ``sf_dir``, the
    goldens' corpus) at the goldens' rounding returns every committed
    top-k list exactly."""
    assert QUERIES["sf_dir"] == sf_dir
    rows = duck.execute(
        bm25_oracle_sql(golden_spec(name), round_to=QUERIES["round_to"])
    ).fetchall()
    assert [[c, int(t), float(sc)] for c, t, sc in rows] == RESULTS[name], name
