"""Negation semantics duel (ADVICE round 1): negated phrases, negated
filters, pure-negative and filter-only DocSets, facet/pivot domains
with filters — index engine vs DuckDB oracle vs pandas reference.

The structural trap being guarded: the per-segment pass skips a
segment containing NONE of the query's terms — for pure-negative/
filter-only specs every such segment still matches everything, so the
pass must visit every segment for them."""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.analyzer import tokenize_one
from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.facets import FacetRequest, facet_field, facet_pivot
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.query.parser import parse
from lucene_solr_spark.transcripts import transcripts_from_documents


@pytest.fixture(scope="module")
def env(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("negidx"))
    t = transcripts_from_documents(spark, sf_dir)
    # num_parts high enough that some segments lack rare terms
    build_index(spark, t, root, num_parts=6, lineage_source=sf_dir)
    s = IndexSearcher(spark, root)
    pdf = t.select("conv_id", "turn_idx", "role", "tool", "text").toPandas()
    pdf["toks"] = [tokenize_one(x) for x in pdf.pop("text")]
    return s, pdf


def _keys(df) -> set[tuple[str, int]]:
    return {(r.conv_id, int(r.turn_idx)) for r in df.collect()}


def test_pure_negative_docset(env):
    """parse('-stream'): docs from term-free segments must survive."""
    s, pdf = env
    got = _keys(s.docset(parse("-stream")))
    expect = {
        (r.conv_id, int(r.turn_idx))
        for r in pdf.itertuples()
        if "stream" not in r.toks
    }
    assert got == expect
    # sanity: the complement is non-trivial in both directions
    assert 0 < len(expect) < len(pdf)


def test_filter_only_docset(env):
    s, pdf = env
    got = _keys(s.docset(parse("role:assistant")))
    expect = {
        (r.conv_id, int(r.turn_idx))
        for r in pdf.itertuples()
        if r.role == "assistant"
    }
    assert got == expect


def test_negated_filter_missing_matches(env):
    """-tool:tool_7 admits docs with tool NULL (differs-or-missing)."""
    s, pdf = env
    spec = BooleanSpec(must=("data",), not_filters=(("tool", "tool_7"),))
    got = _keys(s.docset(spec))
    expect = {
        (r.conv_id, int(r.turn_idx))
        for r in pdf.itertuples()
        if "data" in r.toks and (r.tool is None or r.tool != "tool_7")
    }
    assert got == expect
    assert any(
        r.tool is None for r in pdf.itertuples()
        if (r.conv_id, int(r.turn_idx)) in got
    ), "fixture must exercise the missing-field case"


def test_negated_phrase_search_duel(env, oracle_topk):
    """must=table, must_not_phrases=[(table, scan)]: idx == oracle,
    rank and score identical."""
    s, pdf = env
    spec = BooleanSpec(must=("table",), must_not_phrases=(("table", "scan"),), k=15)
    a = s.search(spec).toPandas()
    b = oracle_topk(spec)
    assert list(zip(a.conv_id, a.turn_idx)) == list(zip(b.conv_id, b.turn_idx))
    assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9)
    # the negation must actually remove phrase docs
    full = oracle_topk(BooleanSpec(must=("table",), k=1000))
    assert len(full) > len(oracle_topk(dataclasses.replace(spec, k=1000)))


def test_neg_filter_search_duel(env, oracle_topk):
    s, pdf = env
    spec = BooleanSpec(must=("query",), not_filters=(("role", "assistant"),), k=15)
    a = s.search(spec).toPandas()
    b = oracle_topk(spec)
    assert list(zip(a.conv_id, a.turn_idx)) == list(zip(b.conv_id, b.turn_idx))
    assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9)


def test_facet_pure_negative_domain(env):
    """Facet over '-merge': counts must include term-free segments."""
    s, pdf = env
    got = facet_field(
        s, FacetRequest(field="role", limit=10),
        spec=BooleanSpec(must_not=("merge",)),
    ).toPandas()
    sub = pdf[[("merge" not in ts) for ts in pdf.toks]]
    expect = (
        sub.groupby("role").size().sort_values(ascending=False).to_dict()
    )
    assert dict(zip(got.facet_value, got.cnt)) == expect


def test_pivot_filtered_domain(env):
    """ADVICE: pivot with a FILTER clause must honor the fq mask
    (round 1 silently over-counted)."""
    s, pdf = env
    spec = BooleanSpec(must=("data",), filters=(("role", "user"),))
    got = facet_pivot(s, ("role", "tool"), spec=spec, limits=(3, 2)).toPandas()
    sub = pdf[
        np.array([("data" in ts) for ts in pdf.toks])
        & (pdf.role == "user").to_numpy()
        & pdf.tool.notna().to_numpy()
    ]
    pairs = sub.groupby(["role", "tool"]).size()
    # every reported (v1, v2, cnt) must equal the reference count
    for r in got.itertuples():
        assert pairs.get((r.v1, r.v2)) == r.cnt, (r, pairs)
    # domain is filtered: only role=user buckets may appear
    assert set(got.v1) <= {"user"}
