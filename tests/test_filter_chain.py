"""End-to-end filter-chain index (VERDICT r1 item 8): an index built
through chain(stop_filter, s_stem_filter) with its version pinned in
the manifest; querying through the same chain matches a pandas
reference applying the identical chain; a mismatched query-time chain
version must raise (the Analyzer invariant)."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark import analyzer as an
from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.index.manifest import Manifest
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.transcripts import transcripts_from_documents

VERSION = "stop+sstem-v1"


@pytest.fixture(scope="module")
def stemmed_root(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("chainidx"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(
        spark, t, root, num_parts=4, lineage_source=sf_dir,
        analyzer=an.chain(an.stop_filter, an.s_stem_filter),
        analyzer_version=VERSION,
    )
    return root


def test_version_recorded_in_manifest(stemmed_root):
    assert Manifest.load(stemmed_root).analyzer_version == VERSION


def test_mismatched_query_chain_raises(stemmed_root, spark):
    with pytest.raises(ValueError, match="analyzer"):
        IndexSearcher(spark, stemmed_root, analyzer_version="ascii-word-lower-v1")


def test_mismatched_append_raises(stemmed_root, spark, sf_dir):
    t = transcripts_from_documents(spark, sf_dir)
    with pytest.raises(ValueError, match="analyzer"):
        build_index(
            spark, t, stemmed_root, num_parts=4, part_offset=100,
            analyzer_version="some-other-chain",
        )


def test_stemmed_search_matches_reference(stemmed_root, spark, sf_dir):
    """Search through the chained index == pandas brute force applying
    the SAME chain (stop + stem changes tf, df, doc_len AND avgdl)."""
    s = IndexSearcher(spark, stemmed_root, analyzer_version=VERSION)
    t = transcripts_from_documents(spark, sf_dir).toPandas()
    chain = an.chain(an.stop_filter, an.s_stem_filter)
    toks = chain(t["text"])

    term, k = "merge", 12
    n = len(t)
    dls = toks.str.len().to_numpy(np.int64)
    avgdl = dls.sum() / n
    tf = np.array([ts.count(term) for ts in toks])
    df = int((tf > 0).sum())
    idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
    scores = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dls / avgdl))
    ref = (
        t.assign(score=scores)[tf > 0]
        .sort_values(["score", "conv_id", "turn_idx"],
                     ascending=[False, True, True])
        .head(k)
    )
    got = s.search(BooleanSpec(must=(term,), k=k)).toPandas()
    assert list(zip(got.conv_id, got.turn_idx)) == list(
        zip(ref.conv_id, ref.turn_idx)
    )
    assert np.allclose(got.score.to_numpy(), ref.score.to_numpy(), atol=1e-9)


def test_stemming_broadens_match_set(stemmed_root, spark, sf_dir):
    """Docs whose only surface form is 'merges' are hits in the
    stemmed index but not in the pinned-analyzer index."""
    t = transcripts_from_documents(spark, sf_dir).toPandas()
    plain = an.tokenize_pandas(t["text"])
    has_merges_only = [
        ("merges" in ts) and ("merge" not in ts) for ts in plain
    ]
    if not any(has_merges_only):
        pytest.skip("corpus lacks a merges-without-merge doc at this sf")
    s = IndexSearcher(spark, stemmed_root, analyzer_version=VERSION)
    hits = {
        (r.conv_id, int(r.turn_idx))
        for r in s.docset(BooleanSpec(must=("merge",))).collect()
    }
    want = {
        (r.conv_id, int(r.turn_idx))
        for r, m in zip(t.itertuples(), has_merges_only) if m
    }
    assert want <= hits


# --- synonym filter (VERDICT r2 item 3) ------------------------------

SYN = {"scan": "lookup", "query": "lookup"}


def test_synonym_contraction_maps_tokens():
    import pandas as pd

    f = an.synonym_filter(SYN)
    out = f(pd.Series([["scan", "the", "query", "plan"]]))
    assert list(out.iloc[0]) == ["lookup", "the", "lookup", "plan"]


def test_synonym_expansion_appends_in_rule_order():
    import pandas as pd

    f = an.synonym_filter({"fast": ["quick", "rapid"]}, expand=True)
    out = f(pd.Series([["fast", "scan"]]))
    assert list(out.iloc[0]) == ["fast", "quick", "rapid", "scan"]


@pytest.fixture(scope="module")
def syn_root(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("synidx"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(
        spark, t, root, num_parts=4, lineage_source=sf_dir,
        analyzer=an.chain(an.synonym_filter(SYN)),
        analyzer_version="syn-v1",
    )
    return root


def test_synonym_chain_mismatch_raises(syn_root, spark):
    with pytest.raises(ValueError, match="analyzer"):
        IndexSearcher(spark, syn_root, analyzer_version="stop+sstem-v1")


def test_synonym_search_merges_surface_forms(syn_root, spark, sf_dir, oracle_topk):
    """Searching the canonical term through the synonym index matches
    the union of the raw-surface-form matches, rank-identical to the
    DuckDB oracle over the mapped token stream."""
    from pyspark.sql import functions as F

    from lucene_solr_spark import registry

    assert SYN == registry.SYN_RULES  # the oracle's CASE mapping spells SYN
    s = IndexSearcher(spark, syn_root, analyzer_version="syn-v1")
    spec = BooleanSpec(must=("lookup",), k=25)
    got = s.search(spec).toPandas()

    t = transcripts_from_documents(spark, sf_dir)
    want = oracle_topk(spec, toks_sql=registry._syn_toks_sql())
    assert list(zip(got.conv_id, got.turn_idx)) == list(
        zip(want.conv_id, want.turn_idx)
    )
    assert np.allclose(got.score.to_numpy(), want.score.to_numpy(), atol=1e-9)
    # and the merge is real: canonical-term hits strictly exceed
    # either surface form alone in the raw corpus
    raw_scan = t.filter(
        F.array_contains(an.tokens_col("text"), "scan")
    ).count()
    assert len(got) > 0 and s.docset(
        BooleanSpec(must=("lookup",))
    ).count() > raw_scan
