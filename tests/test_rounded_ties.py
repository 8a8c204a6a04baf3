"""Rank-identity at ROUNDED-score ties: ``search(round_to=r)`` orders by
the r-dp score, then (conv_id, turn_idx). A doc just below a segment's
raw k-th score that rounds to the same value can win that tiebreak, so
the segment stage (``_topk`` and the WAND threshold) must keep it — a
raw-score boundary drops it before the global TakeOrdered sees it."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.index.merge import merge_segments
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.query.scorer import _topk


def test_topk_keeps_rounded_ties():
    docs = np.array([0, 1, 2], np.int64)
    scores = np.array([0.9, 0.19834, 0.19831])
    # raw boundary: doc 2 sits below the k-th score
    assert _topk(docs, scores, 2)[0].tolist() == [0, 1]
    # 4 dp: doc 2 ties doc 1 and must reach the global tiebreak
    d, s = _topk(docs, scores, 2, round_to=4)
    assert d.tolist() == [0, 1, 2]
    assert s.tolist() == scores.tolist()


def _corpus(n_turns: int = 2000, vocab: int = 300, seed: int = 7) -> pd.DataFrame:
    """Zipf-ranked ``w<rank>`` tokens: many docs share a term's tf and
    lengths sit close, so rounded scores tie often."""
    rng = np.random.default_rng(seed)
    doc_len = rng.integers(5, 60, n_turns)
    ranks = np.exp(rng.random(int(doc_len.sum())) * np.log(vocab)).astype(int)
    words = np.array([f"w{r}" for r in range(vocab + 1)], dtype=object)[ranks]
    ends = np.cumsum(doc_len)
    conv = np.arange(n_turns) // 16
    return pd.DataFrame({
        "conv_id": [f"c{c:06d}" for c in conv],
        "turn_idx": (np.arange(n_turns) % 16).astype(np.int32),
        "role": np.array(["user", "assistant"], dtype=object)[conv % 2],
        "text": [" ".join(words[e - n:e]) for e, n in zip(ends, doc_len)],
        "tool": None,
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(np.arange(n_turns) * 30, unit="s"),
    })


@pytest.fixture(scope="module")
def searchers(spark, tmp_path_factory):
    """(4-segment searcher, the same index merged into 1 segment)."""
    root = str(tmp_path_factory.mktemp("ties_idx"))
    t = spark.createDataFrame(
        _corpus(),
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    build_index(spark, t, root, num_parts=4)
    four = IndexSearcher(spark, root)
    merge_segments(spark, root, merge_factor=4)
    one = IndexSearcher(spark, root)
    assert len(four.manifest.segments) == 4
    assert len(one.manifest.segments) == 1
    return four, one


def _keys(df) -> list[tuple]:
    return [(r.conv_id, r.turn_idx, r.score) for r in df.collect()]


@pytest.mark.parametrize("spec", [
    BooleanSpec(must=("w1",), k=10),
    BooleanSpec(must=("w2",), k=25),
    # pure disjunction with k < n_docs: the block-max WAND path
    BooleanSpec(should=("w1", "w3"), min_should_match=1, k=10),
], ids=["term", "term_k25", "wand_or"])
@pytest.mark.parametrize("round_to", [4, 2])
def test_search_matches_exhaustive_rank(searchers, spec, round_to):
    """search() ≡ rounding and ranking EVERY hit (no segment top-k)."""
    for s in searchers:
        want = (
            s.score_hits(spec, k=None)
            .withColumn("score", F.round("score", round_to))
            .orderBy(F.desc("score"), "conv_id", "turn_idx")
            .limit(spec.k)
        )
        assert _keys(s.search(spec, round_to=round_to)) == _keys(want)
