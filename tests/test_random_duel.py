"""Randomized dueling suite (LuceneTestCase / TestDuelingCodecs
philosophy, SURVEY §5): seeded random boolean query shapes over the
real corpus vocabulary — the segment engine must be rank-identical
(docIDs AND float64 scores) to the DuckDB oracle on every one. Seeds are fixed → reproducible; widen SEEDS to fuzz."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.transcripts import transcripts_from_documents

SEEDS = list(range(32))  # widened: shapes 5-7 fuzz round-2 paths


@pytest.fixture(scope="module")
def env(spark, sf_dir, tmp_path_factory):
    import shutil

    from lucene_solr_spark.index.merge import merge_segments

    root = str(tmp_path_factory.mktemp("duel"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    # a MERGED copy: results must be segment-layout-invariant
    mroot = root + "_m"
    shutil.copytree(root, mroot)
    merge_segments(spark, mroot, merge_factor=2)
    s = IndexSearcher(spark, root)
    sm = IndexSearcher(spark, mroot)
    # real vocabulary stratified by df (head / mid / tail)
    vocab = (
        s.postings().groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), "term").toPandas()
    )
    return s, sm, vocab


def random_spec(rng: np.random.Generator, vocab) -> BooleanSpec:
    n = len(vocab)
    head = vocab.term.iloc[: max(3, n // 20)].tolist()
    mid = vocab.term.iloc[n // 20 : n // 2].tolist()
    tail = vocab.term.iloc[n // 2 :].tolist()

    def pick(pool, k):
        return [pool[i] for i in rng.integers(0, len(pool), k)]

    shape = rng.integers(0, 8)
    k = int(rng.integers(5, 25))
    if shape == 5:  # boosted disjunction (idf-folded boosts + WAND)
        terms = tuple(dict.fromkeys(pick(head + mid + tail, int(rng.integers(2, 5)))))
        boosts = tuple(
            (t, float(rng.choice([0.5, 1.5, 2.0, 3.0])))
            for t in terms[: int(rng.integers(1, len(terms) + 1))]
        )
        return BooleanSpec(should=terms, min_should_match=1, boosts=boosts, k=k)
    if shape == 6:  # negated field filter (differs-or-missing)
        role = ["user", "assistant", "system", "tool"][int(rng.integers(0, 4))]
        return BooleanSpec(
            must=tuple(pick(head + mid, int(rng.integers(1, 3)))),
            not_filters=(("role", role),),
            k=k,
        )
    if shape == 7:  # negated phrase over head-term pairs
        return BooleanSpec(
            must=tuple(pick(head, 1)),
            must_not_phrases=(tuple(pick(head + mid, 2)),),
            k=k,
        )
    if shape == 0:  # conjunction
        return BooleanSpec(must=tuple(pick(head + mid, int(rng.integers(1, 4)))), k=k)
    if shape == 1:  # disjunction with mm
        terms = tuple(dict.fromkeys(pick(head + mid + tail, int(rng.integers(2, 5)))))
        mm = int(rng.integers(1, len(terms) + 1))
        return BooleanSpec(should=terms, min_should_match=mm, k=k)
    if shape == 2:  # mixed must/not
        return BooleanSpec(
            must=tuple(pick(mid, 1)),
            must_not=tuple(pick(head, int(rng.integers(0, 2)))),
            k=k,
        )
    if shape == 3:  # filtered
        role = ["user", "assistant", "system", "tool"][int(rng.integers(0, 4))]
        return BooleanSpec(
            must=tuple(pick(head + mid, int(rng.integers(1, 3)))),
            filters=(("role", role),),
            k=k,
        )
    # pure OR (WAND path), larger fan-out
    terms = tuple(dict.fromkeys(pick(head + mid + tail, int(rng.integers(3, 7)))))
    return BooleanSpec(should=terms, min_should_match=1, k=k)


@pytest.mark.parametrize("seed", SEEDS)
def test_random_duel(env, oracle_topk, seed):
    """Three-way: fresh index == merged index == DuckDB oracle
    (rank AND score identical) — segment-layout invariance under
    random query shapes."""
    s, sm, vocab = env
    rng = np.random.default_rng(seed)
    spec = random_spec(rng, vocab)
    a = s.search(spec).toPandas()
    b = oracle_topk(spec)
    c = sm.search(spec).toPandas()
    assert list(zip(a.conv_id, a.turn_idx)) == list(zip(b.conv_id, b.turn_idx)), spec
    assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9), spec
    assert list(zip(c.conv_id, c.turn_idx)) == list(zip(b.conv_id, b.turn_idx)), spec
    assert np.allclose(c.score.to_numpy(), b.score.to_numpy(), atol=1e-9), spec
