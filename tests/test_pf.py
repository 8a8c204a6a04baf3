"""edismax pf (phrase-boost) duels — the pinned PhraseQuery-scoring
contract (model.pf_phrases) across all three spellings:

    segment index (scorer._phrase_freqs bonus)
 == DuckDB oracle  (oracle._phrase_count_sql CTE)
 == numpy reference (this file)

at 4 decimals against the numpy reference, and at full float64
precision (rank identity, atol 1e-9) between the index and the oracle;
plus the two contract discriminators: pf never changes the match set,
and a second phrase occurrence raises the bonus sub-linearly (tf
saturation), never linearly.

ref: solr/core/src/java/org/apache/solr/search/ExtendedDismaxQParser.java
(pf), lucene/core/src/java/org/apache/lucene/search/PhraseQuery.java
(freq-scored phrase weight).
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest

from lucene_solr_spark.analyzer import tokenize_one
from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import B, K1, BooleanSpec
from lucene_solr_spark.query.oracle import bm25_oracle_sql
from lucene_solr_spark.transcripts import transcripts_from_documents

SEEDS = list(range(8))
ROUND = 4


@pytest.fixture(scope="module")
def env(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pfidx"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    s = IndexSearcher(spark, root)
    pdf = t.toPandas()
    pdf["toks"] = [tokenize_one(x) for x in pdf["text"]]
    return s, pdf


def assert_raw_duel(s, oracle_topk, spec, msg):
    """Unrounded index scores == the unrounded oracle: same ranks,
    float64 scores within 1e-9."""
    a, b = s.search(spec).toPandas(), oracle_topk(spec)
    assert list(zip(a.conv_id, a.turn_idx)) == list(zip(b.conv_id, b.turn_idx)), msg
    assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9), msg


def _phrase_count(toks: list[str], phrase: tuple[str, ...]) -> int:
    n = len(phrase)
    return sum(
        1 for i in range(len(toks) - n + 1)
        if tuple(toks[i : i + n]) == phrase
    )


def brute_pf_topk(pdf, spec: BooleanSpec, k: int):
    """numpy/pandas reference of the pinned contract: base BM25 over
    the SHOULD disjunction + pf_boost × Σidf(ph) × sat(phrase tf)."""
    n_docs = len(pdf)
    avgdl = sum(len(t) for t in pdf["toks"]) / n_docs
    df = Counter()
    for toks in pdf["toks"]:
        for t in set(toks):
            df[t] += 1

    def idf(t):
        return math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))

    rows = []
    for r in pdf.itertuples():
        toks = r.toks
        dl = len(toks)
        tf = Counter(toks)
        norm = K1 * (1 - B + B * dl / avgdl)
        score = sum(
            idf(t) * (tf[t] * (K1 + 1)) / (tf[t] + norm)
            for t in spec.should
            if tf[t] > 0
        )
        if not any(tf[t] > 0 for t in spec.should):
            continue
        for ph in spec.pf_phrases:
            cnt = _phrase_count(toks, ph)
            if cnt:
                isum = sum(idf(t) for t in ph)
                score += (
                    spec.pf_boost * isum * (cnt * (K1 + 1)) / (cnt + norm)
                )
        rows.append((r.conv_id, int(r.turn_idx), round(score, ROUND)))
    rows.sort(key=lambda x: (-x[2], x[0], x[1]))
    return rows[:k]


def rand_pf(rng: np.random.Generator, pdf):
    """An n-gram actually present in some doc → guaranteed pf hits."""
    n = int(rng.integers(2, 4))
    for _ in range(50):
        row = pdf.iloc[int(rng.integers(0, len(pdf)))]
        toks = row["toks"]
        if len(toks) < n:
            continue
        start = int(rng.integers(0, len(toks) - n + 1))
        ph = tuple(toks[start : start + n])
        if len(set(ph)) == len(ph):  # distinct terms: cleaner duel
            return ph
    return ("merge", "data")


@pytest.mark.parametrize("seed", SEEDS)
def test_pf_duel(env, duck, oracle_topk, seed):
    s, pdf = env
    rng = np.random.default_rng(seed)
    ph = rand_pf(rng, pdf)
    boost = float(rng.choice([0.5, 1.0, 2.0, 3.5]))
    spec = BooleanSpec(
        should=ph, min_should_match=1,
        pf_phrases=(ph,), pf_boost=boost, k=25,
    )

    want = brute_pf_topk(pdf, spec, spec.k)
    assert any(
        _phrase_count(r.toks, ph) > 0 for r in pdf.itertuples()
    ), ph  # construction guarantees phrase hits

    got_idx = [
        (r.conv_id, int(r.turn_idx), float(r.score))
        for r in s.search(spec, round_to=ROUND).collect()
    ]
    assert got_idx == want, (ph, boost)

    got_duck = [
        (r[0], int(r[1]), float(r[2]))
        for r in duck.execute(bm25_oracle_sql(spec)).fetchall()
    ]
    assert got_duck == want, (ph, boost)

    assert_raw_duel(s, oracle_topk, spec, (ph, boost))


def test_pf_does_not_change_match_set(env):
    s, _pdf = env
    base = BooleanSpec(should=("merge", "data"), min_should_match=1, k=10**6)
    pf = BooleanSpec(
        should=("merge", "data"), min_should_match=1,
        pf_phrases=(("merge", "data"),), pf_boost=2.0, k=10**6,
    )
    keys_base = {
        (r.conv_id, r.turn_idx) for r in s.score_hits(base).collect()
    }
    keys_pf = {(r.conv_id, r.turn_idx) for r in s.score_hits(pf).collect()}
    assert keys_base == keys_pf


def test_pf_saturates_with_freq():
    """The isolated pf bonus (score at boost=1 minus score at boost=0)
    grows with phrase freq but sub-linearly (BM25 tf saturation), and
    is zero for a doc with the terms but no adjacency."""
    import pandas as pd

    ph = ("a", "b")
    mini = pd.DataFrame(
        {
            "conv_id": ["c1", "c2", "c3"],
            "turn_idx": [0, 0, 0],
            "toks": [
                ["a", "b", "x", "y", "z", "w"],
                ["a", "b", "a", "b", "z", "w"],
                ["a", "x", "b", "y", "z", "w"],  # terms, no phrase
            ],
        }
    )

    def scores(boost):
        spec = BooleanSpec(
            should=ph, min_should_match=1,
            pf_phrases=(ph,), pf_boost=boost, k=10,
        )
        return {c: sc for c, _i, sc in brute_pf_topk(mini, spec, 10)}

    s1, s0 = scores(1.0), scores(0.0)
    bonus = {c: round(s1[c] - s0[c], ROUND) for c in s0}
    assert bonus["c3"] == 0.0
    assert bonus["c2"] > bonus["c1"] > 0.0
    assert bonus["c2"] < 2 * bonus["c1"]  # saturation, not linear


def test_pf_shingles_duel(env, duck, oracle_topk):
    """Multi-phrase pf (edismax pf+pf2): whole-query phrase + bigram
    shingles all contribute independent bonuses — 3-way agreement."""
    from lucene_solr_spark.query.parser import edismax

    s, pdf = env
    spec = edismax(
        "table merge strategy", mm=1, pf=True, pf2=True,
        pf_boost=1.5, k=25,
    )
    assert len(spec.pf_phrases) == 3  # whole query + 2 bigrams

    want = brute_pf_topk(pdf, spec, spec.k)
    got_idx = [
        (r.conv_id, int(r.turn_idx), float(r.score))
        for r in s.search(spec, round_to=ROUND).collect()
    ]
    assert got_idx == want
    got_duck = [
        (r[0], int(r[1]), float(r[2]))
        for r in duck.execute(bm25_oracle_sql(spec)).fetchall()
    ]
    assert got_duck == want
    assert_raw_duel(s, oracle_topk, spec, spec.pf_phrases)


# --- edismax ps (sloppy pf) — r4 ---------------------------------------

def _sloppy_start_count(toks: list[str], phrase: tuple[str, ...],
                        slop: int) -> int:
    """Pure-python reference of the pinned ps counting contract:
    start anchors p1 (toks[p1]=term_1) with an in-order chain
    p1<…<pn, pn−p1 ≤ slop+n−1."""
    n = len(phrase)
    w = slop + n - 1
    cnt = 0
    for p1 in range(len(toks)):
        if toks[p1] != phrase[0]:
            continue
        pos = p1
        ok = True
        for term in phrase[1:]:
            nxt = next(
                (q for q in range(pos + 1, min(len(toks), p1 + w + 1))
                 if toks[q] == term),
                None,
            )
            if nxt is None:
                ok = False
                break
            pos = nxt
        if ok:
            cnt += 1
    return cnt


def brute_ps_topk(pdf, spec: BooleanSpec, k: int):
    """brute_pf_topk with the sloppy (ps) phrase freq."""
    n_docs = len(pdf)
    avgdl = sum(len(t) for t in pdf["toks"]) / n_docs
    df = Counter()
    for toks in pdf["toks"]:
        for t in set(toks):
            df[t] += 1

    def idf(t):
        return math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))

    rows = []
    for r in pdf.itertuples():
        toks, dl = r.toks, len(r.toks)
        tf = Counter(toks)
        norm = K1 * (1 - B + B * dl / avgdl)
        if not any(tf[t] > 0 for t in spec.should):
            continue
        score = sum(
            idf(t) * (tf[t] * (K1 + 1)) / (tf[t] + norm)
            for t in spec.should if tf[t] > 0
        )
        for ph in spec.pf_phrases:
            cnt = _sloppy_start_count(toks, ph, spec.pf_slop)
            if cnt:
                isum = sum(idf(t) for t in ph)
                score += spec.pf_boost * isum * (cnt * (K1 + 1)) / (cnt + norm)
        rows.append((r.conv_id, int(r.turn_idx), round(score, ROUND)))
    rows.sort(key=lambda x: (-x[2], x[0], x[1]))
    return rows[:k]


# (The greedy next-occurrence chain in _sloppy_start_count is
# exhaustive: taking the EARLIEST valid next occurrence at each level
# never loses a solution when every level is bounded by the same
# global window p1 + w — a later choice only shrinks what remains.)


@pytest.mark.parametrize("seed", SEEDS[:8])
def test_ps_duel(env, duck, oracle_topk, seed):
    """3-way: index scorer / DuckDB oracle / pure python — random
    sloppy boost phrases with random slop."""
    s, pdf = env
    rng = np.random.default_rng(4000 + seed)
    ph = rand_pf(rng, pdf)
    slop = int(rng.integers(1, 4))
    spec = BooleanSpec(
        should=ph, min_should_match=1,
        pf_phrases=(ph,), pf_boost=2.0, pf_slop=slop, k=25,
    )
    want = brute_ps_topk(pdf, spec, spec.k)
    got_idx = [
        (r.conv_id, int(r.turn_idx), float(r.score))
        for r in s.search(spec, round_to=ROUND).collect()
    ]
    assert got_idx == want, (ph, slop)
    got_duck = [
        (r[0], int(r[1]), float(r[2]))
        for r in duck.execute(bm25_oracle_sql(spec)).fetchall()
    ]
    assert got_duck == want, (ph, slop)
    assert_raw_duel(s, oracle_topk, spec, (ph, slop))


def test_ps_zero_slop_is_exact_pf(env):
    """pf_slop=0 must be byte-identical to the exact pf path — one
    counting family."""
    s, _pdf = env
    base = BooleanSpec(
        should=("merge", "data"), min_should_match=1,
        pf_phrases=(("merge", "data"),), pf_boost=2.0, k=20,
    )
    zs = BooleanSpec(
        should=("merge", "data"), min_should_match=1,
        pf_phrases=(("merge", "data"),), pf_boost=2.0, pf_slop=0, k=20,
    )
    a = [tuple(r) for r in s.search(base, round_to=ROUND).collect()]
    b = [tuple(r) for r in s.search(zs, round_to=ROUND).collect()]
    assert a == b


def test_ps_boosts_docs_exact_pf_misses(env):
    """Discriminator: with phrase (table, merge) and slop 2, docs
    carrying the injected 'table scan merge' span gain a bonus the
    exact pf cannot see — the ps ranking must differ from pf's."""
    s, pdf = env
    has_gap_span = any(
        _sloppy_start_count(r.toks, ("table", "merge"), 2)
        > _phrase_count(r.toks, ("table", "merge"))
        for r in pdf.itertuples()
    )
    if not has_gap_span:
        pytest.skip("corpus lacks a gapped table..merge span")
    mk = lambda slop: BooleanSpec(  # noqa: E731
        should=("table", "merge"), min_should_match=1,
        pf_phrases=(("table", "merge"),), pf_boost=3.0, pf_slop=slop, k=15,
    )
    exact = [tuple(r) for r in s.search(mk(0), round_to=ROUND).collect()]
    sloppy = [tuple(r) for r in s.search(mk(2), round_to=ROUND).collect()]
    assert exact != sloppy
