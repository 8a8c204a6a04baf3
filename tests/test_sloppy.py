"""Randomized duel for the n-term sloppy phrase contract (P9).

Pinned contract (SloppyPhraseMatcher in-order subset): a doc matches
phrase (t1..tn) at slop s iff exists positions p1<...<pn with
toks[pi]=ti and pn - p1 <= s + n - 1 (total intervening gap <= s).

Both executors must agree with a brute-force pure-Python reference:
the numpy chain DP in the segment scorer (executor.docset) and the
DuckDB SQL clause (oracle)."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.analyzer import tokenize_one
from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.query.oracle import _phrase_clause
from lucene_solr_spark.transcripts import transcripts_from_documents

SEEDS = list(range(12))


def ref_sloppy_match(toks: list[str], phrase: tuple[str, ...], slop: int) -> bool:
    """O(len^n) brute-force reference of the pinned contract."""
    n = len(phrase)
    w = slop + n - 1

    def rec(level: int, p_first: int, p_prev: int) -> bool:
        if level == n:
            return True
        for p in range(p_prev + 1, min(len(toks), p_first + w + 1)):
            if toks[p] == phrase[level]:
                if rec(level + 1, p_first, p):
                    return True
        return False

    for p1 in range(len(toks)):
        if toks[p1] == phrase[0] and rec(1, p1, p1):
            return True
    return False


@pytest.fixture(scope="module")
def env(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sloppy"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    s = IndexSearcher(spark, root)
    pdf = t.toPandas()
    pdf["toks"] = [tokenize_one(x) for x in pdf["text"]]
    return s, pdf


def rand_phrase(rng: np.random.Generator, pdf) -> tuple[tuple[str, ...], int]:
    """Pick an n-gram actually present in some doc, then perturb: keeps
    the positive-match rate high instead of testing empty results."""
    n = int(rng.integers(2, 5))
    slop = int(rng.integers(1, 4))
    for _ in range(50):
        row = pdf.iloc[int(rng.integers(0, len(pdf)))]
        toks = row["toks"]
        if len(toks) < n + slop:
            continue
        start = int(rng.integers(0, len(toks) - n - slop + 1))
        # sample an in-order subsequence from a window => known match
        pos = sorted(
            rng.choice(np.arange(start, start + n + slop), n, replace=False).tolist()
        )
        return tuple(toks[p] for p in pos), slop
    return ("table", "merge"), 1


@pytest.mark.parametrize("seed", SEEDS)
def test_sloppy_duel(env, oracle_docs, seed):
    s, pdf = env
    rng = np.random.default_rng(seed)
    phrase, slop = rand_phrase(rng, pdf)
    spec = BooleanSpec(phrases=(phrase,), phrase_slop=slop)

    expect = {
        (r.conv_id, int(r.turn_idx))
        for r in pdf.itertuples()
        if ref_sloppy_match(r.toks, phrase, slop)
    }
    assert expect, (phrase, slop)  # construction guarantees >= 1 match

    got_idx = {
        (r.conv_id, int(r.turn_idx))
        for r in s.docset(spec).collect()
    }
    assert got_idx == expect, (phrase, slop)

    got_duck = oracle_docs(_phrase_clause(phrase, slop))
    assert got_duck == expect, (phrase, slop)
