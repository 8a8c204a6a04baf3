"""Unordered span-near (SpanNearQuery inOrder=false): pinned window
contract — ∃ one occurrence per distinct group term with max−min ≤
len(group)+slop−1, any order. 3-way duel: index path vs the DuckDB
oracle clause vs a brute python reference, random groups drawn from
real docs; hand-built edge docs run the oracle clause over a pandas
frame."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.analyzer import tokenize_one
from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.query.oracle import (
    _multi_phrase_clause,
    _span_clause,
    _span_not_clause,
    _span_within_clause,
)
from lucene_solr_spark.transcripts import transcripts_from_documents

SEEDS = list(range(10))


def ref_span_match(toks: list[str], group: tuple[str, ...], slop: int) -> bool:
    w = len(group) + slop
    pos = {t: [i for i, x in enumerate(toks) if x == t] for t in group}
    if any(not p for p in pos.values()):
        return False
    # anchor at every occurrence of every term
    for plist in pos.values():
        for q in plist:
            if all(any(q <= p <= q + w - 1 for p in pos[t]) for t in group):
                return True
    return False


@pytest.fixture(scope="module")
def env(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("span"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    s = IndexSearcher(spark, root)
    pdf = t.toPandas()
    pdf["toks"] = [tokenize_one(x) for x in pdf["text"]]
    return s, pdf


def text_frame(rows) -> pd.DataFrame:
    """(conv_id, turn_idx, text) rows → the oracle clause's toks frame."""
    return pd.DataFrame(
        [(c, i, tokenize_one(tx)) for c, i, tx in rows],
        columns=["conv_id", "turn_idx", "toks"],
    )


def rand_group(rng: np.random.Generator, pdf):
    """Sample distinct terms from a real window, SHUFFLED — so the
    group order differs from document order and the duel exercises
    the unordered semantics, not a disguised phrase."""
    n = int(rng.integers(2, 4))
    slop = int(rng.integers(0, 4))
    w = n + slop
    for _ in range(80):
        row = pdf.iloc[int(rng.integers(0, len(pdf)))]
        toks = row["toks"]
        if len(toks) < w:
            continue
        start = int(rng.integers(0, len(toks) - w + 1))
        window = list(dict.fromkeys(toks[start : start + w]))
        if len(window) < n:
            continue
        grp = list(rng.choice(window, n, replace=False))
        rng.shuffle(grp)
        return tuple(grp), slop
    return ("merge", "scan"), 2


@pytest.mark.parametrize("seed", SEEDS)
def test_span_duel(env, oracle_docs, seed):
    s, pdf = env
    rng = np.random.default_rng(seed)
    group, slop = rand_group(rng, pdf)
    spec = BooleanSpec(span_near=(group,), span_slop=slop)

    expect = {
        (r.conv_id, int(r.turn_idx))
        for r in pdf.itertuples()
        if ref_span_match(r.toks, group, slop)
    }
    assert expect, (group, slop)  # construction guarantees >= 1 match

    got_idx = {(r.conv_id, int(r.turn_idx)) for r in s.docset(spec).collect()}
    assert got_idx == expect, (group, slop)

    got_duck = oracle_docs(_span_clause(group, slop))
    assert got_duck == expect, (group, slop)


def test_span_unordered_catches_reversal(oracle_docs):
    """An ordered sloppy phrase misses 'b … a'; span-near must not."""
    frame = text_frame([
        ("c1", 0, "beta junk alpha end"),
        ("c2", 0, "alpha junk junk junk junk beta"),
    ])
    got = oracle_docs(_span_clause(("alpha", "beta"), 1), frame)
    # window 3: c1 matches reversed within 3; c2's span is 6 → no
    assert got == {("c1", 0)}


def test_span_scores_match_term_and(env):
    """Span terms contribute MUST scoring — scores equal the plain
    AND query's scores on the surviving docs (filter never rescores)."""
    s, _ = env
    spec = BooleanSpec(span_near=(("merge", "scan"),), span_slop=3, k=10)
    got = {(r.conv_id, r.turn_idx): round(r.score, 4)
           for r in s.search(spec, round_to=4).collect()}
    assert got
    base = {(r.conv_id, r.turn_idx): round(r.score, 4)
            for r in s.search(
                BooleanSpec(must=("merge", "scan"), k=1000), round_to=4
            ).collect()}
    for k, v in got.items():
        assert base[k] == v


# --- span_or / span_not (VERDICT r2 item 10) --------------------------


def ref_span_not_match(
    toks: list[str], inc: tuple[str, ...], exc: tuple[str, ...], slop: int
) -> bool:
    """Brute reference: ∃ one position per include term, max−min ≤
    len(inc)+slop−1, with no exclude occurrence in [min, max]."""
    import itertools

    w = len(inc) + slop
    pos = {t: [i for i, x in enumerate(toks) if x == t] for t in inc}
    if any(not p for p in pos.values()):
        return False
    epos = [i for i, x in enumerate(toks) if x in set(exc)]
    for combo in itertools.product(*(pos[t] for t in inc)):
        lo, hi = min(combo), max(combo)
        if hi - lo <= w - 1 and not any(lo <= e <= hi for e in epos):
            return True
    return False


@pytest.mark.parametrize("seed", SEEDS)
def test_span_not_duel(env, oracle_docs, seed):
    """3-way duel for SpanNotQuery on random include groups + a real
    exclude term drawn from the corpus."""
    s, pdf = env
    rng = np.random.default_rng(1000 + seed)
    inc, slop = rand_group(rng, pdf)
    vocab = sorted({x for ts in pdf["toks"] for x in ts} - set(inc))
    exc = (str(rng.choice(vocab)),)
    spec = BooleanSpec(span_not=((inc, exc),), span_slop=slop)

    expect = {
        (r.conv_id, int(r.turn_idx))
        for r in pdf.itertuples()
        if ref_span_not_match(r.toks, inc, exc, slop)
    }

    got_idx = {(r.conv_id, int(r.turn_idx)) for r in s.docset(spec).collect()}
    assert got_idx == expect, (inc, exc, slop)

    got_duck = oracle_docs(_span_not_clause(inc, exc, slop))
    assert got_duck == expect, (inc, exc, slop)


@pytest.mark.parametrize("seed", SEEDS[:5])
def test_span_or_duel(env, oracle_docs, seed):
    """3-way duel for SpanOrQuery: two random span-near alternatives,
    expectation = union of the per-group brute matches."""
    s, pdf = env
    rng = np.random.default_rng(2000 + seed)
    g1, slop = rand_group(rng, pdf)
    g2, _ = rand_group(rng, pdf)
    if set(g1) == set(g2):
        g2 = ("merge", "scan")
    spec = BooleanSpec(span_or=(g1, g2), span_slop=slop)

    expect = {
        (r.conv_id, int(r.turn_idx))
        for r in pdf.itertuples()
        if ref_span_match(r.toks, g1, slop) or ref_span_match(r.toks, g2, slop)
    }
    got_idx = {(r.conv_id, int(r.turn_idx)) for r in s.docset(spec).collect()}
    assert got_idx == expect, (g1, g2, slop)

    got_duck = oracle_docs(
        f"({_span_clause(g1, slop)}) OR ({_span_clause(g2, slop)})"
    )
    assert got_duck == expect, (g1, g2, slop)


def test_span_not_positional_vs_boolean_not(oracle_docs):
    """The exclusion is POSITIONAL: a doc with the exclude term outside
    the include span must survive (where -term would kill it)."""
    frame = text_frame([
        ("c1", 0, "table scan merge end"),  # scan BETWEEN table..merge → excluded
        ("c2", 0, "table merge junk scan"),  # scan AFTER the span → survives
        ("c3", 0, "junk table merge"),  # no scan at all → survives
    ])
    got = oracle_docs(_span_not_clause(("table", "merge"), ("scan",), 1), frame)
    assert got == {("c2", 0), ("c3", 0)}


# --- span_first (SpanFirstQuery) --------------------------------------


def ref_span_first_match(
    toks: list[str], group: tuple[str, ...], slop: int, end: int
) -> bool:
    # truncated-prefix equivalence: the whole match lives in toks[:end]
    return ref_span_match(toks[:end], group, slop)


@pytest.mark.parametrize("seed", SEEDS)
def test_span_first_duel(env, oracle_docs, seed):
    s, pdf = env
    rng = np.random.default_rng(3000 + seed)
    group, slop = rand_group(rng, pdf)
    end = int(rng.integers(len(group) + slop, 25))
    spec = BooleanSpec(span_first=(group,), span_slop=slop,
                       span_first_end=end)

    expect = {
        (r.conv_id, int(r.turn_idx))
        for r in pdf.itertuples()
        if ref_span_first_match(r.toks, group, slop, end)
    }

    got_idx = {(r.conv_id, int(r.turn_idx)) for r in s.docset(spec).collect()}
    assert got_idx == expect, (group, slop, end)

    got_duck = oracle_docs(_span_clause(group, slop, prefix_end=end))
    assert got_duck == expect, (group, slop, end)


def test_span_first_is_stricter_than_near(env):
    """Same group, capped to the doc head: span_first hits must be a
    strict subset of the span_near hits on this corpus."""
    s, _pdf = env
    near = BooleanSpec(span_near=(("merge", "scan"),), span_slop=2)
    first = BooleanSpec(span_first=(("merge", "scan"),), span_slop=2,
                        span_first_end=12)
    n = {(r.conv_id, int(r.turn_idx)) for r in s.docset(near).collect()}
    f = {(r.conv_id, int(r.turn_idx)) for r in s.docset(first).collect()}
    assert f and f < n


# --- span_range (SpanPositionRangeQuery) -------------------------------------


def ref_span_range_match(
    toks: list[str], group: tuple[str, ...], slop: int, start: int, end: int
) -> bool:
    # sub-array equivalence: the whole match lives in toks[start:end]
    return ref_span_match(toks[start:end], group, slop)


@pytest.mark.parametrize("seed", SEEDS)
def test_span_range_duel(env, oracle_docs, seed):
    """3-way duel for SpanPositionRangeQuery: the index scorer bands
    absolute positions, DuckDB runs the span_near contract over the
    token sub-array — both must equal the brute reference."""
    s, pdf = env
    rng = np.random.default_rng(8000 + seed)
    group, slop = rand_group(rng, pdf)
    start = int(rng.integers(0, 8))
    end = start + int(rng.integers(len(group) + slop, 25))
    spec = BooleanSpec(
        span_range=(group,), span_slop=slop,
        span_range_start=start, span_range_end=end,
    )

    expect = {
        (r.conv_id, int(r.turn_idx))
        for r in pdf.itertuples()
        if ref_span_range_match(r.toks, group, slop, start, end)
    }

    got_idx = {(r.conv_id, int(r.turn_idx)) for r in s.docset(spec).collect()}
    assert got_idx == expect, (group, slop, start, end)

    got_duck = oracle_docs(
        _span_clause(group, slop, prefix_end=end, pos_start=start)
    )
    assert got_duck == expect, (group, slop, start, end)


def test_span_range_excludes_head_matches(env):
    """Discriminator vs span_first: with start=4, docs whose ONLY
    qualifying window touches positions 0–3 drop out — span_range(4,16)
    must be a strict subset of span_first(16) on this corpus."""
    s, _pdf = env
    first = BooleanSpec(span_first=(("merge", "scan"),), span_slop=2,
                        span_first_end=16)
    rng_ = BooleanSpec(span_range=(("merge", "scan"),), span_slop=2,
                       span_range_start=4, span_range_end=16)
    f = {(r.conv_id, int(r.turn_idx)) for r in s.docset(first).collect()}
    r = {(r.conv_id, int(r.turn_idx)) for r in s.docset(rng_).collect()}
    assert r and r < f


def test_span_range_start_zero_equals_span_first(env):
    """start=0 degenerates to SpanFirstQuery — same DocSet."""
    s, _pdf = env
    first = BooleanSpec(span_first=(("merge", "scan"),), span_slop=2,
                        span_first_end=12)
    rng_ = BooleanSpec(span_range=(("merge", "scan"),), span_slop=2,
                       span_range_start=0, span_range_end=12)
    f = {(r.conv_id, int(r.turn_idx)) for r in s.docset(first).collect()}
    r = {(r.conv_id, int(r.turn_idx)) for r in s.docset(rng_).collect()}
    assert f == r


# --- SpanWithinQuery (round-4 session) --------------------------------------

def ref_span_within_match(
    toks: list[str], little: str, big: tuple[str, ...], slop: int
) -> bool:
    """Brute reference — the TRUE ∃-choice quantifier: one position per
    big term, max−min ≤ len(big)+slop−1, with some little occurrence
    in [min, max]. The engines implement a per-owner anchor sweep; this
    product enumeration is what the sweep must be exactly equal to."""
    import itertools

    w = len(big) + slop
    pos = {t: [i for i, x in enumerate(toks) if x == t] for t in big}
    if any(not p for p in pos.values()):
        return False
    lpos = [i for i, x in enumerate(toks) if x == little]
    if not lpos:
        return False
    for combo in itertools.product(*(pos[t] for t in big)):
        lo, hi = min(combo), max(combo)
        if hi - lo <= w - 1 and any(lo <= p <= hi for p in lpos):
            return True
    return False


@pytest.mark.parametrize("seed", SEEDS)
def test_span_within_duel(env, oracle_docs, seed):
    """3-way duel for SpanWithinQuery: random big groups from real
    windows, little drawn from the same window when possible (so
    positive matches occur) else from the rest of the vocabulary."""
    s, pdf = env
    rng = np.random.default_rng(7000 + seed)
    big, slop = rand_group(rng, pdf)
    vocab = sorted({x for ts in pdf["toks"] for x in ts} - set(big))
    little = str(rng.choice(vocab))
    spec = BooleanSpec(span_within=((little, big),), span_slop=slop)

    expect = {
        (r.conv_id, int(r.turn_idx))
        for r in pdf.itertuples()
        if ref_span_within_match(r.toks, little, big, slop)
    }

    got_idx = {(r.conv_id, int(r.turn_idx)) for r in s.docset(spec).collect()}
    assert got_idx == expect, (little, big, slop)

    got_duck = oracle_docs(_span_within_clause(little, big, slop))
    assert got_duck == expect, (little, big, slop)


def test_span_within_positional_vs_conjunction(oracle_docs):
    """The discriminator: both docs hold all three terms, but only the
    one whose 'key' lies INSIDE a table…merge span matches — proving
    containment is positional, never a boolean +key."""
    frame = text_frame([
        ("c1", 0, "table key merge"),  # key inside [0,2]
        ("c1", 1, "key table merge"),  # key outside [1,2]
    ])
    got = oracle_docs(_span_within_clause("key", ("table", "merge"), 1), frame)
    assert got == {("c1", 0)}
    # and the brute reference says the same
    assert ref_span_within_match(["table", "key", "merge"], "key",
                                 ("table", "merge"), 1)
    assert not ref_span_within_match(["key", "table", "merge"], "key",
                                     ("table", "merge"), 1)


# --- MultiPhraseQuery (round-4 session) --------------------------------------

def ref_multi_phrase_match(
    toks: list[str], slots: tuple[tuple[str, ...], ...]
) -> bool:
    n = len(slots)
    return any(
        all(toks[s + j] in slots[j] for j in range(n))
        for s in range(len(toks) - n + 1)
    )


@pytest.mark.parametrize("seed", SEEDS)
def test_multi_phrase_duel(env, oracle_docs, seed):
    """3-way duel for MultiPhraseQuery: slot 1 from a real adjacent
    pair, slot 2 = the real next token plus a random alternative —
    so both the matched and unmatched alternative paths exercise."""
    s, pdf = env
    rng = np.random.default_rng(9000 + seed)
    vocab = sorted({x for ts in pdf["toks"] for x in ts})
    for _ in range(80):
        row = pdf.iloc[int(rng.integers(0, len(pdf)))]
        toks = row["toks"]
        if len(toks) >= 2:
            start = int(rng.integers(0, len(toks) - 1))
            a, b = toks[start], toks[start + 1]
            if a != b:
                break
    alt = str(rng.choice([v for v in vocab if v not in (a, b)]))
    slots = ((a,), tuple(sorted({b, alt})))
    spec = BooleanSpec(multi_phrases=(slots,))

    expect = {
        (r.conv_id, int(r.turn_idx))
        for r in pdf.itertuples()
        if ref_multi_phrase_match(r.toks, slots)
    }

    got_idx = {(r.conv_id, int(r.turn_idx)) for r in s.docset(spec).collect()}
    assert got_idx == expect, slots

    got_duck = oracle_docs(_multi_phrase_clause(slots))
    assert got_duck == expect, slots


def test_multi_phrase_vs_exact_phrases_union(env):
    """Pinned identity: multi_phrase("table", {scan, merge}) matches
    exactly the UNION of the exact phrases "table scan" and
    "table merge" — and differs from the 3-term conjunction."""
    s, pdf = env
    slots = (("table",), ("merge", "scan"))
    spec = BooleanSpec(multi_phrases=(slots,))
    got = {(r.conv_id, int(r.turn_idx)) for r in s.docset(spec).collect()}
    u1 = {(r.conv_id, int(r.turn_idx))
          for r in s.docset(BooleanSpec(phrases=(("table", "scan"),))).collect()}
    u2 = {(r.conv_id, int(r.turn_idx))
          for r in s.docset(BooleanSpec(phrases=(("table", "merge"),))).collect()}
    assert got == (u1 | u2)
    conj = {(r.conv_id, int(r.turn_idx))
            for r in s.docset(BooleanSpec(must=("table", "scan", "merge"))).collect()}
    assert got != conj


def test_positional_ops_adversarial_alphabet(spark, tmp_path):
    """Adversarial duel on a 4-letter alphabet (maximal repetition /
    overlap density — far nastier for positional logic than corpus
    text): span_within and multi_phrase through the REAL index vs the
    brute references, plus hand-built edge docs (empty, 1-token,
    all-same, alternating)."""
    rng = np.random.default_rng(4242)
    alpha = np.array(["a", "b", "c", "d"])
    rows = [
        ("c%03d" % (i // 8), i % 8,
         " ".join(rng.choice(alpha, size=int(rng.integers(1, 15)))))
        for i in range(320)
    ]
    rows += [
        ("edge", 0, ""), ("edge", 1, "a"), ("edge", 2, "a a a a"),
        ("edge", 3, "a b a b a b"), ("edge", 4, "c a b c"),
        ("edge", 5, "b a"), ("edge", 6, "a c b"),
    ]
    from pyspark.sql import functions as F
    t = spark.createDataFrame(
        [(c, i, "user", tx, None, "2024-01-01 00:00:00") for c, i, tx in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    root = str(tmp_path / "adv_idx")
    build_index(spark, t, root, num_parts=2, lineage_source="adv")
    s = IndexSearcher(spark, root)
    toks = {(c, i): tokenize_one(tx) for c, i, tx in rows}

    cases = [
        BooleanSpec(span_within=(("c", ("a", "b")),), span_slop=0),
        BooleanSpec(span_within=(("c", ("a", "b")),), span_slop=2),
        BooleanSpec(span_within=(("d", ("a", "b", "c")),), span_slop=1),
        BooleanSpec(multi_phrases=((("a",), ("b", "c")),)),
        BooleanSpec(multi_phrases=((("a", "b"), ("a", "b")),)),
        BooleanSpec(multi_phrases=((("c",), ("a",), ("b", "d")),)),
    ]
    for spec in cases:
        if spec.span_within:
            little, big = spec.span_within[0]
            expect = {k for k, ts in toks.items()
                      if ref_span_within_match(ts, little, big, spec.span_slop)}
        else:
            slots = spec.multi_phrases[0]
            expect = {k for k, ts in toks.items()
                      if ref_multi_phrase_match(ts, slots)}
        got = {(r.conv_id, int(r.turn_idx)) for r in s.docset(spec).collect()}
        assert got == expect, (spec.span_within or spec.multi_phrases,
                               sorted(got ^ expect)[:5])
