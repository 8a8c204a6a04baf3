"""Round-4 session battery additions: discriminators and contracts
the oracle comparison alone can't pin (SynonymQuery blended stats vs
a SHOULD-OR, WordBreak fragment bounds, infix-vs-prefix, scoreNodes
idf monotonicity, histogram completeness)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from lucene_solr_spark.operators.solr_battery import (
    _SYN_TERMS,
    q_math_stream_hist,
    q_math_stream_regress,
    q_synonym_query,
)
from lucene_solr_spark.operators.graph import q_graph_score_nodes
from lucene_solr_spark.registry import QUERIES
from lucene_solr_spark.transcripts import transcripts_from_documents


def test_synonym_query_blends_stats_not_or(spark, sf_dir, oracle_topk):
    """Discriminator: SynonymQuery must NOT equal the SHOULD-OR of its
    terms. OR sums idf(t)*sat(tf_t) per term; the blend saturates the
    summed tf once under one idf — on any doc containing BOTH terms
    with unequal dfs the two scores differ."""
    from lucene_solr_spark.query.model import BooleanSpec

    syn = {
        (r.conv_id, r.turn_idx): r.score
        for r in q_synonym_query(spark, sf_dir).collect()
    }
    or_df = oracle_topk(BooleanSpec(should=_SYN_TERMS, k=12), round_to=4)
    orr = {(r.conv_id, r.turn_idx): r.score for r in or_df.itertuples()}
    assert syn  # non-empty
    overlap = set(syn) & set(orr)
    assert overlap
    assert any(abs(syn[k] - orr[k]) > 1e-4 for k in overlap), (
        "blend == OR on every overlapping doc; stats not blended?"
    )


def test_synonym_match_set_is_union(spark, sf_dir):
    """The blend changes scoring, never the match set: every returned
    doc contains at least one synonym."""
    rows = q_synonym_query(spark, sf_dir).collect()
    t = {
        (r.conv_id, r.turn_idx): r.text
        for r in transcripts_from_documents(spark, sf_dir).collect()
    }
    from lucene_solr_spark.analyzer import tokenize_one

    for r in rows:
        toks = set(tokenize_one(t[(r.conv_id, r.turn_idx)]))
        assert toks & set(_SYN_TERMS), r


def test_wordbreak_fragments_and_dictionary(spark, sf_dir):
    """Every break suggestion splits into two dictionary terms of
    length >= 3; every combine suggestion is a dictionary term equal
    to the concatenated pair."""
    from lucene_solr_spark.analyzer import tokenize_one

    rows = QUERIES["q_idx_spellcheck_wordbreak"](spark, sf_dir).collect()
    assert rows
    vocab = set()
    for r in transcripts_from_documents(spark, sf_dir).collect():
        vocab |= set(tokenize_one(r.text))
    kinds = {r.kind for r in rows}
    assert kinds == {"break", "combine"}
    for r in rows:
        parts = r.suggestion.split(" ")
        if r.kind == "break":
            assert len(parts) == 2
            assert all(len(p) >= 3 and p in vocab for p in parts), r
            assert "".join(parts) == r.q
        else:
            assert len(parts) == 1 and parts[0] in vocab
            assert parts[0] == r.q.replace(" ", "")


def test_infix_suggester_not_prefix_only(spark, sf_dir):
    """The infix lookup must return at least one NON-prefix match
    (else it's just the prefix suggester)."""
    rows = QUERIES["q_idx_suggest_infix"](spark, sf_dir).collect()
    assert rows
    assert all(r.fragment in r.suggestion for r in rows)
    assert any(not r.suggestion.startswith(r.fragment) for r in rows)


def test_score_nodes_formula(spark, sf_dir):
    """score = cnt * ln((N+1)/(df+1)), 4dp-ranked."""
    t = transcripts_from_documents(spark, sf_dir).collect()
    n = len(t)
    rows = q_graph_score_nodes(spark, sf_dir).collect()
    assert rows
    for r in rows:
        expect = r.cnt * math.log((n + 1) / (r.df + 1))
        assert abs(r.score - round(expect, 4)) <= 1e-4, r
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_hist_bins_partition_the_corpus(spark, sf_dir):
    """Histogram counts must sum to the event count and bins stay in
    [0, 7]."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    total = e.count()
    rows = q_math_stream_hist(spark, sf_dir).collect()
    assert sum(r.cnt for r in rows) == total
    assert all(0 <= r.bin <= 7 for r in rows)


def test_regress_matches_numpy(spark, sf_dir):
    import numpy as np

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "value", F.regexp_extract("props", "[0-9]+", 0).cast("double").alias("x")
    )
    pdf = e.toPandas()
    y, x = pdf["value"].to_numpy(), pdf["x"].to_numpy()
    r = q_math_stream_regress(spark, sf_dir).collect()[0]
    assert r.n == len(pdf)
    assert abs(r.r - round(float(np.corrcoef(y, x)[0, 1]), 4)) <= 1e-3
    slope = float(np.cov(y, x, ddof=1)[0, 1] / np.var(x, ddof=1))
    assert abs(r.slope - round(slope, 4)) <= 1e-3
    assert abs(r.intercept - round(float(y.mean() - slope * x.mean()), 4)) <= 1e-3


def test_knn_qparser_contract():
    import pytest as _pt

    from lucene_solr_spark.operators.textpipe import parse_knn

    fld, k, vec = parse_knn("{!knn f=embedding topK=5}[0.1, -0.2, 3]")
    assert (fld, k, vec) == ("embedding", 5, [0.1, -0.2, 3.0])
    with _pt.raises(ValueError):
        parse_knn("{!knn f=text topK=5}[0.1]")  # not a vector field
    with _pt.raises(ValueError):
        parse_knn("{!knn f=embedding topK=0}[0.1]")
    with _pt.raises(ValueError):
        parse_knn("embedding:[0.1]")


def test_graph_qparser_contract():
    import pytest as _pt

    from lucene_solr_spark.operators.graph import parse_graph_qparser

    assert parse_graph_qparser(
        "{!graph from=parent_n to=n maxDepth=3 returnRoot=false}tool:tool_5"
    ) == (3, False, "tool_5")
    # defaults: maxDepth=10, returnRoot=true (Solr's GraphQueryParser)
    assert parse_graph_qparser(
        "{!graph from=parent_n to=n}tool:tool_1"
    ) == (10, True, "tool_1")
    with _pt.raises(ValueError):  # undefined edge fields
        parse_graph_qparser("{!graph from=x to=n maxDepth=2}tool:tool_1")
    with _pt.raises(ValueError):  # non-positive depth
        parse_graph_qparser(
            "{!graph from=parent_n to=n maxDepth=0}tool:tool_1"
        )
    with _pt.raises(ValueError):  # not a graph query at all
        parse_graph_qparser("tool:tool_1")


def test_knn_qparser_matches_brute(spark, sf_dir):
    """The parser front door must return exactly the brute-force
    cosine top-K of its literal vector."""
    import numpy as np

    from lucene_solr_spark.operators.textpipe import (
        _KNN_QVEC,
        emb_df,
        q_knn_qparser,
    )

    rows = q_knn_qparser(spark, sf_dir).collect()
    assert len(rows) == 10
    e = {r.vec_id: np.array(r.e) for r in emb_df(spark, sf_dir).collect()}
    q = np.array(_KNN_QVEC)
    sims = {
        vid: round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 4)
        for vid, v in e.items()
    }
    expect = sorted(sims.items(), key=lambda x: (-x[1], x[0]))[:10]
    assert [(r.vec_id, r.score) for r in rows] == expect


def test_dsir_weights_favor_target_like_docs(spark, sf_dir):
    """Sanity: DSIR weight = sum over the doc's bigram buckets of the
    target/raw log-ratio — recompute one selected doc by hand."""
    import math

    from lucene_solr_spark.operators.textpipe import _DSIR_B, q_select_dsir

    rows = q_select_dsir(spark, sf_dir).collect()
    assert len(rows) == 20
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    import hashlib
    import re as _re

    def buckets(text):
        toks = _re.findall(r"[a-z0-9]+", text.lower())
        return [
            int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:15], 16) % _DSIR_B
            for a, b in zip(toks, toks[1:])
        ]

    from collections import Counter

    raw, tgt = Counter(), Counter()
    for _, r in d.iterrows():
        bs = buckets(r.text)
        raw.update(bs)
        if r.lang == "en":
            tgt.update(bs)
    n_raw, n_tgt = sum(raw.values()), sum(tgt.values())
    lw = {
        b: math.log((tgt.get(b, 0) + 1) / (n_tgt + _DSIR_B))
        - math.log((c + 1) / (n_raw + _DSIR_B))
        for b, c in raw.items()
    }
    top = rows[0]
    src = d[d.doc_id == top.doc_id].iloc[0]
    expect = sum(lw[b] for b in buckets(src.text))
    assert abs(top.weight - round(expect, 4)) <= 1e-4


def test_parent_qparser_contract():
    import pytest as _pt

    from lucene_solr_spark.registry import parse_parent_qparser

    mode, spec = parse_parent_qparser("{!parent which=turn_idx:0}merge")
    assert mode == "max" and spec.must == ("merge",)
    mode, spec = parse_parent_qparser(
        "{!parent which=turn_idx:0 score=total}scan sort"
    )
    assert mode == "total" and set(spec.must) == {"scan", "sort"}
    with _pt.raises(ValueError):
        parse_parent_qparser("{!parent which=role:user}merge")
    with _pt.raises(ValueError):
        parse_parent_qparser("{!parent which=turn_idx:0 score=bogus}x")


def test_ltr_mart_is_tree_function_of_features(spark, sf_dir):
    """Recompute the pinned 2-tree ensemble from the logged features;
    the rerank must be exactly that function."""
    from lucene_solr_spark.registry import QUERIES

    feats = {
        (r.conv_id, r.turn_idx): r
        for r in QUERIES["q_idx_ltr_features"](spark, sf_dir).collect()
    }

    def mart(f):
        t1 = (0.10 if f.f_doc_len < 30 else 0.30) if f.f_bm25 < 0.45 else (
            0.60 if f.f_rec_h < 3000 else 0.40
        )
        t2 = 0.20 if f.f_doc_len < 40 else (
            -0.10 if f.f_bm25 < 0.60 else 0.15
        )
        return round(t1 + 0.5 * t2, 4)

    rows = QUERIES["q_idx_ltr_mart"](spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.mart == mart(feats[(r.conv_id, r.turn_idx)]), r
    expect = sorted(
        ((mart(f), f.f_bm25, k[0], k[1]) for k, f in feats.items()),
        key=lambda x: (-x[0], -x[1], x[2], x[3]),
    )[:10]
    assert [(r.mart, r.f_bm25, r.conv_id, r.turn_idx) for r in rows] == expect


def test_tagger_tags_only_dictionary_tokens(spark, sf_dir):
    from lucene_solr_spark.analyzer import tokenize_one
    from lucene_solr_spark.registry import _TAGGER_TEXT, QUERIES

    rows = QUERIES["q_idx_tagger"](spark, sf_dir).collect()
    toks = tokenize_one(_TAGGER_TEXT)
    vocab = set()
    for r in transcripts_from_documents(spark, sf_dir).collect():
        vocab |= set(tokenize_one(r.text))
    expect = [(i, t) for i, t in enumerate(toks) if t in vocab]
    assert [(r.start_pos, r.tag) for r in rows] == expect
    assert "zz9" not in {r.tag for r in rows}


def test_child_qparser_contract(spark, sf_dir):
    """Every emitted row is a CHILD (turn>0) of a top parent, carries
    its parent's score, and the parent itself never appears."""
    import pytest as _pt

    from lucene_solr_spark.registry import (
        QUERIES,
        _CHILD_Q_SPEC,
        cached_searcher,
        parse_child_qparser,
    )

    with _pt.raises(ValueError):
        parse_child_qparser("{!child of=role:user}merge")
    rows = QUERIES["q_child_qparser"](spark, sf_dir).collect()
    assert rows
    s = cached_searcher(spark, sf_dir)
    parents = {
        r.conv_id: r.score
        for r in s.search(_CHILD_Q_SPEC, round_to=4).collect()
    }
    assert {r.conv_id for r in rows} <= set(parents)
    for r in rows:
        assert r.turn_idx > 0
        assert r.score == parents[r.conv_id]


def test_common_terms_split_and_optional_scoring(spark, sf_dir):
    """CommonTermsQuery contract: (1) every hit contains the low-freq
    term 'dup' (lowFreqOccur=MUST — the ~78%-df terms never widen the
    match set); (2) the high-freq SHOULD terms DO score — on a hit
    containing 'merge' or 'scan' the score strictly exceeds the
    must-only dup query's score (the discriminator vs dropping the
    stopwords instead of demoting them to scoring-only)."""
    from lucene_solr_spark.analyzer import tokenize_one
    from lucene_solr_spark.query.model import BooleanSpec
    from lucene_solr_spark.registry import QUERIES, cached_searcher

    rows = QUERIES["q_idx_common_terms"](spark, sf_dir).collect()
    assert rows
    txt = {
        (r.conv_id, r.turn_idx): r.text
        for r in transcripts_from_documents(spark, sf_dir).collect()
    }
    s = cached_searcher(spark, sf_dir)
    base = {
        (r.conv_id, r.turn_idx): r.score
        for r in s.search(
            BooleanSpec(must=("dup",), k=10_000), round_to=4
        ).collect()
    }
    boosted = 0
    for r in rows:
        toks = set(tokenize_one(txt[(r.conv_id, r.turn_idx)]))
        assert "dup" in toks, r
        if toks & {"merge", "scan"}:
            assert r.score > base[(r.conv_id, r.turn_idx)], r
            boosted += 1
    assert boosted, "no hit exercised the high-freq scoring path"


def test_fuzzy_suggester_completion_contract(spark, sf_dir):
    """FuzzySuggester: every suggestion's length-of-input prefix is
    within 2 classic-Levenshtein edits of the input, first chars
    match (nonFuzzyPrefix=1), and per-input results are weight-sorted."""
    from lucene_solr_spark.registry import QUERIES

    def lev(a: str, b: str) -> int:
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    rows = QUERIES["q_idx_suggest_fuzzy"](spark, sf_dir).collect()
    assert rows
    seen_weights: dict[str, list[int]] = {}
    for r in rows:
        assert r.suggestion[0] == r.input[0], r
        assert lev(r.suggestion[: len(r.input)], r.input) <= 2, r
        seen_weights.setdefault(r.input, []).append(r.weight)
    for w in seen_weights.values():
        assert w == sorted(w, reverse=True)


def test_complex_phrase_parser_and_expansion(spark, sf_dir):
    """ComplexPhrase front door: local-params validation raises like
    Solr (no phrase, 1-slot phrase, leading wildcard); the query's
    hits all contain an s*→join adjacency; and the wildcard slot
    really expanded (hits exist whose s-word differs)."""
    import pytest as _pt

    from lucene_solr_spark.analyzer import tokenize_one
    from lucene_solr_spark.registry import QUERIES, parse_complex_phrase

    for bad in (
        "{!complexphrase}s* join",          # unquoted
        '{!complexphrase}"solo"',           # 1 slot
        '{!complexphrase}"*ow join"',       # leading wildcard
        '{!complexphrase}"a b!c"',          # bad slot chars
    ):
        with _pt.raises(ValueError):
            parse_complex_phrase(bad)
    assert parse_complex_phrase('{!complexphrase}"s* join"') == ("s*", "join")

    rows = QUERIES["q_idx_complex_phrase"](spark, sf_dir).collect()
    assert rows
    txt = {
        (r.conv_id, r.turn_idx): r.text
        for r in transcripts_from_documents(spark, sf_dir).collect()
    }
    s_words = set()
    for r in rows:
        toks = tokenize_one(txt[(r.conv_id, r.turn_idx)])
        adj = [
            toks[i]
            for i in range(len(toks) - 1)
            if toks[i].startswith("s") and toks[i + 1] == "join"
        ]
        assert adj, r
        s_words.update(adj)
    assert len(s_words) > 1, f"wildcard slot never varied: {s_words}"


def test_bool_qparser_validation_and_dispatch(spark, sf_dir):
    """BoolQParser front door: strict occur params (unknown key, bare
    filter, junk) raise; parsed spec carries all four occur buckets."""
    import pytest as _pt

    from lucene_solr_spark.registry import parse_bool_qparser

    for bad in (
        "merge",                                   # no local params
        "{!bool boost='2'}",                       # unknown occur key
        "{!bool filter='assistant'}",              # filter w/o field:
        "{!bool must='merge' junk}",               # trailing junk
        "{!bool must='a b'}",                      # not a bare term
    ):
        with _pt.raises(ValueError):
            parse_bool_qparser(bad)
    spec = parse_bool_qparser(
        "{!bool must='merge' should='scan' must_not='dup' "
        "filter='role:assistant'}"
    )
    assert spec.must == ("merge",) and spec.should == ("scan",)
    assert spec.must_not == ("dup",)
    assert spec.filters == (("role", "assistant"),)
    assert spec.min_should_match == 0


def test_suggest_context_weights_are_in_context(spark, sf_dir):
    """Context suggester discriminator: the suggestion weight is the
    ASSISTANT-context collection frequency — strictly below the
    whole-corpus cf for every suggested term (every term also occurs
    in non-assistant turns on this corpus)."""
    from lucene_solr_spark.analyzer import tokenize_one
    from lucene_solr_spark.operators.solr_battery import q_suggest_context

    rows = q_suggest_context(spark, sf_dir).collect()
    assert rows
    corpus_cf: dict[str, int] = {}
    ctx_cf: dict[str, int] = {}
    for r in transcripts_from_documents(spark, sf_dir).collect():
        for t in tokenize_one(r.text):
            corpus_cf[t] = corpus_cf.get(t, 0) + 1
            if r.role == "assistant":
                ctx_cf[t] = ctx_cf.get(t, 0) + 1
    for r in rows:
        assert r.weight == ctx_cf[r.suggestion], r
        assert r.weight < corpus_cf[r.suggestion], r


def test_surround_qparser_contract():
    import pytest as _pt

    from lucene_solr_spark.query.model import BooleanSpec
    from lucene_solr_spark.registry import parse_surround_qparser

    assert parse_surround_qparser(
        "{!surround}3W(table, merge)"
    ) == BooleanSpec(phrases=(("table", "merge"),), phrase_slop=2, k=15)
    assert parse_surround_qparser(
        "{!surround}2N(scan, merge)"
    ) == BooleanSpec(span_near=(("scan", "merge"),), span_slop=1, k=15)
    # bare W/N default to distance 1: exact adjacency / slop-0 window
    assert parse_surround_qparser(
        "{!surround}W(table, scan)"
    ).phrase_slop == 0
    assert parse_surround_qparser(
        "{!surround}n(table, scan)"
    ).span_slop == 0
    with _pt.raises(ValueError):  # distance 0 is malformed
        parse_surround_qparser("{!surround}0W(a, b)")
    with _pt.raises(ValueError):  # not a surround query
        parse_surround_qparser("table 3w merge")


def test_minhash_qparser_contract():
    import pytest as _pt

    from lucene_solr_spark.registry import parse_minhash_qparser

    assert parse_minhash_qparser("{!minhash sim=0.5}Table scan TABLE") == (
        0.5, ["table", "scan"]
    )
    # sim optional (defaults to 0 = no floor); minhash/min_hash both spell it
    assert parse_minhash_qparser("{!min_hash}merge join")[0] == 0.0
    with _pt.raises(ValueError):  # sim out of (0, 1]
        parse_minhash_qparser("{!minhash sim=1.5}scan")
    with _pt.raises(ValueError):  # no analyzable terms
        parse_minhash_qparser("{!minhash}!!!")
    with _pt.raises(ValueError):  # not a minhash query
        parse_minhash_qparser("scan merge")


def test_payload_check_narrows_positionally(spark, sf_dir):
    """Discriminator: the payload check must be a positional filter on
    OCCURRENCES, not a boolean re-filter of phrase docs — per-doc span
    counts are <= the plain phrase tf, strictly < somewhere, and every
    returned span count must equal the hand-count of residue-valid
    starts. An unsatisfiable payload sequence matches nothing."""
    from lucene_solr_spark.analyzer import tokenize_one
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    rows = s.payload_check(("table", "scan"), (2.0, 3.0), k=10000).collect()
    assert rows
    t = {
        (r.conv_id, r.turn_idx): tokenize_one(r.text)
        for r in __import__(
            "lucene_solr_spark.transcripts", fromlist=["x"]
        ).transcripts_from_documents(spark, sf_dir).collect()
    }
    got = {(r.conv_id, r.turn_idx): r.score for r in rows}
    n_phrase_docs = 0
    for key, toks in t.items():
        starts = [
            p for p in range(len(toks) - 1)
            if toks[p] == "table" and toks[p + 1] == "scan"
        ]
        valid = [p for p in starts if p % 4 == 1]
        if starts:
            n_phrase_docs += 1
        if valid:
            assert got.get(key) == float(len(valid)), (key, starts, valid)
        else:
            assert key not in got, (key, starts)
    assert len(got) < n_phrase_docs, (
        "payload residue rejected no phrase doc — positional narrowing "
        "not exercised by this corpus"
    )
    # payloads that contradict pay(p)=1+(p mod 4) chain: 2.0 then 2.0
    # is impossible for adjacent positions -> empty, never an error
    assert s.payload_check(("table", "scan"), (2.0, 2.0), k=10).count() == 0
    import pytest as _pt

    with _pt.raises(ValueError):  # payload outside the derivation range
        s.payload_check(("table", "scan"), (5.0, 1.0))


def test_payload_check_qparser_contract():
    import pytest as _pt

    from lucene_solr_spark.registry import parse_payload_check_qparser

    assert parse_payload_check_qparser(
        "{!payload_check f=text payloads='2.0 3.0'}table scan"
    ) == (("table", "scan"), (2.0, 3.0))
    with _pt.raises(ValueError):  # wrong number of payloads
        parse_payload_check_qparser(
            "{!payload_check f=text payloads='2.0'}table scan"
        )
    with _pt.raises(ValueError):  # undefined field
        parse_payload_check_qparser(
            "{!payload_check f=role payloads='1.0'}user"
        )
    with _pt.raises(ValueError):  # malformed payload literal
        parse_payload_check_qparser(
            "{!payload_check f=text payloads='x y'}table scan"
        )
    with _pt.raises(ValueError):  # not a payload_check query
        parse_payload_check_qparser("table scan")


def test_simple_qparser_never_throws():
    """SimpleQueryParser's defining contract is graceful degradation —
    malformed syntax parses as text or drops, NEVER raises."""
    from lucene_solr_spark.query.model import BooleanSpec
    from lucene_solr_spark.registry import parse_simple_qparser as p

    assert p('"table scan"~1 + merge -dup') == BooleanSpec(
        must=("merge",), must_not=("dup",),
        phrases=(("table", "scan"),), phrase_slop=1, k=12,
    )
    # | with no + -> OR semantics (mm=1)
    assert p("merge | scan") == BooleanSpec(
        should=("merge", "scan"), min_should_match=1, k=12
    )
    # negated phrase
    assert p('-"table scan" merge').must_not_phrases == (("table", "scan"),)
    # graceful: unbalanced quote -> stripped, content kept as terms
    assert p('"table scan merge').must == ("table", "scan", "merge")
    # graceful: dangling operators / bare punctuation -> dropped
    assert p("merge + | -").must == ("merge",)
    assert p("merge ~x !!").must == ("merge", "x")
    # graceful: empty / operator-only input -> MatchNothing-ish empty spec
    assert p("| + -").must == ()


def test_select_handler_components_agree(spark, sf_dir):
    """/select composes EXISTING components — each response section
    must equal the dedicated API called directly, and paging must be
    exactly the offset slice of the ranked head."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.query.model import BooleanSpec
    from lucene_solr_spark.registry import _SELECT_PARAMS, cached_searcher

    s = cached_searcher(spark, sf_dir)
    spec, opts = parse_select_params(_SELECT_PARAMS)
    resp = select(s, _SELECT_PARAMS)
    # paging: rows 6..15 of the ranked head
    head = s.search(spec, round_to=4).collect()
    page = resp["response"].collect()
    assert [(r.conv_id, r.turn_idx) for r in page] == [
        (r.conv_id, r.turn_idx) for r in head[5:15]
    ]
    # numFound: the full DocSet cardinality, independent of rows
    assert resp["numFound"] == s.docset(spec).count()
    assert resp["numFound"] >= len(head)
    # facet legs: component-equal to the direct facet call, same domain
    for fld in ("role", "tool"):
        direct = s.facet(fld, spec=spec, limit=5).collect()
        via = resp["facet_counts"][fld].collect()
        assert [(r.facet_value, r.cnt) for r in via] == [
            (r.facet_value, r.cnt) for r in direct
        ]
    # hl leg: page-only stored join, every scoring-term occurrence marks
    from lucene_solr_spark.transcripts import transcripts_from_documents

    p = dict(_SELECT_PARAMS)
    p["hl"] = True
    hl = select(s, p, stored=transcripts_from_documents(spark, sf_dir))[
        "highlighting"
    ].collect()
    assert [(r.conv_id, r.turn_idx) for r in hl] == [
        (r.conv_id, r.turn_idx) for r in page
    ]
    for r in hl:
        assert "<em>merge</em>" in r.snippet or "<em>data</em>" in r.snippet
        assert "<em><em>" not in r.snippet
    with _pt.raises(ValueError):  # hl needs the stored frame
        select(s, p)
    with _pt.raises(ValueError):  # hl.fl pinned to text
        parse_select_params({"q": "merge", "hl": True, "hl.fl": "role"})
    # param validation: unknown param, scoring fq, bad sort all reject
    with _pt.raises(ValueError):
        parse_select_params({"q": "merge", "qt": "/select"})
    with _pt.raises(ValueError):
        parse_select_params({"q": "merge", "fq": "scan"})  # scoring fq
    with _pt.raises(ValueError):  # not a docvalues field
        parse_select_params({"q": "merge", "sort": "score asc"})
    with _pt.raises(ValueError):
        parse_select_params({"q": "merge", "sort": "text desc"})
    with _pt.raises(ValueError):
        parse_select_params({"fq": "role:user"})  # q required


def test_select_handler_sort_and_edismax_legs(spark, sf_dir):
    """Field sort must equal the docmap-ordered DocSet slice; the
    defType=edismax leg must equal the edismax parser called directly
    (same spec → same ranked head); param validation pins the
    defType/mm/sort contracts."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.query.parser import edismax
    from lucene_solr_spark.registry import (
        _SELECT_EDISMAX_PARAMS, _SELECT_SORT_PARAMS, cached_searcher,
    )

    s = cached_searcher(spark, sf_dir)
    # field sort: brute twin = full DocSet joined to docvalues, sorted
    spec, opts = parse_select_params(_SELECT_SORT_PARAMS)
    assert opts["sort"] == ((("ts", False),), None)
    page = select(s, _SELECT_SORT_PARAMS)["response"].collect()
    brute = (
        s.docmap().select("conv_id", "turn_idx", "ts")
        .join(s.docset(spec), ["conv_id", "turn_idx"])
        .orderBy(F.desc("ts"), "conv_id", "turn_idx")
        .collect()
    )
    assert [(r.conv_id, r.turn_idx) for r in page] == [
        (r.conv_id, r.turn_idx) for r in brute[3:15]
    ]
    # ascending flips the order, same tiebreak
    p_asc = dict(_SELECT_SORT_PARAMS, sort="ts asc", start=0, rows=5)
    asc = select(s, p_asc)["response"].collect()
    assert [(r.conv_id, r.turn_idx) for r in asc] == [
        (r.conv_id, r.turn_idx) for r in sorted(
            brute, key=lambda r: (r.ts, r.conv_id, r.turn_idx))[:5]
    ]
    # edismax leg: handler spec == parser called directly
    e_spec, _ = parse_select_params(_SELECT_EDISMAX_PARAMS)
    assert e_spec == edismax("table merge scan", k=10, mm="2", ps=1)
    via = select(s, _SELECT_EDISMAX_PARAMS)["response"].collect()
    direct = s.search(e_spec, round_to=4).collect()
    assert [(r.conv_id, r.turn_idx, r.score) for r in via] == [
        (r.conv_id, r.turn_idx, r.score) for r in direct
    ]
    # contract: q.op clashes with edismax; mm needs edismax; bad defType
    with _pt.raises(ValueError):
        parse_select_params(dict(_SELECT_EDISMAX_PARAMS, **{"q.op": "AND"}))
    with _pt.raises(ValueError):
        parse_select_params({"q": "merge", "mm": "2"})
    with _pt.raises(ValueError):
        parse_select_params({"q": "merge", "defType": "xmlparser"})


def test_select_handler_json_facet_leg(spark, sf_dir):
    """json.facet buckets must be component-equal to the dedicated
    facet engines over the handler's q+fq domain; the query bucket
    equals the merged-filter DocSet count; malformed requests raise
    like FacetModule's syntax errors."""
    import pytest as _pt

    from lucene_solr_spark.handler import (
        _merge_filters, parse_select_params, select,
    )
    from lucene_solr_spark.query.facets import facet_metrics
    from lucene_solr_spark.query.parser import parse
    from lucene_solr_spark.registry import (
        _SELECT_JSON_FACET_PARAMS, cached_searcher,
    )

    s = cached_searcher(spark, sf_dir)
    spec, opts = parse_select_params(_SELECT_JSON_FACET_PARAMS)
    resp = select(s, _SELECT_JSON_FACET_PARAMS)
    # terms bucket with the avg sub-agg ≡ facet_metrics called directly
    direct = facet_metrics(
        s, "role", metric="doc_len", spec=spec, limit=5
    ).collect()
    via = resp["facets"]["roles"].collect()
    assert [tuple(r) for r in via] == [tuple(r) for r in direct]
    # query bucket ≡ DocSet count with the filter folded in
    sub = parse("role:assistant", default_op="AND")
    assert resp["facets"]["assistant_hits"] == s.docset(
        _merge_filters(spec, sub)
    ).count()
    # plain terms bucket (no sub-agg) ≡ the field facet engine
    p = dict(_SELECT_JSON_FACET_PARAMS)
    p["json.facet"] = '{"tools": {"type": "terms", "field": "tool", "limit": 3}}'
    plain = select(s, p)["facets"]["tools"].collect()
    assert [tuple(r) for r in plain] == [
        tuple(r) for r in s.facet("tool", spec=spec, limit=3).collect()
    ]
    # range bucket ≡ brute histogram of the DocSet's docvalues
    p["json.facet"] = ('{"lens": {"type": "range", "field": "doc_len",'
                       ' "start": 0, "end": 120, "gap": 30}}')
    import collections

    from pyspark.sql import functions as F

    got = [(r.bucket_start, r.cnt)
           for r in select(s, p)["facets"]["lens"].collect()]
    dls = [
        r.doc_len
        for r in s.docmap().select("conv_id", "turn_idx", "doc_len")
        .join(s.docset(spec), ["conv_id", "turn_idx"]).collect()
    ]
    want = collections.Counter(
        (dl // 30) * 30 for dl in dls if 0 <= dl < 120
    )
    assert got == sorted(want.items())
    # validation: each malformed request is a 400-style ValueError
    bad = [
        '{"x": {"type": "heatmap", "field": "ts"}}',      # unsupported type
        '{"x": {"type": "range", "field": "ts"}}',        # non-numeric field
        '{"x": {"type": "range", "field": "doc_len"}}',   # start/end/gap req
        '{"x": {"type": "range", "field": "doc_len",'
        ' "start": 0, "end": 100, "gap": 0}}',            # gap > 0
        '{"x": {"type": "terms", "field": "text"}}',      # not facetable
        '{"x": {"type": "terms"}}',                       # field required
        '{"x": {"type": "terms", "field": "role",'
        ' "facet": {"m": "avg(doc_len)"}}}',              # wrong agg name
        '{"x": {"type": "terms", "field": "role",'
        ' "facet": {"avg_ts": "avg(ts)"}}}',              # non-numeric col
        '{"x": {"type": "query", "q": "merge"}}',         # scoring q
        '{"x": {"type": "query"}}',                       # q required
        '{"x": {"type": "terms", "field": "role", "overrequest": 9}}',  # unknown
        '{"x": {"type": "terms", "field": "role", "offset": -1}}',  # bad offset
        '["not", "an", "object"]',
    ]
    for jf in bad:
        with _pt.raises(ValueError):
            parse_select_params({"q": "data", "json.facet": jf})
    # multiple SCALAR sub-aggs are first-class (SumAgg/AvgAgg/
    # MinMaxAgg per bucket); a nested sub-facet must stay alone
    _, ok = parse_select_params({"q": "data", "json.facet":
        '{"x": {"type": "terms", "field": "role",'
        ' "facet": {"avg_doc_len": "avg(doc_len)",'
        ' "max_turn_idx": "max(turn_idx)"}}}'})
    assert ok["json_facets"]["x"][3] == \
        (("avg", "doc_len"), ("max", "turn_idx"))
    with _pt.raises(ValueError, match="only"):
        parse_select_params({"q": "data", "json.facet":
            '{"x": {"type": "terms", "field": "role",'
            ' "facet": {"n": {"type": "terms", "field": "tool"},'
            ' "avg_doc_len": "avg(doc_len)"}}}'})


def test_select_handler_facet_params_leg(spark, sf_dir):
    """facet.sort/prefix/mincount/offset must forward into the facet
    engine unchanged (leg ≡ the direct call), and out-of-contract
    values raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import (
        _SELECT_FACET_PARAMS_REQ, cached_searcher,
    )

    s = cached_searcher(spark, sf_dir)
    spec, opts = parse_select_params(_SELECT_FACET_PARAMS_REQ)
    assert (opts["facet_sort"], opts["facet_prefix"],
            opts["facet_mincount"]) == ("index", "s", 2)
    via = select(s, _SELECT_FACET_PARAMS_REQ)["facet_counts"][
        "ftok"].collect()
    direct = s.facet(
        "ftok", spec=spec, limit=10, mincount=2, sort="index", prefix="s"
    ).collect()
    assert [tuple(r) for r in via] == [tuple(r) for r in direct]
    # facet.offset pages the bucket list like the dedicated operator
    p = dict(_SELECT_FACET_PARAMS_REQ)
    p["facet.mincount"] = 1
    del p["facet.prefix"]
    p["facet.limit"], p["facet.offset"] = 4, 3
    off = select(s, p)["facet_counts"]["ftok"].collect()
    p["facet.limit"], p["facet.offset"] = 7, 0
    full = select(s, p)["facet_counts"]["ftok"].collect()
    assert [tuple(r) for r in off] == [tuple(r) for r in full[3:7]]
    with _pt.raises(ValueError):
        parse_select_params({"q": "data", "facet.sort": "alpha"})
    with _pt.raises(ValueError):
        parse_select_params({"q": "data", "facet.mincount": 0})
    with _pt.raises(ValueError):
        parse_select_params({"q": "data", "facet.offset": -1})


def test_select_handler_random_param_duel(spark, sf_dir):
    """Seeded random /select requests (q shape × q.op × fq × sort ×
    paging) must each equal the dedicated components called directly:
    the page is exactly the offset slice of the engine's ranked (or
    docvalues-ordered) head and numFound is the DocSet count."""
    import numpy as np
    from pyspark.sql import functions as F

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    vocab = (
        s.postings().groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), "term").limit(40).toPandas().term.tolist()
    )
    for seed in range(8):
        rng = np.random.default_rng(seed)
        terms = list(rng.choice(vocab, size=rng.integers(1, 4),
                                replace=False))
        params = {
            "q": " ".join(terms),
            "q.op": str(rng.choice(["OR", "AND"])),
            "start": int(rng.integers(0, 6)),
            "rows": int(rng.integers(1, 12)),
        }
        if rng.random() < 0.5:
            params["fq"] = str(rng.choice(
                ["role:assistant", "role:user", "turn_idx:[0 TO 4]"]))
        sort = str(rng.choice(
            ["score desc", "ts asc", "ts desc", "doc_len desc"]))
        params["sort"] = sort
        spec, o = parse_select_params(params)
        resp = select(s, params)
        page = [(r.conv_id, r.turn_idx)
                for r in resp["response"].collect()]
        if sort == "score desc":
            head = [(r.conv_id, r.turn_idx)
                    for r in s.search(spec, round_to=4).collect()]
        else:
            fld, d = sort.split()
            rows = (
                s.docmap().select("conv_id", "turn_idx", fld)
                .join(s.docset(spec), ["conv_id", "turn_idx"]).collect()
            )
            rows.sort(key=lambda r: (r[2], r.conv_id, r.turn_idx),
                      reverse=False)
            if d == "desc":  # sort key desc, tiebreak asc — resort
                rows.sort(key=lambda r: (r.conv_id, r.turn_idx))
                rows.sort(key=lambda r: r[2], reverse=True)
            head = [(r.conv_id, r.turn_idx)
                    for r in rows[: o["start"] + o["rows"]]]
        assert page == head[o["start"]: o["start"] + o["rows"]], (
            seed, params)
        assert resp["numFound"] == s.docset(spec).count(), (seed, params)


def test_select_handler_hl_passages_leg(spark, sf_dir):
    """Passage mode must equal a brute per-doc recompute (fragsize
    chunks, hit-count scoring, top-n non-empty), and the params pin
    their contract (need hl=true, >= 1)."""
    import pytest as _pt

    from lucene_solr_spark.analyzer import tokenize_one
    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import _SELECT_HL_PARAMS, cached_searcher
    from lucene_solr_spark.transcripts import transcripts_from_documents

    s = cached_searcher(spark, sf_dir)
    stored = transcripts_from_documents(spark, sf_dir)
    resp = select(s, _SELECT_HL_PARAMS, stored=stored)
    hl = [(r.conv_id, r.turn_idx, r.passage, r.snippet)
          for r in resp["highlighting"].collect()]
    page = [(r.conv_id, r.turn_idx) for r in resp["response"].collect()]
    text = {(r.conv_id, r.turn_idx): r.text for r in stored.collect()}
    ft, n_snip, terms = 10, 2, {"merge", "data"}
    want = []
    for key in page:
        toks = tokenize_one(text[key])
        cands = []
        for p in range((len(toks) + ft - 1) // ft):
            pt = toks[p * ft: (p + 1) * ft]
            score = sum(t in terms for t in pt)
            if score > 0:
                snip = " ".join(
                    f"<em>{t}</em>" if t in terms else t for t in pt)
                cands.append((-score, p, snip))
        cands.sort()
        want += [(key[0], key[1], p, snip)
                 for _, p, snip in cands[:n_snip]]
        # brute emits per page order; passages within a doc ascend
        want[-min(n_snip, len(cands)):] = sorted(
            want[-min(n_snip, len(cands)):])
    assert hl == want
    # contract: params need hl=true and sane values
    with _pt.raises(ValueError):
        parse_select_params({"q": "merge", "hl.snippets": 2})
    with _pt.raises(ValueError):
        parse_select_params({"q": "merge", "hl": True, "hl.fragsize": 0})


def test_select_handler_component_legs_contracts(spark, sf_dir):
    """Classic facet.query / facet.range / stats / group legs: each
    must equal its standalone-engine recompute on the SAME domain,
    and the param contracts reject malformed requests like Solr's
    400s."""
    import pytest as _pt

    from lucene_solr_spark.handler import (
        _merge_filters, parse_select_params, select,
    )
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    params = {
        "q": "data", "fq": "role:assistant", "rows": 5,
        "facet.query": "turn_idx:[0 TO 3]",
        "facet.range": "turn_idx", "facet.range.start": 0,
        "facet.range.end": 10, "facet.range.gap": 2,
        "stats": True, "stats.field": ["doc_len", "turn_idx"],
    }
    spec, o = parse_select_params(params)
    resp = select(s, params)
    # facet.query ≡ DocSet count with the filter folded in
    (raw, f_spec), = o["facet_queries"]
    assert resp["facet_queries"][raw] == s.docset(
        _merge_filters(spec, f_spec)).count()
    # facet.range bucket counts sum to the in-range domain size
    buckets = {r.bucket_start: r.cnt
               for r in resp["facet_ranges"]["turn_idx"].collect()}
    assert buckets and all(b % 2 == 0 and 0 <= b < 10 for b in buckets)
    in_range = (
        s.docmap().select("conv_id", "turn_idx")
        .join(s.docset(spec), ["conv_id", "turn_idx"])
        .filter((F.col("turn_idx") >= 0) & (F.col("turn_idx") < 10))
        .count()
    )
    assert sum(buckets.values()) == in_range
    # stats ≡ a brute recompute over the collected domain
    dom = (
        s.docmap().select("conv_id", "turn_idx", "doc_len")
        .join(s.docset(spec), ["conv_id", "turn_idx"])
        .collect()
    )
    vals = [r.doc_len for r in dom]
    st = resp["stats"]["doc_len"].collect()[0]
    mean = sum(vals) / len(vals)
    sd = math.sqrt(sum((v - mean) ** 2 for v in vals) / (len(vals) - 1))
    assert (st["min"], st["max"], st["sum"], st["cnt"], st["missing"]) == (
        min(vals), max(vals), sum(vals), len(vals), 0)
    assert abs(st["mean"] - mean) < 1e-3 and abs(st["stddev"] - sd) < 1e-3
    assert set(resp["stats"]) == {"doc_len", "turn_idx"}
    # contracts
    for bad in (
        {"q": "x", "facet.range": "turn_idx"},            # missing subs
        {"q": "x", "facet.range.start": 0},               # subs w/o field
        {"q": "x", "facet.range": "role",                 # non-numeric
         "facet.range.start": 0, "facet.range.end": 4,
         "facet.range.gap": 2},
        {"q": "x", "stats.field": "doc_len"},             # needs stats
        {"q": "x", "stats": True},                        # needs field
        {"q": "x", "stats": True, "stats.field": "text"},  # unstatable
        {"q": "x", "facet.query": "data merge"},          # scoring fq
        {"q": "x", "group": True},                        # needs field
        {"q": "x", "group": True, "group.field": "ts"},   # ungroupable
        {"q": "x", "group": True, "group.field": "role",
         "group.limit": 0},                               # bad limit
        {"q": "x", "group": True, "group.field": "role",
         "sort": "ts desc"},                              # score sort only
        {"q": "x", "group.limit": 2},                     # needs group
    ):
        with _pt.raises(ValueError):
            parse_select_params(bad)


def test_select_handler_group_leg_brute(spark, sf_dir):
    """The grouped doclist must equal a brute recompute from the full
    scored hit list: top `rows` groups by best rounded score, each
    group's top `group.limit` turns in (score desc, conv_id,
    turn_idx) order."""
    from lucene_solr_spark.handler import select
    from lucene_solr_spark.registry import (
        _SELECT_GROUP_PARAMS, _SELECT_GROUP_SPEC, cached_searcher,
    )

    s = cached_searcher(spark, sf_dir)
    got = [
        (r.group_value, r.conv_id, r.turn_idx, r.score, r.doc_rank)
        for r in select(s, _SELECT_GROUP_PARAMS)["grouped"].collect()
    ]
    hits = s.score_hits(_SELECT_GROUP_SPEC, k=None).withColumn(
        "score", F.round("score", 4)
    )
    role = {
        (r.conv_id, r.turn_idx): r.role
        for r in s.docmap().select("conv_id", "turn_idx", "role").collect()
    }
    by_group: dict = {}
    for r in hits.collect():
        key = role[(r.conv_id, r.turn_idx)]
        by_group.setdefault(key, []).append(
            (-r.score, r.conv_id, r.turn_idx))
    for g in by_group.values():
        g.sort()
    heads = sorted(by_group.items(), key=lambda kv: kv[1][0])
    want = []
    for g, docs in sorted(heads[: _SELECT_GROUP_PARAMS["rows"]]):
        for rank, (neg, cid, tid) in enumerate(
                docs[: _SELECT_GROUP_PARAMS["group.limit"]], 1):
            want.append((g, cid, tid, -neg, rank))
    assert got == want


def test_select_handler_mlt_leg_batched_equals_per_doc(spark, sf_dir):
    """The batched mlt leg must equal the per-doc more_like_this path
    for every page doc (same interesting-term selection, same OR
    scoring, same exclusion), and the params pin their contract."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import _SELECT_MLT_PARAMS, cached_searcher

    s = cached_searcher(spark, sf_dir)
    stored = transcripts_from_documents(spark, sf_dir)
    resp = select(s, _SELECT_MLT_PARAMS, stored=stored)
    got: dict = {}
    for r in resp["moreLikeThis"].collect():
        got.setdefault((r.conv_id, r.turn_idx), []).append(
            (r.sim_conv_id, r.sim_turn_idx, r.score, r.sim_rank))
    page = [(r.conv_id, r.turn_idx) for r in resp["response"].collect()]
    assert set(got) <= set(page)
    text = {(r.conv_id, r.turn_idx): r.text for r in stored.collect()}
    for key in page:
        want = [
            (r.conv_id, r.turn_idx, r.score, i + 1)
            for i, r in enumerate(s.more_like_this(
                key[0], key[1], text[key], max_terms=4, k=4, round_to=4,
            ).collect())
        ]
        assert got.get(key, []) == want, key
    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "mlt.count": 3})
    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "mlt": True, "mlt.maxqt": 0})
    with _pt.raises(ValueError):
        select(s, {"q": "x", "mlt": True})  # needs stored fields


def test_select_handler_spellcheck_leg(spark, sf_dir):
    """Spellcheck leg: only dictionary-absent terms get suggestions;
    collate substitutes each misspelled term with its TOP suggestion
    and its hit count equals the rewritten query's DocSet count; a
    fully well-spelled q yields an empty suggestion frame and the
    identity collation."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.query.parser import parse
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    params = {"q": "mrege tabel data", "rows": 5, "spellcheck": True,
              "spellcheck.count": 3, "spellcheck.collate": True}
    resp = select(s, params)
    sugg = resp["spellcheck"].collect()
    assert {r.q for r in sugg} <= {"mrege", "tabel"}  # 'data' is spelled
    assert all(r.dist <= 2 and len(r.suggestion) >= 3 for r in sugg)
    top = {}
    for r in sugg:
        top.setdefault(r.q, r.suggestion)
    coll = resp["spellcheck_collation"]
    want_q = " ".join(top.get(t, t) for t in ("mrege", "tabel", "data"))
    assert coll["collationQuery"] == want_q
    assert coll["hits"] == s.docset(
        parse(want_q, k=5, default_op="OR")).count()
    # well-spelled q: empty suggestions, identity collation
    ok = select(s, {"q": "merge data", "rows": 5, "spellcheck": True,
                    "spellcheck.collate": True})
    assert ok["spellcheck"].count() == 0
    assert ok["spellcheck_collation"]["collationQuery"] == "merge data"
    assert ok["spellcheck_collation"]["hits"] == ok["numFound"]
    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "spellcheck.count": 3})
    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "spellcheck": True,
                             "spellcheck.count": 0})


def test_select_handler_pivot_and_debug_legs(spark, sf_dir):
    """facet.pivot ≡ the standalone facet_pivot engine on the same
    domain; debug contribs sum to each page row's score (the pinned
    explain identity) and cover exactly the page; contracts raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.query.facets import facet_pivot
    from lucene_solr_spark.query.model import BooleanSpec
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    resp = select(s, {"q": "data", "rows": 4, "facet.pivot": "role,tool",
                      "facet.limit": 3, "debug": True})
    got = [tuple(r) for r in resp["facet_pivots"]["role,tool"].collect()]
    want = [tuple(r) for r in facet_pivot(
        s, ("role", "tool"), spec=BooleanSpec(must=("data",), k=4),
        limits=(3, 3),
    ).collect()]
    assert got == want and got
    # debug: contribs sum to the page scores, keys cover the page
    page = {(r.conv_id, r.turn_idx): r.score
            for r in resp["response"].collect()}
    sums: dict = {}
    for r in resp["debug"].collect():
        sums[(r.conv_id, r.turn_idx)] = (
            sums.get((r.conv_id, r.turn_idx), 0.0) + r.contrib)
    assert set(sums) == set(page)
    for k, v in sums.items():
        assert abs(v - page[k]) < 5e-4, (k, v, page[k])
    for bad in (
        {"q": "x", "facet.pivot": "role"},           # one field
        {"q": "x", "facet.pivot": "role,ts"},        # unfacetable
        {"q": "x", "facet.pivot": "role,role"},      # same field
        {"q": "x y", "debug": True, "defType": "edismax"},  # pf needs
    ):
        with _pt.raises(ValueError):
            parse_select_params(bad)


def test_select_handler_multiselect_tag_ex(spark, sf_dir):
    """{!tag}/{!ex} multi-select: the excluded facet's domain drops
    the tagged constraint while the doclist, numFound and untagged
    facets keep it; unknown ex tags raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import (
        _SELECT_MULTISELECT_PARAMS, cached_searcher,
    )

    s = cached_searcher(spark, sf_dir)
    resp = select(s, _SELECT_MULTISELECT_PARAMS)
    role_counts = {r.facet_value: r.cnt
                   for r in resp["facet_counts"]["role"].collect()}
    # the excluded facet ≡ the same request WITHOUT the role fq
    no_fq = dict(_SELECT_MULTISELECT_PARAMS,
                 fq="turn_idx:[0 TO 5]", **{"facet.field": "role"})
    want = {r.facet_value: r.cnt
            for r in select(s, no_fq)["facet_counts"]["role"].collect()}
    assert role_counts == want and len(role_counts) > 1
    # numFound and the untagged tool facet keep the role constraint
    assert resp["numFound"] < select(s, no_fq)["numFound"]
    with_fq = dict(_SELECT_MULTISELECT_PARAMS, **{"facet.field": "tool"})
    tool_want = {r.facet_value: r.cnt
                 for r in select(s, with_fq)["facet_counts"]["tool"]
                 .collect()}
    tool_got = {r.facet_value: r.cnt
                for r in resp["facet_counts"]["tool"].collect()}
    assert tool_got == tool_want
    assert resp["numFound"] == s.docset(
        parse_select_params(_SELECT_MULTISELECT_PARAMS)[0]).count()
    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "fq": "{!tag=a}role:user",
                             "facet.field": "{!ex=b}role"})


def test_update_stream_dest_stats_are_subset_only(spark, sf_dir):
    """UpdateStream contract: the destination collection's stats come
    ONLY from the streamed tuples — n_docs equals the source DocSet
    count, and every streamed doc contains the source term (df of
    'data' == n_docs in the destination, unlike the source corpus)."""
    from lucene_solr_spark.registry import (
        _UPDATE_SRC_SPEC, cached_searcher, cached_update_dest,
    )

    s = cached_searcher(spark, sf_dir)
    dest = cached_update_dest(spark, sf_dir)
    n_src = s.docset(_UPDATE_SRC_SPEC).count()
    assert dest.manifest.n_docs == n_src > 0
    assert dest.global_df(["data"])["data"] == n_src
    assert s.global_df(["data"])["data"] > n_src  # source is bigger


def test_terms_handler_contract(spark, sf_dir):
    """/terms front door: prefix and regex narrowings agree with the
    raw dictionary; params contract raises like Solr's 400s."""
    import pytest as _pt

    from lucene_solr_spark.handler import terms
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    got = terms(s, {"terms.prefix": "sc", "terms.limit": 50}).collect()
    assert got and all(r.term.startswith("sc") for r in got)
    dfs = [r.df for r in got]
    assert dfs == sorted(dfs, reverse=True)
    # index sort = term order; regex is whole-term-anchored
    rx = terms(s, {"terms.regex": "s(can|low)", "terms.sort": "index"})
    vals = [r.term for r in rx.collect()]
    assert vals == sorted(vals) and set(vals) <= {"scan", "slow"}
    # df equals the engine's own global df
    for r in got[:3]:
        assert s.global_df([r.term])[r.term] == r.df
    for bad in (
        {"terms.fl": "role"},
        {"terms.prefix": "a", "terms.regex": "b"},
        {"terms.limit": 0},
        {"terms.sort": "df"},
        {"nope": 1},
    ):
        with _pt.raises(ValueError):
            terms(s, bad)


def test_select_json_facet_nested_contract(spark, sf_dir):
    """Nested sub-facet through the handler ≡ the facet_nested engine
    directly; malformed nested requests raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.query.facets import facet_nested
    from lucene_solr_spark.query.model import BooleanSpec
    from lucene_solr_spark.registry import (
        _SELECT_NESTED_FACET_PARAMS, cached_searcher,
    )

    s = cached_searcher(spark, sf_dir)
    got = [tuple(r) for r in select(
        s, _SELECT_NESTED_FACET_PARAMS)["facets"]["roles"].collect()]
    want = [tuple(r) for r in facet_nested(
        s, "role", "tool", spec=BooleanSpec(must=("data",), k=5),
        limit1=3, limit2=2,
    ).collect()]
    assert got == want and got
    for bad_sub in (
        {"type": "range", "field": "tool"},           # not terms
        {"type": "terms", "field": "role"},           # same field
        {"type": "terms", "field": "ts"},             # unfacetable
        {"type": "terms", "field": "tool", "sort": "x"},  # unknown key
    ):
        jf = {"roles": {"type": "terms", "field": "role",
                        "facet": {"sub": bad_sub}}}
        with _pt.raises(ValueError):
            parse_select_params({"q": "data", "json.facet": jf})


def test_export_handler_contract(spark, sf_dir):
    """/export: full stream (== DocSet size, no paging), multi-key
    sort honored with the pinned tiebreak, docvalues-only fl/sort
    enforced, and the plan is a RANGE-partitioned sort (never a
    single-task collapse)."""
    import pytest as _pt

    from lucene_solr_spark.handler import export
    from lucene_solr_spark.query.parser import parse
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    params = {"q": "data", "fq": "role:assistant",
              "sort": "doc_len desc, turn_idx asc",
              "fl": ["conv_id", "turn_idx", "doc_len"]}
    df = export(s, params)
    rows = df.collect()
    spec = parse("data", default_op="OR")
    from lucene_solr_spark.handler import _merge_filters, _pure_filter

    spec = _merge_filters(spec, _pure_filter(
        parse("role:assistant", default_op="AND"), "role:assistant"))
    assert len(rows) == s.docset(spec).count() > 0  # the FULL stream
    keys = [(-r.doc_len, r.turn_idx, r.conv_id) for r in rows]
    assert keys == sorted(keys)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    for bad in (
        {"q": "x"},                                  # sort required
        {"sort": "score desc"},                      # not docvalues
        {"sort": "ts asc", "fl": ["text"]},          # fl not docvalues
        {"sort": "ts asc", "nope": 1},
    ):
        with _pt.raises(ValueError):
            export(s, bad)


def test_get_handler_contract(spark, sf_dir):
    """/get: tlog-deleted and absent ids produce no row, committed
    fallback serves v1, and malformed ids raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import get
    from lucene_solr_spark.registry import QUERIES

    rows = QUERIES["q_get_handler"](spark, sf_dir).collect()
    got = {(r.conv_id, r.turn_idx): (r.role, r.version) for r in rows}
    assert ("conv00000003", 1) not in got   # tlog delete (n%3==0)
    assert ("conv99999999", 0) not in got   # absent everywhere
    assert got[("conv00000002", 0)] == ("edited2", 3)  # latest wins
    assert got[("conv00000003", 0)] == ("edited", 2)
    assert got[("conv00000004", 1)][1] == 1  # committed fallback
    t = transcripts_from_documents(spark, sf_dir)
    for bad in (
        {"ids": "conv00000002"},            # no #turn
        {"ids": "conv00000002#x"},          # non-int turn
        {},                                  # ids required
        {"ids": "a#1", "rows": 5},          # unknown param
    ):
        with _pt.raises(ValueError):
            get(spark, bad, t)


def test_json_facet_exclude_tags_domain(spark, sf_dir):
    """json.facet domain.excludeTags ≡ the classic {!ex} leg on the
    same request; unknown tags raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    params = {
        "q": "data", "fq": ["{!tag=r}role:user", "turn_idx:[0 TO 5]"],
        "rows": 5,
        "json.facet": {"roles": {
            "type": "terms", "field": "role", "limit": 5,
            "domain": {"excludeTags": "r"},
        }},
    }
    got = {r.facet_value: r.cnt
           for r in select(s, params)["facets"]["roles"].collect()}
    classic = dict(params)
    del classic["json.facet"]
    classic["facet.field"] = "{!ex=r}role"
    want = {r.facet_value: r.cnt
            for r in select(s, classic)["facet_counts"]["role"].collect()}
    assert got == want and len(got) > 1
    with _pt.raises(ValueError):
        parse_select_params({
            "q": "x",
            "json.facet": {"roles": {"type": "terms", "field": "role",
                                     "domain": {"excludeTags": "nope"}}},
        })
    with _pt.raises(ValueError):
        parse_select_params({
            "q": "x",
            "json.facet": {"roles": {"type": "terms", "field": "role",
                                     "domain": {"filter": "x"}}},
        })


def test_select_interval_and_hl_phrase_contracts(spark, sf_dir):
    """facet.interval counts sum per overlapping interval (doc counts
    in EVERY containing set); hl.usePhraseHighlighter marks ONLY
    adjacency participants (an isolated constituent stays unmarked
    somewhere on the page); contracts raise."""
    import pytest as _pt

    from lucene_solr_spark.analyzer import tokenize_one
    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    resp = select(s, {"q": "data", "rows": 3,
                      "facet.interval": "turn_idx",
                      "facet.interval.set": ["[0,5]", "[3,8]"]})
    got = {r.interval: r.cnt
           for r in resp["facet_intervals"]["turn_idx"].collect()}
    dom = [r.turn_idx for r in s.docset(
        parse_select_params({"q": "data"})[0]).collect()]
    assert got["[0,5]"] == sum(0 <= t <= 5 for t in dom)
    assert got["[3,8]"] == sum(3 <= t <= 8 for t in dom)
    # hl phrase mode: every marked token sits in an adjacency
    stored = transcripts_from_documents(spark, sf_dir)
    hresp = select(s, {"q": '"table scan"', "rows": 10, "hl": True,
                       "hl.usePhraseHighlighter": True}, stored=stored)
    snips = [r.snippet for r in hresp["highlighting"].collect()]
    assert snips
    saw_unmarked_constituent = False
    for snip in snips:
        toks = snip.split(" ")
        plain = [t.replace("<em>", "").replace("</em>", "") for t in toks]
        for i, t in enumerate(toks):
            if t.startswith("<em>"):
                w = plain[i]
                assert w in ("table", "scan")
                ok = (w == "table" and i + 1 < len(plain)
                      and plain[i + 1] == "scan") or (
                    w == "scan" and i > 0 and plain[i - 1] == "table")
                assert ok, (i, snip)
            elif plain[i] in ("table", "scan"):
                saw_unmarked_constituent = True
    assert saw_unmarked_constituent  # the discriminator vs plain hl
    # marked stream equals the analyzer stream
    text = {(r.conv_id, r.turn_idx): r.text for r in stored.collect()}
    r0 = hresp["highlighting"].collect()[0]
    assert [t.replace("<em>", "").replace("</em>", "")
            for t in r0.snippet.split(" ")] == tokenize_one(
        text[(r0.conv_id, r0.turn_idx)])
    for bad in (
        {"q": "x", "facet.interval": "turn_idx"},       # set required
        {"q": "x", "facet.interval": "role",            # non-numeric
         "facet.interval.set": "[0,1]"},
        {"q": "x", "facet.interval": "turn_idx",
         "facet.interval.set": "[5,1]"},                # lo > hi
        {"q": "x", "facet.interval.set": "[0,1]"},      # field required
        {"q": "x", "hl.usePhraseHighlighter": True},    # needs hl
        {"q": "x", "hl": True, "hl.snippets": 2,
         "hl.usePhraseHighlighter": True},              # passage clash
    ):
        with _pt.raises(ValueError):
            parse_select_params(bad)


def test_select_facet_method_and_rows0(spark, sf_dir):
    """facet.method auto|refine|exact produce IDENTICAL buckets (the
    refine≡exact engine invariant through the front door); rows=0 is
    the facet-only request shape (empty doclist, full numFound +
    facet legs)."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    base = {"q": "data", "rows": 0, "facet.field": "ftok",
            "facet.limit": 8}
    outs = []
    for m in ("auto", "refine", "exact"):
        r = select(s, dict(base, **{"facet.method": m}))
        outs.append([tuple(x)
                     for x in r["facet_counts"]["ftok"].collect()])
    assert outs[0] == outs[1] == outs[2] and outs[0]
    r = select(s, base)
    assert r["response"].count() == 0 and r["numFound"] > 0
    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "facet.method": "uif"})


def test_spatial_qparsers_contract(spark, sf_dir):
    """{!bbox} matches the circle's ENCLOSING box — a superset of
    {!geofilt}'s exact haversine circle; the parser raises Solr-style
    400s on bad sfield/d/pt."""
    import pytest as _pt

    from lucene_solr_spark.operators.solr_battery import (
        parse_spatial_qparser,
        q_bbox_qparser,
        q_geofilt_qparser,
    )

    circle = {r.conv_id for r in q_geofilt_qparser(spark, sf_dir).collect()}
    box = {r.conv_id for r in q_bbox_qparser(spark, sf_dir).collect()}
    assert circle and circle <= box

    assert parse_spatial_qparser(
        "{!geofilt pt=1.5,-2.25 sfield=loc d=10}"
    ) == ("geofilt", 1.5, -2.25, 10.0)
    for bad in (
        "{!geofilt pt=1,2 sfield=store d=5}",   # unknown spatial field
        "{!bbox pt=1,2 sfield=loc d=0}",        # non-positive radius
        "{!geofilt pt=95,2 sfield=loc d=5}",    # latitude out of range
        "{!geofilt sfield=loc d=5}",            # missing pt
        "{!dist pt=1,2 sfield=loc d=5}",        # unknown parser
    ):
        with _pt.raises(ValueError):
            parse_spatial_qparser(bad)


def test_select_sort_missing_contract(spark, sf_dir):
    """sortMissing=last|first pins the NULL-key end regardless of
    direction; absent keeps Lucene's missing=lowest default; score
    sorts and bad values raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    base = {"q": "data", "sort": "tool asc", "rows": 15,
            "fl": ["conv_id", "turn_idx", "tool"]}
    default = [r.tool for r in select(s, base)["response"].collect()]
    last = [r.tool for r in select(
        s, dict(base, sortMissing="last"))["response"].collect()]
    first = [r.tool for r in select(
        s, dict(base, sortMissing="first"))["response"].collect()]
    # default (missing = lowest) ≡ nulls first under asc
    assert default == first
    assert first[0] is None
    assert all(t is not None for t in last)  # nulls pushed past page
    # desc + sortMissing=first: nulls lead even though they are lowest
    dfirst = [r.tool for r in select(
        s, dict(base, sort="tool desc", sortMissing="first"))
        ["response"].collect()]
    assert dfirst[0] is None

    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "sortMissing": "last"})
    with _pt.raises(ValueError):
        parse_select_params(
            {"q": "x", "sort": "tool asc", "sortMissing": "maybe"})


def test_urp_chain_order_semantics(spark):
    """Processor ORDER is observable: digit-masking turns 'scan1/2/3'
    into three 'scan' marker tokens, so LangDetect stamps 'query'
    only when it runs AFTER the regex stage (before it, 'data' wins
    2 markers to 0)."""
    import pytest as _pt

    from lucene_solr_spark.index.urp import (
        clone_field,
        lang_detect,
        regex_replace,
        trim_fields,
        truncate_field,
        urp_chain,
    )

    df = spark.createDataFrame(
        [("c1", 0, " user ", "data data scan1 scan2 scan3")],
        "conv_id string, turn_idx int, role string, text string",
    )
    mask = lambda d: regex_replace(d, "text", "[0-9]+", "#")
    lang = lambda d: lang_detect(d, "text", "lang_s")
    after = urp_chain(df, lambda d: trim_fields(d, ("role",)), mask, lang)
    r = after.collect()[0]
    assert (r.role, r.lang_s) == ("user", "query")
    before = urp_chain(df, lang, mask).collect()[0]
    assert before.lang_s == "data"

    t = urp_chain(df, lambda d: truncate_field(d, "text", 9)).collect()[0]
    assert t.text == "data data"
    c = clone_field(df, "text", "text_orig").collect()[0]
    assert c.text_orig == c.text
    with _pt.raises(ValueError):
        truncate_field(df, "text", 0)


def test_select_stats_facet_contract(spark, sf_dir):
    """stats.facet buckets partition the global stats (per-bucket cnt
    sums to the global cnt, min of mins = global min) and the param
    gates raise like Solr's 400s."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    r = select(s, {"q": "data", "rows": 0, "stats": True,
                   "stats.field": "doc_len", "stats.facet": "role"})
    g = r["stats"]["doc_len"].collect()[0]
    buckets = r["stats_facets"]["doc_len"].collect()
    assert sum(b.cnt for b in buckets) == g.cnt
    assert min(b["min"] for b in buckets) == g["min"]
    assert max(b["max"] for b in buckets) == g["max"]
    assert sum(b["sum"] for b in buckets) == g["sum"]

    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "stats.facet": "role"})
    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "stats": True,
                             "stats.field": "doc_len",
                             "stats.facet": "doc_len"})


def test_select_bq_contract(spark, sf_dir):
    """bq never changes the MATCH SET (only the order), boosts docs
    matching the bq clause, and the param gates raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    base = {"q": "table merge", "defType": "edismax", "mm": 1,
            "rows": 500}
    plain = select(s, base)
    boosted = select(s, dict(base, bq="data^0.4"))
    pk = {(r.conv_id, r.turn_idx): r.score
          for r in plain["response"].collect()}
    bk = {(r.conv_id, r.turn_idx): r.score
          for r in boosted["response"].collect()}
    assert set(pk) == set(bk)                      # match set pinned
    assert plain["numFound"] == boosted["numFound"]
    assert any(bk[k] > pk[k] for k in pk)          # some docs boosted
    assert all(bk[k] >= pk[k] for k in pk)         # additive, never down

    for bad in (
        {"q": "x", "bq": "data"},                          # needs edismax
        {"q": "x", "defType": "edismax", "bq": "-data"},   # pure filter
        {"q": "x", "defType": "edismax", "bq": "data",
         "sort": "ts desc"},                               # field sort
        {"q": "x", "defType": "edismax", "bq": "data",
         "rq": "{!rerank reRankQuery=$rqq reRankDocs=5 reRankWeight=1}",
         "rqq": "scan"},                                   # rerank
    ):
        with _pt.raises(ValueError):
            parse_select_params(bad)


def test_facet_range_hardend_contract(spark, sf_dir):
    """hardend=false (default) pads the unaligned last bucket to its
    full gap (docs in [end, padded_end) count there, and 'after'
    starts at the padded end); hardend=true clips at end. Aligned
    ranges are hardend-invariant."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    base = {"q": "merge", "rows": 0, "facet.range": "turn_idx",
            "facet.range.start": 0, "facet.range.end": 7,
            "facet.range.gap": 3, "facet.range.other": "all"}
    soft = select(s, base)
    hard = select(s, dict(base, **{"facet.range.hardend": True}))
    sb = {r.bucket_start: r.cnt
          for r in soft["facet_ranges"]["turn_idx"].collect()}
    hb = {r.bucket_start: r.cnt
          for r in hard["facet_ranges"]["turn_idx"].collect()}
    assert sb.get(0) == hb.get(0) and sb.get(3) == hb.get(3)
    assert sb.get(6, 0) >= hb.get(6, 0)  # pad adds turn 7/8 docs
    so = soft["facet_ranges_other"]["turn_idx"].collect()[0]
    ho = hard["facet_ranges_other"]["turn_idx"].collect()[0]
    assert so.before == ho.before
    # pad moved [7,9) docs from 'after' into the last bucket/between
    moved = sb.get(6, 0) - hb.get(6, 0)
    assert ho.after - so.after == moved
    assert so.between - ho.between == moved
    # aligned range: hardend-invariant
    ab = dict(base, **{"facet.range.end": 6})
    a_soft = {r.bucket_start: r.cnt
              for r in select(s, ab)["facet_ranges"]["turn_idx"].collect()}
    a_hard = {r.bucket_start: r.cnt
              for r in select(s, dict(ab, **{"facet.range.hardend": True}))
              ["facet_ranges"]["turn_idx"].collect()}
    assert a_soft == a_hard

    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "facet.range.hardend": True})
    with _pt.raises(ValueError):
        parse_select_params(dict(base, **{
            "facet.range": "ts",
            "facet.range.start": "2024-01-01T00:00:00Z",
            "facet.range.end": "2024-02-01T00:00:00Z",
            "facet.range.gap": "+1DAY",
            "facet.range.hardend": True}))


def test_hl_alternate_field_contract(spark, sf_dir):
    """alternateField fires ONLY for docs with zero surviving
    passages: a scoring query (every page doc has a hit) produces an
    identical highlighting frame with or without the fallback; the
    param gates raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher
    from lucene_solr_spark.transcripts import transcripts_from_documents

    s = cached_searcher(spark, sf_dir)
    t = transcripts_from_documents(spark, sf_dir)
    base = {"q": "merge", "rows": 6, "hl": True,
            "hl.snippets": 2, "hl.fragsize": 15}
    plain = select(s, base, stored=t)["highlighting"].collect()
    withalt = select(
        s, dict(base, **{"hl.alternateField": "text",
                         "hl.maxAlternateFieldLength": 25}),
        stored=t)["highlighting"].collect()
    assert [tuple(r) for r in plain] == [tuple(r) for r in withalt]
    assert all(r.passage is not None for r in withalt)

    for bad in (
        {"q": "x", "hl.alternateField": "text"},            # needs hl
        {"q": "x", "hl": True, "hl.alternateField": "text"},  # needs passages
        {"q": "x", "hl": True, "hl.snippets": 2,
         "hl.alternateField": "ts"},                        # bad field
        {"q": "x", "hl": True, "hl.snippets": 2,
         "hl.maxAlternateFieldLength": 10},                 # len w/o field
    ):
        with _pt.raises(ValueError):
            parse_select_params(bad)


def test_chunk_windows_properties(spark, sf_dir):
    """Chunking invariants: full token coverage (sum of stride
    advances + last window = n), 16-token overlap between neighbors,
    chunk 0 starts at token 0, only the last chunk may be short, and
    single-window docs get exactly one chunk."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.operators.textpipe import (
        _CHUNK_S,
        _CHUNK_W,
        q_chunk_windows,
    )

    chunks = q_chunk_windows(spark, sf_dir).collect()
    assert chunks
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.size(F.expr(
                "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
            )).alias("n"),
        )
        .collect()
    )
    n_by_doc = {r.doc_id: r.n for r in docs}
    by_doc: dict = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append(c)
    for doc_id, cs in by_doc.items():
        cs.sort(key=lambda c: c.chunk_idx)
        n = n_by_doc[doc_id]
        assert [c.chunk_idx for c in cs] == list(range(len(cs)))
        # all but last are full windows; coverage reaches the end
        for c in cs[:-1]:
            assert c.n_toks == _CHUNK_W
        last_start = (len(cs) - 1) * _CHUNK_S
        assert last_start < n <= last_start + _CHUNK_W or len(cs) == 1
        assert cs[-1].n_toks == min(_CHUNK_W, n - last_start)
        # neighbor overlap is W - S tokens (on full windows)
        if len(cs) >= 2 and cs[0].n_toks == _CHUNK_W:
            a = cs[0].chunk_text.split(" ")
            b = cs[1].chunk_text.split(" ")
            assert a[_CHUNK_S:] == b[: _CHUNK_W - _CHUNK_S]
    # every non-empty doc chunks
    assert set(by_doc) == {d for d, n in n_by_doc.items() if n > 0}


def test_jf_prefix_contract(spark, sf_dir):
    """json.facet prefix ≡ classic facet.prefix on the same domain;
    prefix+sub-aggs and bad prefix values raise."""
    import json as _json

    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    jf = select(s, {"q": "data", "rows": 0, "json.facet": _json.dumps(
        {"tp": {"type": "terms", "field": "ftok", "limit": 8,
                "prefix": "s"}})})["facets"]["tp"].collect()
    classic = select(s, {"q": "data", "rows": 0, "facet.field": "ftok",
                         "facet.limit": 8, "facet.prefix": "s"}
                     )["facet_counts"]["ftok"].collect()
    assert [tuple(r) for r in jf] == [tuple(r) for r in classic]
    assert jf and all(r.facet_value.startswith("s") for r in jf)

    for bad in (
        {"tp": {"type": "terms", "field": "ftok", "prefix": ""}},
        {"tp": {"type": "terms", "field": "ftok", "prefix": "s",
                "facet": {"adl": "avg(doc_len)"}}},
    ):
        with _pt.raises(ValueError):
            parse_select_params(
                {"q": "x", "json.facet": _json.dumps(bad)})


def test_group_sort_contract(spark, sf_dir):
    """group.sort reorders WITHIN doclists only: the winning group
    set and group order match the default run; each doclist is
    turn_idx-ascending; group.sort without group=true raises."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    base = {"q": "data merge", "group": True, "group.field": "role",
            "group.limit": 3, "rows": 2}
    default = select(s, base)["grouped"].collect()
    custom = select(s, dict(base, **{"group.sort": "turn_idx asc"})
                    )["grouped"].collect()
    gd = {r.group_value for r in default}
    gc = {r.group_value for r in custom}
    assert gd == gc and gd
    by_g: dict = {}
    for r in custom:
        by_g.setdefault(r.group_value, []).append(r)
    for rows in by_g.values():
        rows.sort(key=lambda r: r.doc_rank)
        turns = [r.turn_idx for r in rows]
        assert turns == sorted(turns)
    # same doc multiset per group when limit covers the group
    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "group.sort": "turn_idx asc"})
    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "group": True,
                             "group.field": "role",
                             "group.sort": "banana asc"})


def test_spellcheck_maxqf_contract(spark, sf_dir):
    """maxQueryFrequency eligibility + more-popular rule: at the
    default (0) the present term 'fast' gets NO suggestions; at 380
    it does, every suggestion strictly more popular than 'fast';
    common terms stay gated; the param needs spellcheck=true."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    # 'fast' and 'hash' are a dist-2 vocab pair at every sf; pick the
    # LESS frequent one as the query term so a more-popular neighbor
    # exists, and gate the threshold exactly at its df
    dfs = s.global_df(["fast", "hash"])
    qterm = min(("fast", "hash"), key=lambda t: (dfs[t], t))
    base = {"q": f"{qterm} data", "rows": 3,
            "spellcheck": True, "spellcheck.count": 3}
    default = select(s, base)["spellcheck"].collect()
    assert default == []  # both terms present, strictest gate
    loose = select(s, dict(base, **{
        "spellcheck.maxQueryFrequency": int(dfs[qterm])}))[
        "spellcheck"].collect()
    if dfs["fast"] != dfs["hash"]:
        assert loose and {r.q for r in loose} == {qterm}
    assert all(r.df > dfs[qterm] and r.suggestion != qterm
               for r in loose)

    with _pt.raises(ValueError):
        parse_select_params({"q": "x",
                             "spellcheck.maxQueryFrequency": 5})
    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "spellcheck": True,
                             "spellcheck.maxQueryFrequency": -1})


def test_mlt_gates_contract(spark, sf_dir):
    """mintf/mindf at 1/1 ≡ the ungated leg; the gated run differs
    from it (the gates bite); gates < 1 raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher
    from lucene_solr_spark.transcripts import transcripts_from_documents

    s = cached_searcher(spark, sf_dir)
    t = transcripts_from_documents(spark, sf_dir)
    base = {"q": "table merge", "q.op": "AND", "rows": 3,
            "mlt": True, "mlt.count": 4, "mlt.maxqt": 4}
    plain = [tuple(r) for r in select(s, base, stored=t)
             ["moreLikeThis"].collect()]
    ones = [tuple(r) for r in select(
        s, dict(base, **{"mlt.mintf": 1, "mlt.mindf": 1}), stored=t)
        ["moreLikeThis"].collect()]
    assert plain == ones
    gated = [tuple(r) for r in select(
        s, dict(base, **{"mlt.mintf": 2, "mlt.mindf": 380}), stored=t)
        ["moreLikeThis"].collect()]
    assert gated != plain

    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "mlt": True, "mlt.mintf": 0})
    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "mlt.mindf": 3})


def test_jf_mincount_contract(spark, sf_dir):
    """json.facet mincount ≡ classic facet.mincount on the same
    domain; mincount < 1 and mincount>1+sub-aggs raise."""
    import json as _json

    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    jf = select(s, {"q": "data", "rows": 0, "json.facet": _json.dumps(
        {"tm": {"type": "terms", "field": "ftok", "limit": 15,
                "mincount": 3}})})["facets"]["tm"].collect()
    classic = select(s, {"q": "data", "rows": 0, "facet.field": "ftok",
                         "facet.limit": 15, "facet.mincount": 3}
                     )["facet_counts"]["ftok"].collect()
    assert [tuple(r) for r in jf] == [tuple(r) for r in classic]
    assert jf and all(r.cnt >= 3 for r in jf)

    for bad in (
        {"tm": {"type": "terms", "field": "ftok", "mincount": 0}},
        {"tm": {"type": "terms", "field": "ftok", "mincount": 2,
                "facet": {"adl": "avg(doc_len)"}}},
    ):
        with _pt.raises(ValueError):
            parse_select_params(
                {"q": "x", "json.facet": _json.dumps(bad)})


def test_select_tv_contract(spark, sf_dir):
    """tv leg: tf = positions length, every page doc appears, df >=
    own-doc presence, flags gate columns, tv.* without tv raises."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher
    from lucene_solr_spark.transcripts import transcripts_from_documents

    s = cached_searcher(spark, sf_dir)
    t = transcripts_from_documents(spark, sf_dir)
    base = {"q": "merge", "rows": 3, "tv": True}
    r = select(s, dict(base, **{"tv.df": True, "tv.positions": True}),
               stored=t)
    tv = r["termVectors"].collect()
    page = {(x.conv_id, x.turn_idx)
            for x in r["response"].collect()}
    assert {(x.conv_id, x.turn_idx) for x in tv} == page
    for row in tv:
        assert row.tf == len(row.positions.split(","))
        assert row.df >= 1  # the term occurs in this doc at least
    plain = select(s, base, stored=t)["termVectors"]
    assert plain.columns == ["conv_id", "turn_idx", "term", "tf"]

    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "tv.df": True})


def test_jf_range_other_contract(spark, sf_dir):
    """json.facet range other ≡ classic facet.range.other on the same
    request; bad 'other' values raise; bucket counts + between are
    consistent (between = sum of in-range bucket counts)."""
    import json as _json

    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    r = select(s, {"q": "merge", "rows": 0, "json.facet": _json.dumps(
        {"ri": {"type": "range", "field": "turn_idx", "start": 2,
                "end": 8, "gap": 2, "other": "all"}})})
    jf_o = r["facets"]["ri:other"].collect()[0]
    classic = select(s, {
        "q": "merge", "rows": 0, "facet.range": "turn_idx",
        "facet.range.start": 2, "facet.range.end": 8,
        "facet.range.gap": 2, "facet.range.other": "all",
    })["facet_ranges_other"]["turn_idx"].collect()[0]
    assert tuple(jf_o) == tuple(classic)
    buckets = r["facets"]["ri"].collect()
    assert sum(b.cnt for b in buckets) == jf_o.between

    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "json.facet": _json.dumps(
            {"ri": {"type": "range", "field": "turn_idx", "start": 0,
                    "end": 4, "gap": 2, "other": "sideways"}})})


def test_group_query_contract(spark, sf_dir):
    """group.query doclists are subsets of the main match set ordered
    by MAIN rank; groups come in request order; field/query commands
    are exclusive and unsupported subs raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    r = select(s, {"q": "data", "group": True,
                   "group.query": ["role:assistant", "merge"],
                   "group.limit": 2, "rows": 2})
    rows = r["grouped"].collect()
    assert [x.group_value for x in rows] == sorted(
        [x.group_value for x in rows],
        key=lambda v: ["role:assistant", "merge"].index(v))
    main = {(x.conv_id, x.turn_idx): x.score
            for x in select(s, {"q": "data", "rows": 500})
            ["response"].collect()}
    for x in rows:
        assert main.get((x.conv_id, x.turn_idx)) == x.score

    for bad in (
        {"q": "x", "group": True, "group.query": "merge",
         "group.field": "role"},
        {"q": "x", "group": True, "group.query": "merge",
         "group.ngroups": True},
        {"q": "x", "group": True, "group.query": []},
    ):
        with _pt.raises(ValueError):
            parse_select_params(bad)


def test_group_func_contract(spark, sf_dir):
    """group.func buckets = floor(doc_len/32) of each doclist doc;
    command exclusivity and malformed functions raise."""
    import pytest as _pt

    from pyspark.sql import functions as F

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    rows = select(s, {"q": "data", "group": True,
                      "group.func": "floor(div(doc_len,32))",
                      "group.limit": 2, "rows": 3})["grouped"].collect()
    assert rows
    dl = {(r.conv_id, r.turn_idx): r.doc_len
          for r in s.docmap().select("conv_id", "turn_idx", "doc_len")
          .collect()}
    for r in rows:
        assert r.group_value == dl[(r.conv_id, r.turn_idx)] // 32

    for bad in (
        {"q": "x", "group": True, "group.func": "f(doc_len)"},
        {"q": "x", "group": True, "group.func": "floor(div(role,2))"},
        {"q": "x", "group": True, "group.func": "floor(div(doc_len,0))"},
        {"q": "x", "group": True, "group.field": "role",
         "group.func": "floor(div(doc_len,32))"},
    ):
        with _pt.raises(ValueError):
            parse_select_params(bad)


def test_jf_missing_contract(spark, sf_dir):
    """json.facet missing ≡ classic facet.missing; the NULL bucket
    counts exactly the domain's no-value docs; missing+sub-aggs
    raises."""
    import json as _json

    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    jf = select(s, {"q": "data", "rows": 0, "json.facet": _json.dumps(
        {"tools": {"type": "terms", "field": "tool", "limit": 5,
                   "missing": True}})})["facets"]["tools"].collect()
    classic = select(s, {"q": "data", "rows": 0, "facet.field": "tool",
                         "facet.limit": 5, "facet.missing": True}
                     )["facet_counts"]["tool"].collect()
    assert [tuple(r) for r in jf] == [tuple(r) for r in classic]
    assert jf[-1].facet_value is None and jf[-1].cnt > 0

    with _pt.raises(ValueError):
        parse_select_params({"q": "x", "json.facet": _json.dumps(
            {"t": {"type": "terms", "field": "tool", "missing": True,
                   "facet": {"adl": "avg(doc_len)"}}})})


def test_fq_frange_contract(spark, sf_dir):
    """{!frange} fq: inclusive bounds on a numeric docvalues field,
    one-sided forms work, non-field ValueSources and boundless forms
    raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    dl = {(r.conv_id, r.turn_idx): r.doc_len
          for r in s.docmap().select("conv_id", "turn_idx", "doc_len")
          .collect()}
    r = select(s, {"q": "data", "fq": "{!frange l=20 u=60}doc_len",
                   "rows": 50})["response"].collect()
    assert r and all(20 <= dl[(x.conv_id, x.turn_idx)] <= 60 for x in r)
    lo = select(s, {"q": "data", "fq": "{!frange l=40}doc_len",
                    "rows": 50})["response"].collect()
    assert lo and all(dl[(x.conv_id, x.turn_idx)] >= 40 for x in lo)

    for bad in (
        {"q": "x", "fq": "{!frange l=1 u=2}sqrt(doc_len)"},
        {"q": "x", "fq": "{!frange l=1 u=2}role"},
        {"q": "x", "fq": "{!frange}doc_len"},
    ):
        with _pt.raises(ValueError):
            parse_select_params(bad)


def test_sort_multi_contract(spark, sf_dir):
    """Multi-clause sorts order left-to-right (role partitions the
    page, ts breaks ties within role); duplicate fields and malformed
    clauses raise."""
    import pytest as _pt

    from lucene_solr_spark.handler import parse_select_params, select
    from lucene_solr_spark.registry import cached_searcher

    s = cached_searcher(spark, sf_dir)
    rows = select(s, {"q": "merge", "sort": "role asc, turn_idx desc",
                      "rows": 30,
                      "fl": ["conv_id", "turn_idx", "role"]}
                  )["response"].collect()
    assert rows
    roles = [r.role for r in rows]
    assert roles == sorted(roles)
    for i in range(1, len(rows)):
        if rows[i].role == rows[i - 1].role:
            assert rows[i].turn_idx <= rows[i - 1].turn_idx or (
                rows[i].turn_idx == rows[i - 1].turn_idx)

    for bad in ("role asc, role desc", "role asc,", "role sideways",
                "role asc ts desc"):
        with _pt.raises(ValueError):
            parse_select_params({"q": "x", "sort": bad})


def test_wt_csv_escaping(spark):
    """RFC-4180 quoting: commas/quotes/newlines quote the cell,
    embedded quotes double, nulls serialize empty."""
    from lucene_solr_spark.handler import _encode_wt

    df = spark.createDataFrame(
        [("a,b", 'say "hi"', None, "plain"),
         ("line\nbreak", "x", "y", "z")],
        "c1 string, c2 string, c3 string, c4 string",
    )
    lines = [r.csv for r in _encode_wt(df, "csv").collect()]
    assert '"a,b","say ""hi""",,plain' in lines
    assert '"line\nbreak",x,y,z' in lines


def test_sample_uniform_k_invariance(spark, sf_dir):
    """Exactly K docs, and the SAME K docs at different parallelism
    (hash = seed, no RNG state)."""
    from lucene_solr_spark.operators.textpipe import (
        _UNIFORM_K,
        q_sample_uniform_k,
    )

    a = {r.doc_id for r in q_sample_uniform_k(spark, sf_dir).collect()}
    assert len(a) == _UNIFORM_K
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(7)
    )
    d.createOrReplaceTempView("_uni_docs7")
    from pyspark.sql import functions as F

    b = {
        r.doc_id
        for r in d.select(
            "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
        )
        .orderBy("h", "doc_id")
        .limit(_UNIFORM_K)
        .collect()
    }
    assert a == b
