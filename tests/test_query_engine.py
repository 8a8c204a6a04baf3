"""Dueling implementations (SURVEY §5, TestDuelingCodecs analog):
the segment-index engine must be rank-identical — docIDs AND float64
scores — to the DuckDB oracle on every query shape; WAND-pruned
disjunctions must equal unpruned scoring."""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pytest

from lucene_solr_spark.analyzer import tokenize_one
from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.registry import BM25_SPECS
from lucene_solr_spark.transcripts import transcripts_from_documents


@pytest.fixture(scope="module")
def searcher(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("qidx"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    return IndexSearcher(spark, root), t


@pytest.fixture(scope="module")
def doc_freq(searcher):
    """term → df over the tokenized corpus (not the index dictionary)."""
    _s, t = searcher
    texts = t.select("text").toPandas().text
    return Counter(x for text in texts for x in set(tokenize_one(text)))


def brute_expand(doc_freq, spec, max_expansions=1024):
    """Brute MultiTermQuery rewrite over the corpus vocabulary: Lucene
    wildcard (``*`` any run, ``?`` one char, ``\\`` escapes) and
    whole-term regexp, each pattern's matches ranked (df desc, term asc)
    and capped at ``max_expansions`` — the expanded SHOULD tuple."""

    def wildcard_re(pat):
        out, i = [], 0
        while i < len(pat):
            c = pat[i]
            if c == "\\" and i + 1 < len(pat):
                i += 1
                out.append(re.escape(pat[i]))
            else:
                out.append({"*": ".*", "?": "."}.get(c, re.escape(c)))
            i += 1
        return re.compile("".join(out), re.S)

    vocab = sorted(doc_freq, key=lambda x: (-doc_freq[x], x))
    extra = []
    for rx in [wildcard_re(p) for p in spec.wildcards] + [
        re.compile(p) for p in spec.regexps
    ]:
        extra += sorted([x for x in vocab if rx.fullmatch(x)][:max_expansions])
    return spec.should + tuple(
        x for x in dict.fromkeys(extra) if x not in spec.should
    )


@pytest.mark.parametrize("name", list(BM25_SPECS))
def test_rank_identical_to_oracle(searcher, oracle_topk, name):
    s, _t = searcher
    spec = BM25_SPECS[name]
    a = s.search(spec).toPandas()
    b = oracle_topk(spec)
    assert list(zip(a.conv_id, a.turn_idx)) == list(zip(b.conv_id, b.turn_idx)), name
    assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9), name


def test_wand_pruning_equals_exact(searcher, oracle_topk):
    """Pure-disjunction path (block-max WAND) == exact: the oracle
    scores every matching doc, so a doc WAND wrongly skipped would
    show as a rank difference."""
    s, _t = searcher
    spec = BooleanSpec(should=("the", "fast", "merge", "w1"), min_should_match=1, k=25)
    a = s.search(spec).toPandas()
    b = oracle_topk(spec)
    assert list(zip(a.conv_id, a.turn_idx)) == list(zip(b.conv_id, b.turn_idx))
    assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9)


def test_missing_term_yields_empty(searcher):
    s, _ = searcher
    assert s.search(BooleanSpec(must=("zzzzneverseen",), k=5)).count() == 0


def test_phrase_requires_adjacency(searcher, oracle_topk):
    s, _t = searcher
    spec = BooleanSpec(phrases=(("table", "scan"),), k=50)
    hits = s.search(spec).toPandas()
    # every hit's text must contain the adjacent phrase per the oracle
    b = oracle_topk(spec)
    assert set(zip(hits.conv_id, hits.turn_idx)) == set(zip(b.conv_id, b.turn_idx))


def test_expand_terms_bounded(searcher):
    """TopTermsRewrite cap: a wide automaton keeps only the
    max_expansions highest-df terms (never an unbounded collect)."""
    from pyspark.sql import functions as F

    s, _ = searcher
    all_terms = s.expand_terms(F.col("term").rlike("^[a-z]"), max_expansions=100000)
    capped = s.expand_terms(F.col("term").rlike("^[a-z]"), max_expansions=5)
    assert len(capped) == 5 and len(all_terms) > 5
    # the kept 5 are the top-df subset of the full expansion
    post = (
        s.postings().groupBy("term").agg(F.sum("df").alias("df"))
        .filter(F.col("term").rlike("^[a-z]")).toPandas()
    )
    top5 = set(
        post.sort_values(["df", "term"], ascending=[False, True]).head(5).term
    )
    assert set(capped) == top5


def test_string_range_fq_is_lexicographic_in_both_engines(searcher, oracle_topk):
    """ADVICE r2: a numeric-parseable bound on a STRING field must
    compare lexicographically (literal typed by the target column, not
    by bound parseability) — the index engine and the oracle agree."""
    s, t = searcher
    # lexicographic window catching 'assistant' but not 'user'/'tool'
    spec = BooleanSpec(
        must=("merge",), range_filters=(("role", "a", "s"),), k=50
    )
    a = s.search(spec).toPandas()
    b = oracle_topk(spec)
    assert list(zip(a.conv_id, a.turn_idx)) == list(zip(b.conv_id, b.turn_idx))
    assert len(a) > 0 and set(["assistant"]) >= set(
        t.filter(t.role >= "a").filter(t.role <= "s")
        .select("role").distinct().toPandas()["role"]
    )
    # numeric-looking bounds on a string field: lexicographic → no role
    # matches (a parseability coercion would compare numerically,
    # NULL-casting every row)
    spec2 = BooleanSpec(
        must=("merge",), range_filters=(("role", "1", "5"),), k=50
    )
    a2 = s.search(spec2).toPandas()
    b2 = oracle_topk(spec2)
    assert list(zip(a2.conv_id, a2.turn_idx)) == list(
        zip(b2.conv_id, b2.turn_idx)
    )


def test_wildcard_and_regexp_predicates(spark):
    """Wildcard LIKE compilation (escapes, ? and *) and regexp
    whole-term anchoring, on a constructed dictionary."""
    df = spark.createDataFrame(
        [("scan",), ("scans",), ("sort",), ("s_a%",), ("a*b",), ("small",)],
        "term string",
    )

    def terms(pred):
        return sorted(r.term for r in df.filter(pred).collect())

    assert terms(IndexSearcher.wildcard_predicate("s?a*")) == [
        "s_a%", "scan", "scans", "small",
    ]
    # escaped wildcard chars are literals
    assert terms(IndexSearcher.wildcard_predicate("a\\*b")) == ["a*b"]
    # literal LIKE metachars in the pattern are escaped, not wild
    assert terms(IndexSearcher.wildcard_predicate("s_a%")) == ["s_a%"]
    # regexp is whole-term anchored: no substring match on 'scans'
    assert terms(IndexSearcher.regexp_predicate("s(can|ort)")) == [
        "scan", "sort",
    ]


def test_cursor_paging_equals_offset_paging(searcher):
    """cursorMark keyset pages (3 x 10) must reproduce the offset
    top-30 exactly — disjoint, ordered, complete (W4 through the
    index engine)."""
    s, _ = searcher
    spec = BooleanSpec(should=("batch", "agg"), min_should_match=1, k=10)
    want = s.search(
        BooleanSpec(should=("batch", "agg"), min_should_match=1, k=30),
        round_to=4,
    ).collect()
    got, cursor = [], None
    for _ in range(3):
        page = s.cursor_page(spec, cursor=cursor, round_to=4).collect()
        assert len(page) == 10
        last = page[-1]
        cursor = (last.score, last.conv_id, last.turn_idx)
        got.extend(page)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # marks are strictly advancing: pages disjoint
    keys = [(r.conv_id, r.turn_idx) for r in got]
    assert len(set(keys)) == len(keys)


def test_query_string_multiterm_rank_identical(searcher, doc_freq, oracle_topk):
    """parse('data s?a* /w.*w/'): the index path auto-rewrites via the
    dictionary scan, which must expand to the brute corpus-vocabulary
    expansion; the rewritten spec then ranks identically in the oracle."""
    from lucene_solr_spark.query.parser import parse

    s, _t = searcher
    spec = parse("data s?a* /w.*w/", k=20)
    rw_idx = s.rewrite(spec)
    assert not rw_idx.needs_rewrite
    assert rw_idx.should == brute_expand(doc_freq, spec)
    assert len(rw_idx.should) > len(spec.should)
    a = s.search(spec).toPandas()
    b = oracle_topk(rw_idx)
    assert len(a) > 0
    assert list(zip(a.conv_id, a.turn_idx)) == list(zip(b.conv_id, b.turn_idx))
    assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9)


def test_empty_multiterm_rewrite_yields_zero_hits(searcher, doc_freq):
    """A wildcard matching nothing = Lucene's empty rewrite: zero
    hits (never an error, never MatchAll), for both search and
    docset; the corpus vocabulary has no term it could expand to."""
    from lucene_solr_spark.query.parser import parse

    s, _t = searcher
    spec = parse("zzz*", k=5)
    assert brute_expand(doc_freq, spec) == ()
    assert s.rewrite(spec).should == ()
    assert s.search(spec).count() == 0
    assert s.docset(spec).count() == 0
    # with another positive clause the query degrades gracefully to it
    spec2 = parse("+merge zzz*", k=5)
    assert s.search(spec2).count() == 5


def test_explain_breakdown_sums_to_score(searcher):
    """debugQuery invariant: the per-term explain contribs of a doc
    sum to exactly the score the ranker gave it (raw float64)."""
    from lucene_solr_spark.query.model import BooleanSpec

    s, _t = searcher
    spec = BooleanSpec(should=("merge", "data"), min_should_match=1, k=3)
    top = s.search(spec).collect()
    assert top
    for r in top:
        br = s.explain(spec, r.conv_id, int(r.turn_idx)).toPandas()
        assert len(br) >= 1
        assert abs(br.contrib.sum() - r.score) < 1e-9
        assert (br.tf > 0).all()  # matching clauses only
    # pf query: the phrase clause appears as its own '"a b"' row and
    # the identity still holds (bonus included)
    pf = BooleanSpec(should=("merge", "data"), min_should_match=1,
                     pf_phrases=(("merge", "data"),), pf_boost=2.0, k=3)
    for r in s.search(pf).collect():
        br = s.explain(pf, r.conv_id, int(r.turn_idx)).toPandas()
        assert abs(br.contrib.sum() - r.score) < 1e-9
    # absent doc → empty breakdown, stable schema
    empty = s.explain(spec, "conv_does_not_exist", 0).toPandas()
    assert len(empty) == 0 and list(empty.columns) == [
        "term", "tf", "df", "idf", "contrib"
    ]


def test_early_topk_cursor_pages_equal_head(searcher):
    """Index-sort cursorMark: three keyset pages == the head-30 list,
    and each page never returns rows at or before its mark."""
    s, _t = searcher
    head = [(r.conv_id, r.turn_idx)
            for r in s.early_topk(30, fields=("role",)).collect()]
    pages, cursor = [], None
    for _ in range(3):
        page = s.early_topk(10, fields=("role",), cursor=cursor).collect()
        assert len(page) == 10
        if cursor is not None:
            assert all((r.conv_id, r.turn_idx) > cursor for r in page)
        pages += [(r.conv_id, r.turn_idx) for r in page]
        last = page[-1]
        cursor = (last.conv_id, last.turn_idx)
    assert pages == head
