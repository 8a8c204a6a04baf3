"""One per-segment pass for a score-sorted /select with facet.field legs
(``IndexSearcher.doc_list_and_set``, the ``getDocListAndSet`` analog):
the page must be bit-identical to ``search()``'s, and the facet counts
must equal a pandas recount over the analyzed text — on a plain index,
on a tombstoned one, and on a corpus whose rounded scores tie often.

Also here: every facet function given an UNREWRITTEN multiterm spec
counts the rewritten domain (the reader rewrites once for all of them).
"""

from __future__ import annotations

import fnmatch

import pandas as pd
import pytest

from lucene_solr_spark.analyzer import tokenize_one
from lucene_solr_spark.handler import parse_select_params, select
from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.index.deletes import delete_by_query
from lucene_solr_spark.query import facets as fx
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.query.parser import parse
from lucene_solr_spark.transcripts import transcripts_from_documents

from test_rounded_ties import _corpus as ties_corpus

SCHEMA = ("conv_id string, turn_idx int, role string, text string,"
          " tool string, ts timestamp")
#: crosses roles, tools, conversations and parent (turn 0) rows
Q_DEL = BooleanSpec(must=("merge",), range_filters=(("turn_idx", "0", "3"),))


def _index(spark, table, root, parts=3):
    build_index(spark, table, root, num_parts=parts)
    return IndexSearcher(spark, root)


@pytest.fixture(scope="module")
def sf_docs(spark, sf_dir):
    return transcripts_from_documents(spark, sf_dir)


@pytest.fixture(scope="module")
def plain(spark, sf_docs, tmp_path_factory):
    return _index(spark, sf_docs, str(tmp_path_factory.mktemp("dls_plain")))


@pytest.fixture(scope="module")
def tombstoned(spark, sf_docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dls_tomb"))
    _index(spark, sf_docs, root)
    assert delete_by_query(spark, root, Q_DEL) > 0
    return IndexSearcher(spark, root)


@pytest.fixture(scope="module")
def ties(spark, tmp_path_factory):
    t = spark.createDataFrame(ties_corpus(), SCHEMA)
    return _index(spark, t, str(tmp_path_factory.mktemp("dls_ties")), 4)


def _token_sets(t: pd.DataFrame) -> dict:
    """(conv_id, turn_idx) → the analyzed token set of the turn."""
    return {(c, int(i)): set(tokenize_one(x))
            for c, i, x in zip(t.conv_id, t.turn_idx, t.text)}


@pytest.fixture(scope="module")
def sf_texts(sf_docs):
    return _token_sets(sf_docs.toPandas())


@pytest.fixture(scope="module")
def ties_texts():
    return _token_sets(ties_corpus())


def _live(searcher, texts) -> pd.DataFrame:
    """The live docs' docvalues and token sets — the recount source,
    independent of the engine's postings and segment reader."""
    dm = searcher.docmap().select(
        "conv_id", "turn_idx", "role", "tool", "doc_len").toPandas()
    dm["toks"] = [texts[(c, int(i))] for c, i in zip(dm.conv_id, dm.turn_idx)]
    return dm


def _recount(hits: pd.DataFrame, field: str, p: dict) -> list[tuple]:
    """Solr facet.field semantics over the hit docs, spelled out."""
    grouped = bool(p.get("group.facet"))
    has = hits[hits[field].notna()]
    by = has.groupby(field)
    counts = by.conv_id.nunique() if grouped else by.size()
    items = [(v, int(c)) for v, c in counts.items()]
    if "facet.prefix" in p:
        items = [(v, c) for v, c in items if v.startswith(p["facet.prefix"])]
    ex = str(p.get("facet.excludeTerms", "")).split(",")
    items = [(v, c) for v, c in items if v not in ex]
    items = [(v, c) for v, c in items if c >= p.get("facet.mincount", 1)]
    if p.get("facet.sort", "count") == "count":
        items.sort(key=lambda vc: (-vc[1], vc[0]))
    else:
        items.sort()
    off = p.get("facet.offset", 0)
    items = items[off:off + p.get("facet.limit", 10)]
    if p.get("facet.missing"):
        miss = hits[hits[field].isna()]
        items.append((None, int(miss.conv_id.nunique() if grouped
                                else len(miss))))
    if p.get("facet.exists"):
        items = [(v, min(c, 1)) for v, c in items]
    return items


FIELDS = ("role", "tool")
CASES = [
    {"start": 0},
    {"start": 10, "facet.mincount": 2},
    {"start": 20, "facet.sort": "index"},
    {"facet.prefix": "tool_1"},
    {"facet.offset": 1, "facet.limit": 3},
    {"facet.missing": True},
    {"facet.excludeTerms": "assistant,tool_6"},
    {"group": True, "group.field": "conv_id", "group.facet": True},
    {"facet.exists": True, "facet.sort": "index"},
    {"rows": 0, "facet.missing": True},
]
CASE_IDS = ["start0", "start10_mincount2", "start20_index", "prefix",
            "offset", "missing", "exclude_terms", "group_facet", "exists",
            "rows0"]


def _check_select(searcher, texts, monkeypatch, params, must, role=None):
    """The fused /select against search() and the pandas recount."""
    calls = []
    real = IndexSearcher.doc_list_and_set

    def spy(self, *a, **kw):
        calls.append(a)
        return real(self, *a, **kw)

    monkeypatch.setattr(IndexSearcher, "doc_list_and_set", spy)
    out = select(searcher, params)
    assert len(calls) == 1 and len(calls[0][3]) == len(FIELDS)
    spec, o = parse_select_params(params)
    page = [tuple(r) for r in out["response"].collect()]
    want = searcher.search(spec, round_to=4).offset(o["start"]).collect()
    assert page == [tuple(r) for r in want]  # bit-identical scores
    assert len(page) == min(o["rows"], max(0, out["numFound"] - o["start"]))

    docs = _live(searcher, texts)
    hit = docs.toks.map(lambda ts: set(must) <= ts)
    if role is not None:
        hit &= docs.role.ne(role) | docs.role.isna()
    hits = docs[hit]
    assert out["numFound"] == len(hits)
    for f in FIELDS:
        got = [tuple(r) for r in out["facet_counts"][f].collect()]
        assert got == _recount(hits, f, params), f


@pytest.mark.parametrize("case", CASES, ids=CASE_IDS)
@pytest.mark.parametrize("which", ["plain", "tombstoned"])
def test_fused_select_matches_search_and_recount(
        request, sf_texts, monkeypatch, which, case):
    searcher = request.getfixturevalue(which)
    params = {"q": "data", "fq": "-role:user", "rows": 10,
              "facet.field": list(FIELDS), "facet.limit": 10,
              # tool has 37 values: exact, so it rides the fused pass
              "facet.method": "exact", **case}
    _check_select(searcher, sf_texts, monkeypatch, params, ["data"], "user")


@pytest.mark.parametrize("case", CASES[:3] + CASES[5:6], ids=[
    CASE_IDS[i] for i in (0, 1, 2, 5)])
@pytest.mark.parametrize("q", ["w1", "w2 w3"])
def test_fused_select_rounded_ties(ties, ties_texts, monkeypatch, q, case):
    params = {"q": q, "q.op": "AND", "rows": 10, "facet.field": list(FIELDS),
              "facet.method": "exact", **case}
    _check_select(ties, ties_texts, monkeypatch, params, q.split())


@pytest.mark.parametrize("round_to", [4, 2])
@pytest.mark.parametrize("spec", [
    BooleanSpec(must=("w1",), k=10),
    BooleanSpec(must=("w2",), k=25),
    BooleanSpec(should=("w1", "w3"), min_should_match=1, k=10),
], ids=["term", "term_k25", "wand_or"])
def test_doc_list_and_set_equals_search(ties, spec, round_to):
    """At 2 dp most scores tie: the driver's order must still be the
    TakeOrdered's, score for score."""
    req = fx.FacetRequest(field="role", missing=True)
    top, (facet,) = ties.doc_list_and_set(spec, spec.k, round_to, [req])
    want = ties.search(spec, round_to=round_to).collect()
    assert list(top.itertuples(index=False, name=None)) == [
        tuple(r) for r in want]
    exact = fx.facet_field(ties, req, spec, refine=False).collect()
    assert list(facet.itertuples(index=False, name=None)) == [
        tuple(r) for r in exact]


# ---------------------------------------------------------------------------
# multiterm specs: the reader rewrites for every facet function
# ---------------------------------------------------------------------------


def _by(df: pd.DataFrame, keys, **aggs) -> dict:
    g = df.groupby(keys, dropna=True)
    out = g.agg(**aggs) if aggs else g.size().rename("cnt").to_frame()
    return {k: tuple(int(v) if float(v).is_integer() else round(v, 4)
                     for v in row) for k, row in out.iterrows()}


def _ff(s, spec):
    return {r.facet_value: (r.cnt,) for r in fx.facet_field(
        s, fx.FacetRequest(field="role"), spec).collect()}


def _facet(s, spec):
    return {r.facet_value: (r.cnt,) for r in s.facet(
        "role", spec=spec).collect()}


def _metrics(s, spec):
    return {r.facet_value: (r.cnt, r.sum_doc_len) for r in fx.facet_metrics(
        s, "role", spec=spec, aggs=(("sum", "doc_len"),)).collect()}


def _pivot(s, spec):
    return {(r.v1, r.v2): (r.cnt,) for r in fx.facet_pivot(
        s, ("role", "tool"), spec, limits=(10**6, 10**6)).collect()}


def _nested(s, spec):
    return {(r.v1, r.v2): (r.cnt1, r.cnt2, r.avg_dl) for r in fx.facet_nested(
        s, "role", "tool", spec, limit1=10, limit2=10**6).collect()}


def _relatedness(s, spec):
    return {r.facet_value: (r.fg_count, r.bg_count)
            for r in fx.facet_relatedness(s, "role", spec).collect()}


def _block_domain(s, spec):
    return {r.facet_value: (r.cnt,) for r in fx.facet_block_domain(
        s, "role", spec).collect()}


def _unique_block(s, spec):
    return {r.facet_value: (r.cnt, r.unique_convs)
            for r in fx.facet_unique_block(s, "role", spec).collect()}


def _block_parent(s, spec):
    return {r.facet_value: (r.cnt,) for r in fx.facet_block_parent(
        s, "role", spec).collect()}


def _want(name, docs, hit):
    hits = docs[hit]
    if name in ("facet_field", "facet", "block_parent", "block_domain"):
        if name == "block_parent":
            hits = docs[(docs.turn_idx == 0) & docs.conv_id.isin(hits.conv_id)]
        elif name == "block_domain":
            hits = docs[docs.conv_id.isin(hits.conv_id)]
        return _by(hits, "role")
    if name == "metrics":
        return _by(hits, "role", n=("doc_len", "size"), s=("doc_len", "sum"))
    if name == "pivot":
        return _by(hits, ["role", "tool"])
    if name == "unique_block":
        return _by(hits, "role", n=("conv_id", "size"),
                   u=("conv_id", "nunique"))
    if name == "relatedness":
        fg = hits.groupby("role").size()
        return {v: (int(fg.get(v, 0)), int(n))
                for v, n in docs.groupby("role").size().items()}
    assert name == "nested"
    cnt1 = hits.groupby("role").size()
    sub = hits.dropna(subset=["tool"]).groupby(["role", "tool"]).doc_len
    return {(v1, v2): (int(cnt1[v1]), int(n), float(m))
            for (v1, v2), n, m in zip(sub.size().index, sub.size(), sub.mean())}


FACET_FNS = {
    "facet_field": _ff, "facet": _facet, "metrics": _metrics,
    "pivot": _pivot, "nested": _nested, "relatedness": _relatedness,
    "block_domain": _block_domain, "unique_block": _unique_block,
    "block_parent": _block_parent,
}


@pytest.mark.parametrize("pattern", ["dat*", "zzq*"],
                         ids=["expands", "expands_to_nothing"])
@pytest.mark.parametrize("name", list(FACET_FNS))
def test_facets_rewrite_multiterm_specs(plain, sf_texts, name, pattern):
    """``parse("dat*")`` reaches each facet function unrewritten; its
    counts must be those of the docs holding a term the pattern
    matches (none for a pattern that matches no term) — never the
    whole collection a term-free spec would read as."""
    spec = parse(pattern)
    assert spec.needs_rewrite
    docs = _live(plain, sf_texts)
    hit = docs.toks.map(lambda ts: any(fnmatch.fnmatchcase(t, pattern)
                                       for t in ts))
    assert 0 < hit.sum() < len(docs) or pattern == "zzq*"
    got = FACET_FNS[name](plain, spec)
    want = _want(name, docs, hit)
    assert got.keys() == want.keys()
    for k, vals in got.items():
        assert vals == pytest.approx(want[k], abs=1e-4), k
