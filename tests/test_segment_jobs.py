"""Spark jobs per request. Per-segment work runs as one shuffle-free
stage (``IndexSearcher.each_segment``: ``spark.range(n_segs)
.mapInPandas``, each task reading its own segment's files), and the df
probe is a driver-side read — so a BM25 request is ONE job, and so is
a cached /select whose page and exact facet leg share one pass. The same pass must
still visit a segment holding none of the query's terms whenever the
domain needs it (pure-negative specs, MatchAll facets)."""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec

N_TURNS = 800
#: one conversation carries this term, so most segments hold none of it
RARE = "zebra"


def _corpus() -> pd.DataFrame:
    rng = np.random.default_rng(11)
    doc_len = rng.integers(4, 30, N_TURNS)
    words = np.array([f"w{r}" for r in range(30)], dtype=object)
    toks = words[rng.integers(0, 30, int(doc_len.sum()))]
    ends = np.cumsum(doc_len)
    text = [" ".join(toks[e - n:e]) for e, n in zip(ends, doc_len)]
    conv = np.arange(N_TURNS) // 8
    for i in range(8):  # every turn of conversation 0
        text[i] += f" {RARE}"
    return pd.DataFrame({
        "conv_id": [f"c{c:05d}" for c in conv],
        "turn_idx": (np.arange(N_TURNS) % 8).astype(np.int32),
        "role": np.array(["user", "assistant", "tool"], dtype=object)[
            np.arange(N_TURNS) % 3],
        "text": text,
        "tool": None,
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(np.arange(N_TURNS) * 30, unit="s"),
    })


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("segjobs_idx"))
    t = spark.createDataFrame(
        _corpus(),
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    build_index(spark, t, root, num_parts=4)
    s = IndexSearcher(spark, root)
    assert len(s.manifest.segments) == 4
    return s


def _jobs(spark, fn):
    """(fn's result, #Spark jobs fn ran), counted under a job group."""
    sc = spark.sparkContext
    gid = f"segjobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_df_probe_runs_no_job(spark, searcher):
    dfs, n = _jobs(spark, lambda: searcher.global_df(["w3", "w4", RARE]))
    assert n == 0
    assert dfs[RARE] == 8 and dfs["w3"] > 0


def test_search_is_one_job(spark, searcher):
    spec = BooleanSpec(must=("w5",), should=("w6",), k=10)
    rows, n = _jobs(spark, lambda: searcher.search(spec, round_to=4).collect())
    assert n == 1
    assert len(rows) == 10
    # the one job returns the same top-k the docset/score path implies
    full = searcher.score_hits(spec, k=None).collect()
    want = sorted(
        ((r.conv_id, r.turn_idx, round(r.score, 4)) for r in full),
        key=lambda x: (-x[2], x[0], x[1]),
    )[:10]
    assert [(r.conv_id, r.turn_idx, r.score) for r in rows] == want


def test_composed_select_runs_at_most_three_jobs(spark, searcher):
    from lucene_solr_spark.handler import select

    params = {"q": "w7 w8", "q.op": "AND", "fq": "-role:user",
              "start": 10, "rows": 10, "facet.field": "role",
              "facet.limit": 10}

    def request():
        out = select(searcher, params)
        page = out["response"].collect()
        facet = out["facet_counts"]["role"].collect()
        return page, out["numFound"], facet

    first = request()  # fills the filter and docset caches
    second, n = _jobs(spark, request)
    assert n <= 3
    assert second == first
    page, num, facet = second
    spec = BooleanSpec(must=("w7", "w8"), not_filters=(("role", "user"),))
    assert num == searcher.docset(spec).count() > 20
    assert len(page) == 10
    assert {r[0] for r in facet} <= {"assistant", "tool"}
    assert sum(r[1] for r in facet) == num


def test_cached_composed_select_is_one_job(spark, searcher):
    """With its key cached, a score-sorted /select whose facet.field leg
    merges exactly runs ONE job: the page top-k and the facet counts
    come from one per-segment pass (``doc_list_and_set``), merged on
    the driver into tables whose collect runs none."""
    from lucene_solr_spark.handler import select

    params = {"q": "w7 w8", "q.op": "AND", "fq": "-role:user",
              "start": 10, "rows": 10, "facet.field": "role",
              "facet.limit": 10}

    def request():
        out = select(searcher, params)
        page = out["response"].collect()
        facet = out["facet_counts"]["role"].collect()
        return page, out["numFound"], facet

    first = request()  # fills the filter and docset caches
    second, n = _jobs(spark, request)
    assert n == 1
    assert second == first
    spec = BooleanSpec(must=("w7", "w8"), not_filters=(("role", "user"),),
                       k=20)
    assert second[0] == searcher.search(spec, round_to=4).offset(10).collect()


def test_cached_wildcard_select_runs_as_many_jobs_as_term(spark, searcher):
    """A repeated /select with a wildcard q runs as many jobs as the
    same request with a plain term: the searcher expands each pattern
    once (its dictionary scan is snapshot-stable), not once per leg."""
    from lucene_solr_spark.handler import select

    def jobs(q):
        params = {"q": q, "rows": 10, "facet.field": "role"}

        def request():
            out = select(searcher, params)
            return out["response"].collect(), out["facet_counts"]["role"].collect()

        first = request()
        second, n = _jobs(spark, request)
        assert second == first
        return n

    assert jobs("w1*") == jobs("w1")


@pytest.mark.parametrize("sort", [None, "turn_idx asc"], ids=["score", "field"])
def test_cursor_page_collect_runs_no_job(spark, searcher, sort):
    """A cursorMark page is materialized once inside ``select`` (to
    serialize nextCursorMark); the frame it returns is driver-side, so
    collecting it runs no Spark job — neither for a full page nor for
    the exhausted cursor's empty one."""
    from lucene_solr_spark.handler import select

    params = {"q": "w5", "rows": 5, "cursorMark": "*"}
    if sort:
        params["sort"] = sort
    out = select(searcher, params)
    page, n = _jobs(spark, out["response"].collect)
    assert n == 0 and len(page) == 5
    rows = [tuple(r) for r in page]
    assert rows == [tuple(r) for r in out["response"].collect()]
    end = select(searcher, dict(params, cursorMark=out["nextCursorMark"],
                                rows=N_TURNS))
    end = select(searcher, dict(params, cursorMark=end["nextCursorMark"]))
    empty, n = _jobs(spark, end["response"].collect)
    assert n == 0 and empty == []


def test_field_cardinality_runs_no_job(spark, searcher):
    fresh = IndexSearcher(spark, searcher.index_root)
    card, n = _jobs(spark, lambda: fresh.field_cardinality("role"))
    assert n == 0
    assert card == fresh.dicts().filter("field = 'role'").select(
        "term").distinct().count() == 3


def test_term_free_segments_still_visited(searcher):
    """A pure-negative domain and a MatchAll facet count every segment,
    including the ones holding none of the query's terms."""
    import pyarrow.parquet as pq

    with_rare = {
        sid for sid, d in searcher.seg_dir_by_id.items()
        if pq.read_table(f"{d}/postings.parquet", columns=["term"],
                         filters=[("term", "==", RARE)]).num_rows
    }
    assert len(with_rare) == 1  # three segments hold none of it
    neg = BooleanSpec(must_not=(RARE,))
    assert searcher.docset(neg).count() == N_TURNS - 8
    neg_facet = dict(
        (r.facet_value, r.cnt)
        for r in searcher.facet("role", spec=neg, limit=5).collect()
    )
    assert sum(neg_facet.values()) == N_TURNS - 8
    match_all = dict(
        (r.facet_value, r.cnt)
        for r in searcher.facet("role", limit=5).collect()
    )
    assert match_all == {"user": 267, "assistant": 267, "tool": 266}
    # a scoring domain skips term-free segments and loses nothing
    rare_facet = searcher.facet("role", spec=BooleanSpec(must=(RARE,)))
    assert sum(r.cnt for r in rare_facet.collect()) == 8
