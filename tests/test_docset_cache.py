"""queryResultCache (SolrIndexSearcher#getDocSet full-spec bitsets): a
warmed DocSet must change NOTHING about results — same keys from
docset(), same count, same facet buckets — while the hit path skips
match_segment, the postings read and the fq docvalues columns, and
docset_count answers from driver-side popcounts (zero jobs). Entries
are bounded and evicted oldest-first; liveDocs bake INTO the cached
bits (a searcher is snapshot-pinned, so they can never go stale).
"""

from __future__ import annotations

import pytest

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.index.deletes import delete_by_query
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.transcripts import transcripts_from_documents

SPECS = [
    BooleanSpec(must=("merge",), filters=(("role", "assistant"),), k=15),
    BooleanSpec(must=("data",), range_filters=(("turn_idx", "2", "6"),), k=15),
    BooleanSpec(filters=(("role", "user"),), k=15),          # filter-only
    BooleanSpec(should=("merge", "data"), min_should_match=2, k=15),
]


@pytest.fixture(scope="module")
def searcher(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dsidx"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    return IndexSearcher(spark, root)


@pytest.mark.parametrize("i", range(len(SPECS)))
def test_cached_docset_identical(searcher, i):
    spec = SPECS[i]
    cold = sorted(
        (r.conv_id, r.turn_idx) for r in searcher.docset(spec).collect()
    )
    n_cold = searcher.docset_count(spec)
    searcher.cache_docset(spec)
    assert searcher._docset_cached_bc(spec) is not None
    warm = sorted(
        (r.conv_id, r.turn_idx) for r in searcher.docset(spec).collect()
    )
    assert cold == warm and len(cold) == n_cold > 0
    # the hit-path count is a driver-side popcount — same number
    assert searcher.docset_count(spec) == n_cold


def test_cached_docset_facet_identical(searcher):
    spec = SPECS[0]
    cold = [tuple(r) for r in searcher.facet(
        "tool", spec=spec, limit=8).collect()]
    searcher.cache_docset(spec)
    warm = [tuple(r) for r in searcher.facet(
        "tool", spec=spec, limit=8).collect()]
    assert cold == warm and cold
    # paging never fragments the cache: any k probes the same entry
    from dataclasses import replace

    assert searcher._docset_cached_bc(replace(spec, k=999)) is not None


def test_multiterm_probe_never_rewrites(searcher):
    """An unrewritten multiterm spec must MISS (a probe launching a
    dictionary-expansion job would hide a Spark job in a dict get)."""
    spec = BooleanSpec(wildcards=("merg*",), k=10)
    assert spec.needs_rewrite
    assert searcher._docset_cached_bc(spec) is None
    searcher.cache_docset(spec)  # rewrites, keys on the rewritten form
    assert searcher._docset_cached_bc(searcher.rewrite(spec)) is not None
    # and the rewritten spec's docset serves from the bits
    got = searcher.docset(spec).count()
    assert got == searcher.docset_count(searcher.rewrite(spec)) > 0


def test_docset_cache_bounded_evicts_oldest(searcher, monkeypatch):
    monkeypatch.setattr(IndexSearcher, "MAX_DOCSET_CACHE", 2)
    searcher._docset_cache.clear()
    a = BooleanSpec(filters=(("role", "system"),))
    b = BooleanSpec(filters=(("role", "user"),))
    c = BooleanSpec(filters=(("role", "assistant"),))
    for s in (a, b, c):
        searcher.cache_docset(s)
    assert len(searcher._docset_cache) == 2
    assert searcher._docset_cached_bc(a) is None  # oldest evicted
    assert searcher._docset_cached_bc(b) is not None
    assert searcher._docset_cached_bc(c) is not None


def test_docset_cache_bakes_in_tombstones(spark, sf_dir, tmp_path):
    """Deletes bake INTO the cached bits (snapshot-pinned searcher):
    the cached docset equals the uncached one post-delete, and no
    deleted doc survives in it."""
    root = str(tmp_path / "dsdel")
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=3, lineage_source=sf_dir)
    spec = BooleanSpec(must=("merge",), k=1000)
    delete_by_query(
        spark, root,
        BooleanSpec(must=("merge",), range_filters=(("turn_idx", "0", "3"),)),
    )
    s = IndexSearcher(spark, root)
    uncached = sorted(
        (r.conv_id, r.turn_idx) for r in s.docset(spec).collect()
    )
    s.cache_docset(spec)
    cached = sorted(
        (r.conv_id, r.turn_idx) for r in s.docset(spec).collect()
    )
    assert uncached == cached and len(cached) > 0
    assert s.docset_count(spec) == len(cached)
    live_turns = {
        (r.conv_id, r.turn_idx)
        for r in s.docmap().select("conv_id", "turn_idx").collect()
    }
    assert all(k in live_turns for k in cached)


def test_cached_docset_facet_metrics_identical(searcher):
    """facet_metrics (json.facet bucket metrics) consumes the cached
    bits too — identical buckets, counts and avgs."""
    from lucene_solr_spark.query.facets import facet_metrics

    spec = SPECS[1]
    cold = [tuple(r) for r in facet_metrics(
        searcher, "role", metric="doc_len", spec=spec, limit=5).collect()]
    searcher.cache_docset(spec)
    warm = [tuple(r) for r in facet_metrics(
        searcher, "role", metric="doc_len", spec=spec, limit=5).collect()]
    assert cold == warm and cold


def test_cached_docset_pivot_and_nested_identical(searcher):
    """facet_pivot and facet_nested consume the cached bits too —
    identical output either way."""
    from lucene_solr_spark.query.facets import facet_nested, facet_pivot

    spec = SPECS[0]
    cold_p = [tuple(r) for r in facet_pivot(
        searcher, ("role", "tool"), spec=spec, limits=(3, 2)).collect()]
    cold_n = [tuple(r) for r in facet_nested(
        searcher, "role", "tool", spec=spec, limit1=3, limit2=2).collect()]
    searcher.cache_docset(spec)
    warm_p = [tuple(r) for r in facet_pivot(
        searcher, ("role", "tool"), spec=spec, limits=(3, 2)).collect()]
    warm_n = [tuple(r) for r in facet_nested(
        searcher, "role", "tool", spec=spec, limit1=3, limit2=2).collect()]
    assert cold_p == warm_p and cold_p
    assert cold_n == warm_n and cold_n
