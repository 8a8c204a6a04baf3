"""SPLITSHARD tests (index/split.py): splitting one segment by
conv-hash must preserve every answer — split index ≡ original on the
BM25 battery, facets and early_topk, conversations stay
segment-local, each child equals the build's segment over its docs,
the split is one shuffle-free stage, and the commit is one atomic
snapshot.

ref: solr/core/src/java/org/apache/solr/update/SolrIndexSplitter.java
(the same guarantee: sub-indexes together ≡ the source index)."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from test_merge import (
    _jobs_and_stages,
    _shuffle_bytes,
    assert_segment_is_build,
    early_pages,
)

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.index.codec import unpack_postings
from lucene_solr_spark.index.manifest import Manifest
from lucene_solr_spark.index.split import route_convs, split_segment
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.registry import BM25_SPECS
from lucene_solr_spark.transcripts import transcripts_from_documents


@pytest.fixture(scope="module")
def pair(spark, sf_dir, tmp_path_factory):
    """(original searcher, split searcher, split source name)."""
    r1 = str(tmp_path_factory.mktemp("sidx_src"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, r1, num_parts=2, lineage_source=sf_dir)
    r2 = r1 + "_split"
    shutil.copytree(r1, r2)
    src = sorted(Manifest.load(r2).segments)[0]
    split_segment(spark, r2, src, n_children=2)
    return IndexSearcher(spark, r1), IndexSearcher(spark, r2), src


def test_split_stats_and_snapshot(pair):
    a, b, src = pair
    assert a.manifest.n_docs == b.manifest.n_docs
    assert a.manifest.sum_dl == b.manifest.sum_dl
    # 2 source segments: one dropped, two children added
    assert len(b.manifest.segments) == 3
    assert src not in b.manifest.segments
    assert b.manifest.snapshot_id == a.manifest.snapshot_id + 1
    entry = b.manifest.lineage[-1]
    assert entry["op"] == "split" and entry["source"] == src
    assert sorted(entry["children"]) == sorted(
        set(b.manifest.segments) - set(a.manifest.segments)
    )


@pytest.mark.parametrize("name", ["bm25_term", "bm25_and", "bm25_or_mm",
                                  "bm25_not", "bm25_phrase", "bm25_filtered"])
def test_split_rank_identical(pair, name):
    a, b, _src = pair
    spec = BM25_SPECS[name]
    ra = a.search(spec).toPandas()
    rb = b.search(spec).toPandas()
    assert list(zip(ra.conv_id, ra.turn_idx)) == list(zip(rb.conv_id, rb.turn_idx))
    assert np.allclose(ra.score.to_numpy(), rb.score.to_numpy(), atol=1e-9)


def test_split_facets_identical(pair):
    a, b, _src = pair
    fa = a.facet("ftok", spec=None, limit=15).toPandas()
    fb = b.facet("ftok", spec=None, limit=15).toPandas()
    assert list(zip(fa.facet_value, fa.cnt)) == list(zip(fb.facet_value, fb.cnt))


def test_split_conversations_stay_segment_local(pair):
    """The uniqueBlock / grouped-facet / blockChildren exactness
    invariant: no conversation may span two segments after the split."""
    _a, b, _src = pair
    dm = b.docmap().select("seg_id", "conv_id").distinct().toPandas()
    per_conv = dm.groupby("conv_id")["seg_id"].nunique()
    assert int(per_conv.max()) == 1
    # and both children actually received conversations
    assert dm["seg_id"].nunique() == 3


def test_split_checkindex(pair):
    """Structural invariants on child postings: strictly increasing
    doc ords, df == decoded count, manifest metrics == recount, and
    every doc ord addresses a real docmap row."""
    _a, b, _src = pair
    post = b.postings().toPandas()
    for _i, r in post.iterrows():
        docs, tfs = unpack_postings(
            np.asarray(r.first_docs, np.int64),
            np.asarray(r.doc_offs, np.int64),
            np.asarray(r.tf_offs, np.int64),
            r.doc_bytes, r.tf_bytes,
        )
        assert (np.diff(docs) > 0).all(), r.term
        assert len(docs) == r.df and int(tfs.sum()) == r.cf
    # manifest metrics match a recount per segment
    seg_terms = post.groupby("seg_id").size()
    by_part = {v["part"]: v for v in b.manifest.segments.values()}
    for seg_id, n_terms in seg_terms.items():
        assert by_part[int(seg_id)]["n_terms"] == int(n_terms)


def test_split_then_delete_masks(pair, spark, tmp_path):
    """Tombstones are business-key masks outside segments — a delete
    issued AFTER the split must mask every child-segment hit."""
    from lucene_solr_spark.index.deletes import delete_by_query

    _a, b, _src = pair
    root = str(tmp_path / "idx")
    shutil.copytree(b.manifest.root, root)
    spec = BM25_SPECS["bm25_term"]
    assert len(IndexSearcher(spark, root).search(spec).toPandas()) > 0
    n = delete_by_query(spark, root, BooleanSpec(must=spec.must))
    assert n > 0
    after = IndexSearcher(spark, root).search(spec).toPandas()
    assert len(after) == 0


def test_split_children_equal_build(spark, sf_dir, pair):
    """Each child is the segment the build writes from the source
    docs its conversations route to."""
    a, b, src = pair
    src_docs = pd.read_parquet(
        os.path.join(a.index_root, "segments", src, "docmap.parquet"),
        columns=["conv_id", "turn_idx"])
    route = route_convs(src_docs["conv_id"].to_numpy().astype("U"), 2)
    turns = transcripts_from_documents(spark, sf_dir).toPandas()
    children = b.manifest.lineage[-1]["children"]
    assert len(children) == 2
    for name in children:
        part = int(b.manifest.segments[name]["part"])
        # child c is part max_part + 1 + c
        keys = src_docs[route == part - max(a.seg_dir_by_id) - 1]
        assert_segment_is_build(
            b.seg_dir_by_id[part],
            turns.merge(keys, on=["conv_id", "turn_idx"]), part)


def test_split_early_topk_matches_unsplit(pair):
    a, b, _src = pair
    assert early_pages(b) == early_pages(a)


def test_split_is_one_shuffle_free_stage(spark, pair, tmp_path):
    """A split is one job of one stage with one task per child, and
    moves no shuffle bytes."""
    a, _b, src = pair
    root = str(tmp_path / "idx")
    shutil.copytree(a.index_root, root)
    n_jobs, stages = _jobs_and_stages(
        spark, lambda: split_segment(spark, root, src, n_children=3))
    assert n_jobs == 1 and len(stages) == 1
    assert spark.sparkContext.statusTracker().getStageInfo(
        stages[0]).numTasks == 3
    assert _shuffle_bytes(spark, stages[0]) == 0
