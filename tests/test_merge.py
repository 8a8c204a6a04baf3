"""Segment merge tests (SURVEY §5 / M3): the per-destination merge
must preserve every answer — merged index ≡ original index on the BM25
battery, facets and early_topk (SegmentMerger correctness
re-expressed), global stats preserved, postings structurally valid
(CheckIndex analog), each merged segment equal to the build's segment
over its tier's turns — and run as one shuffle-free stage whatever the
vocabulary."""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from lucene_solr_spark.index import codec
from lucene_solr_spark.index.build import (
    FACET_FIELDS, build_index, build_segment_pdf,
)
from lucene_solr_spark.index.manifest import Manifest
from lucene_solr_spark.index.merge import merge_segments, plan_merge
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.registry import BM25_SPECS
from lucene_solr_spark.transcripts import transcripts_from_documents


@pytest.fixture(scope="module")
def pair(spark, sf_dir, tmp_path_factory):
    """(original searcher, merged searcher) over the same corpus."""
    r1 = str(tmp_path_factory.mktemp("midx_src"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, r1, num_parts=8, lineage_source=sf_dir)
    r2 = r1 + "_merged"
    shutil.copytree(r1, r2)
    merge_segments(spark, r2, merge_factor=4)
    return IndexSearcher(spark, r1), IndexSearcher(spark, r2)


#: distinct terms of the wide corpus (the per-term merge cost driver)
WIDE_VOCAB = 24_000
WIDE_SCHEMA = ("conv_id string, turn_idx int, role string, text string,"
               " tool string, ts timestamp")


def _wide_corpus(n_turns: int = 600) -> pd.DataFrame:
    """Every one of WIDE_VOCAB words once plus a Zipf head that lands
    in every segment, so most terms have one run and head terms have
    one run per source."""
    rng = np.random.default_rng(9)
    head = rng.zipf(1.3, 6_000) % 50
    ids = np.concatenate([rng.permutation(WIDE_VOCAB), head])
    rng.shuffle(ids)
    toks = np.array([f"v{i}" for i in range(WIDE_VOCAB)], object)[ids]
    text = [" ".join(c) for c in np.array_split(toks, n_turns)]
    return pd.DataFrame({
        "conv_id": [f"c{c:04d}" for c in np.arange(n_turns) // 6],
        "turn_idx": (np.arange(n_turns) % 6).astype(np.int32),
        "role": np.array(["user", "assistant", "tool"], object)[
            np.arange(n_turns) % 3],
        "text": text,
        "tool": np.where(np.arange(n_turns) % 4 == 0, "grep", None),
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(np.arange(n_turns) * 60, unit="s"),
    })


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory):
    """(source root, merged root, #Spark jobs, stage ids of the merge)
    for a 4-segment, >=20k-term index merged 2 -> 1 per tier."""
    src = str(tmp_path_factory.mktemp("wide_src"))
    build_index(spark, spark.createDataFrame(_wide_corpus(), WIDE_SCHEMA),
                src, num_parts=4)
    dst = src + "_merged"
    shutil.copytree(src, dst)
    n_jobs, stages = _jobs_and_stages(
        spark, lambda: merge_segments(spark, dst, merge_factor=2))
    return src, dst, n_jobs, stages


def _jobs_and_stages(spark, fn) -> tuple[int, list[int]]:
    """(#Spark jobs fn ran, their stage ids), counted under a job
    group."""
    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(gid)
    return len(jobs), [s for j in jobs for s in st.getJobInfo(j).stageIds]


def _shuffle_bytes(spark, stage_id: int) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    data = store.stageAttempt(
        stage_id, 0, False, getattr(store, "stageAttempt$default$4")(),
        False, getattr(store, "stageAttempt$default$6")(),
    )._1()
    return int(data.shuffleReadBytes() + data.shuffleWriteBytes())


def test_wide_merge_is_one_shuffle_free_stage(spark, wide):
    """The merge is one job of one stage with one task per destination
    segment, and moves no shuffle bytes, at a >=20k-term vocabulary
    (the term-keyed shuffles it replaced ran one Python group per
    term)."""
    src, dst, n_jobs, stages = wide
    terms = set()
    for d in Manifest.load(src).seg_dirs():
        terms.update(pq.read_table(f"{d}/postings.parquet", columns=["term"])
                     ["term"].to_pylist())
    assert len(terms) >= 20_000
    n_dst = len(Manifest.load(dst).segments)
    assert n_dst == 2
    assert n_jobs == 1 and len(stages) == 1
    assert spark.sparkContext.statusTracker().getStageInfo(stages[0]).numTasks == n_dst
    assert _shuffle_bytes(spark, stages[0]) == 0


def _tiers(src: str, dst: str, merge_factor: int):
    """(merged segment dir, its source dirs in src_pos order) pairs."""
    seg = os.path.join(src, "segments")
    by_part = {s["part"]: n for n, s in Manifest.load(dst).segments.items()}
    return [
        (os.path.join(dst, "segments", by_part[i]),
         [os.path.join(seg, n) for n in tier])
        for i, tier in enumerate(plan_merge(Manifest.load(src), merge_factor))
    ]


def _keys(seg_dir: str) -> pd.DataFrame:
    return pd.read_parquet(f"{seg_dir}/docmap.parquet",
                           columns=["conv_id", "turn_idx"])


def assert_segment_is_build(seg_dir: str, turns: pd.DataFrame,
                            seg_id: int) -> None:
    """Every table of the segment at ``seg_dir`` equals what
    ``build_segment_pdf`` writes from ``turns``."""
    want = build_segment_pdf(turns, seg_id=seg_id)
    for name in ("postings", "docmap", "dicts"):
        got = pq.read_table(f"{seg_dir}/{name}.parquet")
        assert got.equals(want[name]), (seg_dir, name)


def early_pages(searcher) -> list:
    """early_topk's first page and its index-sort cursor's second."""
    first = searcher.early_topk(10).toPandas()
    mark = (first.conv_id.iloc[-1], int(first.turn_idx.iloc[-1]))
    second = searcher.early_topk(10, cursor=mark).toPandas()
    return [first.values.tolist(), second.values.tolist()]


@pytest.mark.parametrize("which", ["sf", "wide"])
def test_merged_tier_equals_build(spark, sf_dir, pair, wide, which):
    """A merged segment is the segment the build writes from its tier's
    turns: postings, docmap (index-sorted, doc_ord = row) and dicts
    are equal table for table."""
    if which == "sf":
        src, dst, mf = pair[0].index_root, pair[1].index_root, 4
        turns = transcripts_from_documents(spark, sf_dir).toPandas()
    else:
        src, dst, mf = wide[0], wide[1], 2
        turns = spark.createDataFrame(_wide_corpus(), WIDE_SCHEMA).toPandas()
    for i, (merged_dir, src_dirs) in enumerate(_tiers(src, dst, mf)):
        keys = pd.concat([_keys(d) for d in src_dirs])
        assert_segment_is_build(
            merged_dir, turns.merge(keys, on=["conv_id", "turn_idx"]), i)


def _decode(post: pd.DataFrame) -> dict:
    """term -> (docs, tfs, positions), every block decoded."""
    out = {}
    for row in post.itertuples(index=False):
        fd = np.asarray(row.first_docs, np.int64)
        docs, tfs = codec.unpack_postings(
            fd, np.asarray(row.doc_offs, np.int64),
            np.asarray(row.tf_offs, np.int64), row.doc_bytes, row.tf_bytes,
        )
        pos = codec.unpack_positions(
            np.asarray(row.pos_offs, np.int64), row.pos_bytes, tfs,
            np.arange(len(fd)), len(fd),
        )
        out[row.term] = (docs, tfs, pos)
    return out


def _sorted_docmap(src_dirs: list[str]) -> pd.DataFrame:
    """The tier's source docmaps concatenated in source order and
    stably index-sorted by (conv_id, turn_idx), doc_ord dropped."""
    cols = ["conv_id", "turn_idx", "doc_len", "ts", *FACET_FIELDS]
    cat = pd.concat(
        [pd.read_parquet(f"{d}/docmap.parquet").sort_values("doc_ord")[cols]
         for d in src_dirs],
        ignore_index=True,
    )
    return cat.sort_values(["conv_id", "turn_idx"],
                           kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("which", ["sf", "wide"])
def test_merged_postings_are_rebased_source_runs(pair, wide, which):
    """Every merged term decodes (docs, tfs, positions) to its source
    runs with each source doc rebased to its index-sorted merged doc
    id (found by its (conv_id, turn_idx) key), ordered by that id."""
    if which == "sf":
        src, dst, mf = pair[0].index_root, pair[1].index_root, 4
    else:
        src, dst, mf = wide[0], wide[1], 2
    for merged_dir, src_dirs in _tiers(src, dst, mf):
        dm = pd.read_parquet(f"{merged_dir}/docmap.parquet")
        new_id = {(c, int(t)): int(o) for c, t, o in
                  zip(dm["conv_id"], dm["turn_idx"], dm["doc_ord"])}
        runs: dict = {}
        for d in src_dirs:
            sdm = pd.read_parquet(f"{d}/docmap.parquet").sort_values("doc_ord")
            remap = np.array([new_id[(c, int(t))] for c, t in
                              zip(sdm["conv_id"], sdm["turn_idx"])], np.int64)
            for term, (docs, tfs, pos) in _decode(
                    pd.read_parquet(f"{d}/postings.parquet")).items():
                starts = np.concatenate([[0], np.cumsum(tfs)[:-1]])
                for doc, tf, s in zip(remap[docs], tfs, starts):
                    runs.setdefault(term, []).append((doc, tf, pos[s:s + tf]))
        got = _decode(pd.read_parquet(f"{merged_dir}/postings.parquet"))
        assert sorted(got) == sorted(runs)
        for term, rows in runs.items():
            rows.sort(key=lambda r: r[0])
            docs, tfs, pos = got[term]
            assert np.array_equal(docs, [r[0] for r in rows]), term
            assert np.array_equal(tfs, [r[1] for r in rows]), term
            assert np.array_equal(pos, np.concatenate([r[2] for r in rows])), term


@pytest.mark.parametrize("which", ["sf", "wide"])
def test_merged_docmap_and_dicts(pair, wide, which):
    """The merged docmap is the source docmaps concatenated in source
    order and stably index-sorted by (conv_id, turn_idx), with doc_ord
    = row position; its ordinals index the merged dictionaries, and
    each field's dictionary is the sorted distinct non-null values of
    its docs."""
    if which == "sf":
        src, dst, mf = pair[0].index_root, pair[1].index_root, 4
    else:
        src, dst, mf = wide[0], wide[1], 2
    for merged_dir, src_dirs in _tiers(src, dst, mf):
        want = _sorted_docmap(src_dirs)
        dm = pd.read_parquet(f"{merged_dir}/docmap.parquet")
        assert list(dm["doc_ord"]) == list(range(len(want)))
        pd.testing.assert_frame_equal(dm[list(want.columns)], want)
        dicts = pd.read_parquet(f"{merged_dir}/dicts.parquet")
        for fld in FACET_FIELDS:
            d = dicts[dicts["field"] == fld].sort_values("term_ord")
            uniq = sorted(want[fld].dropna().unique())
            assert list(d["term"]) == uniq, fld
            assert list(d["term_ord"]) == list(range(len(uniq))), fld
            ords = dm[f"{fld}_ord"].to_numpy()
            named = np.where(ords >= 0, np.asarray(uniq + [None], object)[ords], None)
            assert list(named) == list(want[fld].where(want[fld].notna(), None)), fld


def test_merged_early_topk_matches_unmerged(pair):
    """Merged segments keep the index sort, so early_topk (which
    streams only each segment's head) and its cursor's next page
    equal the unmerged index's."""
    a, b = pair
    assert early_pages(b) == early_pages(a)


def test_stats_preserved(pair):
    a, b = pair
    assert a.manifest.n_docs == b.manifest.n_docs
    assert a.manifest.sum_dl == b.manifest.sum_dl
    assert len(b.manifest.segments) == 2  # 8 parts / merge_factor 4


@pytest.mark.parametrize("name", ["bm25_term", "bm25_and", "bm25_or_mm",
                                  "bm25_not", "bm25_phrase", "bm25_filtered"])
def test_merged_rank_identical(pair, name):
    a, b = pair
    spec = BM25_SPECS[name]
    ra = a.search(spec).toPandas()
    rb = b.search(spec).toPandas()
    assert list(zip(ra.conv_id, ra.turn_idx)) == list(zip(rb.conv_id, rb.turn_idx))
    assert np.allclose(ra.score.to_numpy(), rb.score.to_numpy(), atol=1e-9)


@pytest.mark.parametrize("field,spec", [
    ("role", BooleanSpec(must=("merge",))),
    ("tool", BooleanSpec(must=("data",))),
    ("ftok", None),
], ids=["role", "tool", "ftok"])
def test_merged_facets_identical(pair, field, spec):
    a, b = pair
    fa = a.facet(field, spec=spec, limit=15).toPandas()
    fb = b.facet(field, spec=spec, limit=15).toPandas()
    assert list(zip(fa.facet_value, fa.cnt)) == list(zip(fb.facet_value, fb.cnt))


def test_checkindex_merged(pair):
    """Structural invariants on merged postings: doc ords strictly
    increasing within a term, df == decoded posting count, manifest
    term/posting metrics == recount."""
    _, b = pair
    post = b.postings().toPandas()
    total_postings = 0
    for _, row in post.iterrows():
        d, tf = codec.unpack_postings(
            np.asarray(row["first_docs"], np.int64),
            np.asarray(row["doc_offs"], np.int64),
            np.asarray(row["tf_offs"], np.int64),
            row["doc_bytes"], row["tf_bytes"],
        )
        assert (np.diff(d) > 0).all(), row["term"]
        assert len(d) == row["df"], row["term"]
        assert int(tf.sum()) == row["cf"], row["term"]
        assert (tf >= 1).all()
        total_postings += len(d)
    m = Manifest.load(b.manifest.root)
    assert total_postings == sum(s["n_postings"] for s in m.segments.values())


def test_merge_then_search_filtered(pair):
    _, b = pair
    spec = BooleanSpec(must=("query",), filters=(("role", "assistant"),), k=10)
    r = b.search(spec).toPandas()
    assert len(r) > 0


def test_merged_unique_block_identical(pair):
    """uniqueBlock exactness survives merges: whole segments merge, so
    conversation blocks never split and per-segment distinct-conv sums
    stay exact (UniqueBlockAgg contract)."""
    from lucene_solr_spark.query.facets import facet_unique_block

    a, b = pair
    fa = facet_unique_block(
        a, "tool", spec=BooleanSpec(must=("data",)), limit=15
    ).toPandas()
    fb = facet_unique_block(
        b, "tool", spec=BooleanSpec(must=("data",)), limit=15
    ).toPandas()
    assert list(zip(fa.facet_value, fa.cnt, fa.unique_convs)) == list(
        zip(fb.facet_value, fb.cnt, fb.unique_convs)
    )
    # structural sanity: a bucket never has more distinct parents than docs
    assert (fa.unique_convs <= fa.cnt).all()
    assert (fa.unique_convs >= 1).all()


def test_merged_relatedness_identical(pair):
    """relatedness() partials are algebraic (fg/bg counts + sizes), so
    the merged index must produce the identical bucket ranking and
    scores; scores stay inside the formula's [-1, 1] bound."""
    from lucene_solr_spark.query.facets import facet_relatedness

    a, b = pair
    fa = facet_relatedness(
        a, "tool", fg_spec=BooleanSpec(must=("merge",)), limit=15
    ).toPandas()
    fb = facet_relatedness(
        b, "tool", fg_spec=BooleanSpec(must=("merge",)), limit=15
    ).toPandas()
    assert list(zip(fa.facet_value, fa.fg_count, fa.bg_count)) == list(
        zip(fb.facet_value, fb.fg_count, fb.bg_count)
    )
    assert np.allclose(fa.relatedness.to_numpy(), fb.relatedness.to_numpy())
    assert (fa.relatedness.abs() <= 1.0).all()


def test_merged_span_within_and_exists_identical(pair):
    """Round-4 session surfaces survive compaction: the span_within
    DocSet and an exists-filtered search are byte-identical on the
    merged index (positions and docvalues nullness both remap)."""
    a, b = pair
    sw = BooleanSpec(span_within=(("key", ("table", "merge")),), span_slop=4)
    da = a.docset(sw).toPandas().sort_values(["conv_id", "turn_idx"])
    db = b.docset(sw).toPandas().sort_values(["conv_id", "turn_idx"])
    assert list(zip(da.conv_id, da.turn_idx)) == list(zip(db.conv_id, db.turn_idx))

    ex = BooleanSpec(must=("data",), exists_filters=("tool",), k=12)
    ra, rb = a.search(ex).toPandas(), b.search(ex).toPandas()
    assert list(zip(ra.conv_id, ra.turn_idx)) == list(zip(rb.conv_id, rb.turn_idx))
    assert np.allclose(ra.score.to_numpy(), rb.score.to_numpy(), atol=1e-9)


def test_merged_dictionary_and_max_dl_identical(pair):
    """The term dictionary aggregate (term -> df, cf) must survive
    compaction byte-identically — it is the substrate of every
    dictionary op added this round (wordbreak/infix/freetext/tagger) —
    and the merged manifest's per-segment max_dl must re-describe the
    merged docmaps (explain() reads it instead of scanning)."""
    import pandas as pd
    from pyspark.sql import functions as F

    a, b = pair
    def dic(s):
        return (
            s.postings()
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            .toPandas()
            .sort_values("term")
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(dic(a), dic(b))

    for name, seg in b.manifest.segments.items():
        d = b.seg_dir_by_id[int(seg["part"])]
        dm = pd.read_parquet(f"{d}/docmap.parquet")
        assert seg["max_dl"] == int(dm["doc_len"].max()), name


def test_merged_payload_check_identical(pair):
    """Payload-residue spans survive compaction byte-identically —
    merge rewrites segments but must preserve every doc's position
    stream, and pay(p)=1+(p mod 4) derives from exactly those
    positions (this session's payload_check read path)."""
    a, b = pair
    pa = a.payload_check(("table", "scan"), (2.0, 3.0), k=10_000).toPandas()
    pb = b.payload_check(("table", "scan"), (2.0, 3.0), k=10_000).toPandas()
    ka = sorted(zip(pa.conv_id, pa.turn_idx, pa.score))
    kb = sorted(zip(pb.conv_id, pb.turn_idx, pb.score))
    assert ka and ka == kb
