"""deleteByQuery / liveDocs tombstones.

Pinned semantics (Lucene parity): deletes mask every read path
(search, docset, facets, docvalues) but do NOT change scoring stats
until the data is rewritten — surviving docs keep their exact
pre-delete scores. Tombstones survive merges (business keys need no
ord remap) and accumulate across deleteByQuery calls.
"""

from __future__ import annotations

import pytest

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.index.deletes import clear_tombstones, delete_by_query
from lucene_solr_spark.index.merge import merge_segments
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.facets import FacetRequest, facet_field
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.transcripts import transcripts_from_documents

Q_MERGE = BooleanSpec(must=("merge",), k=1000)


@pytest.fixture()
def idx(spark, sf_dir, tmp_path):
    root = str(tmp_path / "idx")
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=3, lineage_source=sf_dir)
    return root


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_delete_masks_search_but_keeps_scores(spark, idx):
    before = IndexSearcher(spark, idx)
    pre = {(r.conv_id, r.turn_idx): r.score
           for r in before.search(Q_MERGE, round_to=4).collect()}
    assert pre

    # delete the 'merge' docs authored by users
    spec = BooleanSpec(must=("merge",), filters=(("role", "user"),))
    n = delete_by_query(spark, idx, spec)
    assert n > 0

    after = IndexSearcher(spark, idx)
    post = {(r.conv_id, r.turn_idx): r.score
            for r in after.search(Q_MERGE, round_to=4).collect()}
    assert post and set(post) < set(pre)
    # Lucene parity: stats unchanged → surviving scores are identical
    for k, v in post.items():
        assert v == pre[k]
    # the deleted docs are exactly the user-role merge docs
    deleted = set(pre) - set(post)
    assert len(deleted) == n
    assert after.docset(spec).count() == 0


def test_delete_masks_docset_facets_docvalues(spark, idx):
    n_all = IndexSearcher(spark, idx).docmap().count()
    spec = BooleanSpec(filters=(("role", "tool"),))  # filter-only spec
    n = delete_by_query(spark, idx, spec)
    s = IndexSearcher(spark, idx)
    # docvalues view shrinks by exactly n
    assert s.docmap().count() == n_all - n
    # facet over MatchAll domain: the deleted bucket vanishes
    counts = {
        r["facet_value"]: r["cnt"]
        for r in facet_field(s, FacetRequest("role", limit=10), spec=None).collect()
    }
    assert "tool" not in counts
    # pure-negative docset honors deletes too
    got = s.docset(BooleanSpec(must_not=("zzzznotaterm",)))
    assert got.count() == n_all - n


def test_deletes_accumulate_and_survive_merge(spark, idx):
    n1 = delete_by_query(spark, idx, BooleanSpec(filters=(("tool", "tool_7"),)))
    n2 = delete_by_query(spark, idx, BooleanSpec(filters=(("tool", "tool_6"),)))
    assert n2 > n1  # cumulative count
    hits_pre = _rows(IndexSearcher(spark, idx).search(Q_MERGE, round_to=4))

    merge_segments(spark, idx, merge_factor=8)
    s = IndexSearcher(spark, idx)
    assert len(s.deleted_keys) == n2  # tombstones carried through merge
    assert _rows(s.search(Q_MERGE, round_to=4)) == hits_pre

    clear_tombstones(idx)
    s2 = IndexSearcher(spark, idx)
    assert not s2.deleted_keys
    assert s2.docset(BooleanSpec(filters=(("tool", "tool_7"),))).count() > 0


def test_delete_is_atomic_snapshot(spark, idx):
    from lucene_solr_spark.index.manifest import Manifest

    sid = Manifest.load(idx).snapshot_id
    delete_by_query(spark, idx, BooleanSpec(must=("merge",)))
    m = Manifest.load(idx)
    assert m.snapshot_id == sid + 1
    assert m.lineage[-1]["op"] == "delete_by_query"
    assert m.tombstones["n"] > 0


# ---------------------------------------------------------------------------
# randomized duel: deleted index == DuckDB oracle minus deleted keys
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def del_env(spark, sf_dir, tmp_path_factory):
    import pyspark.sql.functions as F

    root = str(tmp_path_factory.mktemp("delduel"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    delete_by_query(spark, root, BooleanSpec(filters=(("role", "tool"),)))
    s = IndexSearcher(spark, root)
    assert s.deleted_keys
    vocab = (
        s.postings().groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), "term").toPandas()
    )
    return s, vocab, s.deleted_keys


@pytest.mark.parametrize("seed", range(8))
def test_random_duel_with_deletes(del_env, oracle_topk, seed):
    """Deleted-index search == DuckDB full-corpus scoring with deleted
    keys dropped BEFORE the top-k cut (full-corpus stats, pinned
    tiebreak) — rank and float64-score identical."""
    import dataclasses

    import numpy as np

    from tests.test_random_duel import random_spec

    s, vocab, deleted = del_env
    rng = np.random.default_rng(10_000 + seed)
    spec = random_spec(rng, vocab)
    a = s.search(spec).toPandas()

    big = dataclasses.replace(spec, k=1_000_000)
    brute = oracle_topk(big)
    keep = [k not in deleted for k in zip(brute.conv_id, brute.turn_idx)]
    brute = brute[np.array(keep, dtype=bool)].head(spec.k)

    assert list(zip(a.conv_id, a.turn_idx)) == list(
        zip(brute.conv_id, brute.turn_idx)
    ), spec
    assert np.allclose(a.score.to_numpy(), brute.score.to_numpy(), atol=1e-9), spec


def test_query_domain_facet_honors_deletes(spark, idx):
    """facet.field over a query domain (not just MatchAll) must count
    only live docs — duel vs a brute recount on the surviving corpus."""
    delete_by_query(spark, idx, BooleanSpec(filters=(("role", "user"),)))
    s = IndexSearcher(spark, idx)
    spec = BooleanSpec(must=("merge",))
    got = {
        r["facet_value"]: r["cnt"]
        for r in facet_field(s, FacetRequest("role", limit=10), spec=spec).collect()
    }
    assert "user" not in got
    hits = {(r.conv_id, r.turn_idx) for r in s.docset(spec).collect()}
    t = transcripts_from_documents(spark, "/root/testdata/sf0.001").collect()
    want: dict = {}
    for r in t:
        if (r.conv_id, r.turn_idx) in hits:
            want[r.role] = want.get(r.role, 0) + 1
    assert got == want


def test_tombstone_cap_refuses_without_committing(spark, idx):
    """VERDICT r2 item 8: a delete that would exceed the driver-mask
    cap raises BEFORE committing anything — snapshot id and tombstone
    set are untouched, and the clear message points at rebuild."""
    from lucene_solr_spark.index.manifest import Manifest

    before = Manifest.load(idx).snapshot_id
    with pytest.raises(ValueError, match="rebuild"):
        delete_by_query(
            spark, idx, BooleanSpec(filters=(("role", "assistant"),)),
            max_tombstones=1,
        )
    m = Manifest.load(idx)
    assert m.snapshot_id == before and m.tombstones is None
    # under the cap the same delete commits fine
    n = delete_by_query(
        spark, idx, BooleanSpec(filters=(("role", "assistant"),))
    )
    assert n > 1


def test_r4_read_paths_honor_tombstones(spark, idx):
    """Every round-4 docmap read path applies the liveDocs mask
    (pinned invariant in the working notes: any NEW docmap read site must): early_topk,
    relatedness (fg AND bg domains), uniqueBlock, blockChildren
    widening."""
    from lucene_solr_spark.query.facets import (
        facet_block_domain,
        facet_relatedness,
        facet_unique_block,
    )

    before = IndexSearcher(spark, idx)
    et_pre = [tuple(r)[:2] for r in before.early_topk(10).collect()]
    rel_pre = {r.facet_value: (r.fg_count, r.bg_count)
               for r in facet_relatedness(
                   before, "role", BooleanSpec(must=("merge",)), limit=20
               ).collect()}
    ub_pre = {r.facet_value: (r.cnt, r.unique_convs)
              for r in facet_unique_block(
                  before, "role", BooleanSpec(must=("merge",)), limit=20
              ).collect()}

    # delete the first early_topk doc's whole neighborhood: all turns
    # of user role (broad enough to hit every path's domain)
    delete_by_query(spark, idx, BooleanSpec(filters=(("role", "user"),)))
    after = IndexSearcher(spark, idx)

    et_post = after.early_topk(10, fields=("role",)).collect()
    assert len(et_post) == 10
    assert all(r.role != "user" for r in et_post)
    assert [tuple(r)[:2] for r in et_post] != et_pre

    rel_post = {r.facet_value: (r.fg_count, r.bg_count)
                for r in facet_relatedness(
                    after, "role", BooleanSpec(must=("merge",)), limit=20
                ).collect()}
    assert "user" not in rel_post  # bg domain masked too
    assert rel_post != rel_pre

    ub_post = {r.facet_value: (r.cnt, r.unique_convs)
               for r in facet_unique_block(
                   after, "role", BooleanSpec(must=("merge",)), limit=20
               ).collect()}
    assert "user" not in ub_post
    assert ub_pre["assistant"] == ub_post["assistant"]  # untouched bucket

    wide = facet_block_domain(
        after, "role", BooleanSpec(must=("merge",)), limit=20
    ).collect()
    assert all(r.facet_value != "user" for r in wide)


# ---------------------------------------------------------------------------
# every segment-reader user that no test above runs on a tombstoned index
# ---------------------------------------------------------------------------

Q_DATA = BooleanSpec(must=("data",))
#: crosses roles, tools, conversations and parent (turn 0) rows
Q_DEL = BooleanSpec(must=("merge",), range_filters=(("turn_idx", "0", "3"),))


def _docvalues(before, deleted, spec):
    """pandas recount source, independent of the reader: the pre-delete
    docvalues, flagged with the spec's pre-delete hits and liveness."""
    dm = before.docmap().toPandas()
    hits = {(r.conv_id, r.turn_idx) for r in before.docset(spec).collect()}
    keys = list(zip(dm.conv_id, dm.turn_idx))
    dm["hit"] = [k in hits for k in keys]
    dm["live"] = [k not in deleted for k in keys]
    return dm


def _pivot(fields):
    def check(sf_dir, before, after, dm):
        from lucene_solr_spark.query.facets import facet_pivot

        def recount(d):
            d = d[d.hit].dropna(subset=list(fields))
            n = d.groupby(list(fields)).size()
            return {k: int(v) for k, v in n.items()}

        got = {tuple(r)[:-1]: r.cnt for r in facet_pivot(
            after, fields, spec=Q_DATA, limits=(10**6,) * len(fields)
        ).collect()}
        assert got == recount(dm[dm.live]) != recount(dm)
    return check


def _nested(sf_dir, before, after, dm):
    from lucene_solr_spark.query.facets import facet_nested

    def recount(d):
        d = d[d.hit].dropna(subset=["role"])
        cnt1 = d.groupby("role").size()
        sub = d.dropna(subset=["tool"]).groupby(["role", "tool"]).doc_len
        return {(v1, v2): (int(cnt1[v1]), int(n), m)
                for (v1, v2), n, m in zip(
                    sub.size().index, sub.size(), sub.mean())}

    got = {(r.v1, r.v2): (r.cnt1, r.cnt2, r.avg_dl) for r in facet_nested(
        after, "role", "tool", spec=Q_DATA, limit1=10, limit2=10**6
    ).collect()}
    want = recount(dm[dm.live])
    assert set(got) == set(want) and want != recount(dm)
    for key, (c1, c2, avg) in got.items():
        assert (c1, c2) == want[key][:2] and abs(avg - want[key][2]) < 1e-4


def _metrics(sf_dir, before, after, dm):
    from lucene_solr_spark.query.facets import facet_metrics

    def recount(d):
        d = d[d.hit].dropna(subset=["role"])
        g = d.groupby("role").doc_len
        return {v: (int(n), float(s)) for v, n, s in zip(
            g.size().index, g.size(), g.sum())}

    got = {r.facet_value: (r.cnt, r.sum_doc_len) for r in facet_metrics(
        after, "role", spec=Q_DATA, aggs=(("sum", "doc_len"),)
    ).collect()}
    assert got == recount(dm[dm.live]) != recount(dm)


def _block_parent(sf_dir, before, after, dm):
    from lucene_solr_spark.query.facets import facet_block_parent

    def recount(d):
        convs = set(d[d.hit].conv_id)
        p = d[(d.turn_idx == 0) & d.conv_id.isin(convs)].dropna(
            subset=["role"])
        return {k: int(v) for k, v in p.groupby("role").size().items()}

    got = {r.facet_value: r.cnt for r in facet_block_parent(
        after, "role", Q_DATA, limit=10).collect()}
    assert got == recount(dm[dm.live]) != recount(dm)


def _significant_terms(sf_dir, before, after, dm):
    deleted = after.deleted_keys
    rows = after.significant_terms(Q_DATA, min_fg=5, limit=3).collect()
    assert rows
    moved = False
    for r in rows:
        spec = BooleanSpec(must=tuple(dict.fromkeys(("data", r.term))))
        fg_all = {(x.conv_id, x.turn_idx)
                  for x in before.docset(spec).collect()}
        assert r.fg_df == len(fg_all - deleted), r
        moved |= bool(fg_all & deleted)
    assert moved  # the delete reaches the fg domain


def _mlt_batch(sf_dir, before, after, dm):
    t = transcripts_from_documents(before.spark, sf_dir).toPandas()
    live = dm[dm.live & dm.hit].sort_values(["conv_id", "turn_idx"]).head(3)
    text = {(r.conv_id, r.turn_idx): r.text for r in t.itertuples()}
    sources = [(c, int(i), text[(c, i)])
               for c, i in zip(live.conv_id, live.turn_idx)]

    def sims(s):
        return {(r.sim_conv_id, r.sim_turn_idx)
                for r in s.mlt_batch(sources, k=50).collect()}

    deleted = after.deleted_keys
    assert sims(before) & deleted  # the delete reaches the candidates
    got = sims(after)
    assert got and not got & deleted


@pytest.mark.parametrize("check", [
    _pivot(("role", "tool")), _pivot(("role", "tool", "ftok")), _nested,
    _metrics, _block_parent, _significant_terms, _mlt_batch,
], ids=["pivot2", "pivot3", "facet_nested", "facet_metrics",
        "facet_block_parent", "significant_terms", "mlt_batch"])
def test_segment_reader_users_honor_tombstones(spark, sf_dir, idx, check):
    """Each surface that reads segments through SegmentDomain, on a
    tombstoned index: counts equal a pandas recount over the live docs
    (and differ from the pre-delete recount, so the delete reaches the
    domain), or the output holds no deleted key."""
    before = IndexSearcher(spark, idx)
    n = delete_by_query(spark, idx, Q_DEL)
    after = IndexSearcher(spark, idx)
    assert n == len(after.deleted_keys) > 0
    check(sf_dir, before, after,
          _docvalues(before, after.deleted_keys, Q_DATA))
