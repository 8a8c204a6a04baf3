"""Ops-plane CLI (jobs/maintain_job.py): delete → replicate → merge →
clear-tombstones round trip, in-process."""

from __future__ import annotations

import os
import sys

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.index.manifest import Manifest
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.transcripts import transcripts_from_documents

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "jobs"))
from maintain_job import main  # noqa: E402


def test_maintain_cli_roundtrip(spark, sf_dir, tmp_path):
    root = str(tmp_path / "idx")
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=2, lineage_source="t")

    st = main(["delete", "--index", root, "--query", "role:user AND merge"])
    assert st["cmd"] == "delete" and st["tombstones_total"] > 0
    s = IndexSearcher(spark, root)
    assert s.docset(
        BooleanSpec(must=("merge",), filters=(("role", "user"),))
    ).count() == 0

    dst = str(tmp_path / "replica")
    st = main(["replicate", "--src", root, "--dst", dst])
    assert st["copied"] > 0
    # tombstones replicate with the snapshot (manifest pointer + file)
    assert IndexSearcher(spark, dst).docset(
        BooleanSpec(must=("merge",), filters=(("role", "user"),))
    ).count() == 0

    st = main(["merge", "--index", root, "--merge-factor", "8"])
    assert st["n_segments"] >= 1

    st = main(["clear-tombstones", "--index", root])
    assert st["ok"]
    assert not Manifest.load(root).tombstones


def test_ttl_delete_via_range_query(spark, sf_dir, tmp_path):
    """DocExpirationUpdateProcessor shape: expire everything before a
    cutoff with one CLI delete — `ts:[* TO cutoff]`."""
    root = str(tmp_path / "ttl")
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=2, lineage_source="t")

    cutoff = "2024-01-01T03:00:00"
    st = main(["delete", "--index", root, "--query", f"ts:[* TO {cutoff}]"])
    assert st["tombstones_total"] > 0
    s = IndexSearcher(spark, root)
    import pyspark.sql.functions as F

    live = s.docmap()
    assert live.filter(F.col("ts") <= cutoff).count() == 0
    assert live.count() > 0  # newer docs survive


def test_pipeline_cli_stages(spark, sf_dir, tmp_path):
    from pipeline_job import main as pmain

    st = pmain(["sample", "--sf-dir", sf_dir, "--out",
                str(tmp_path / "sampled")])
    assert 0 < st["rows_out"] < st["rows_in"]
    got = spark.read.parquet(str(tmp_path / "sampled"))
    assert set(got.columns) == {"doc_id", "lang", "source"}

    st = pmain(["pack", "--sf-dir", sf_dir, "--out", str(tmp_path / "bins")])
    assert st["rows_out"] > 0
    bins = spark.read.parquet(str(tmp_path / "bins"))
    assert set(bins.columns) == {
        "bin_id", "n_docs", "n_tokens", "first_doc", "last_doc"
    }

    st = pmain(["dedup", "--sf-dir", sf_dir, "--out", str(tmp_path / "keep")])
    # planted corpus: every %7 doc has an exact dup that must drop
    assert st["rows_out"] < st["rows_in"] * 1.25  # corpus adds ~23% dups

    st = pmain(["bpe-train", "--sf-dir", sf_dir, "--out",
                str(tmp_path / "merges")])
    merges = spark.read.parquet(str(tmp_path / "merges"))
    assert st["rows_out"] == 3  # the pinned merge-round count
    assert set(merges.columns) == {"step", "lhs", "rhs", "merged", "cnt"}


def test_pipeline_cli_filter_stage(spark, sf_dir, tmp_path):
    from pipeline_job import main as pmain

    st = pmain(["filter", "--sf-dir", sf_dir, "--out",
                str(tmp_path / "clean")])
    assert 0 < st["rows_out"] < st["rows_in"]  # flags discriminate
    clean = spark.read.parquet(str(tmp_path / "clean"))
    assert "keep" not in clean.columns  # flag consumed, not emitted
    # every surviving doc really passes the repetition keep rule
    from lucene_solr_spark.operators.textpipe import q_quality_repetition

    rep = q_quality_repetition(spark, sf_dir)
    joined = clean.join(rep, "doc_id", "left")
    assert joined.filter(~joined.keep).count() == 0


def test_pipeline_cli_substring_stage(spark, sf_dir, tmp_path):
    from pipeline_job import main as pmain

    st = pmain(["substring", "--sf-dir", sf_dir, "--out",
                str(tmp_path / "spandedup")])
    assert 0 < st["rows_out"] < st["rows_in"] * 1.25  # planted dups drop
    kept = spark.read.parquet(str(tmp_path / "spandedup"))
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # first occurrence survives, the higher-id verbatim copy drops
    from lucene_solr_spark.operators.textpipe import q_dedup_substring

    pairs = q_dedup_substring(spark, sf_dir).collect()
    assert pairs
    for r in pairs:
        assert r.b not in ids, (r.a, r.b)


def test_pipeline_cli_semdedup_stage(spark, sf_dir, tmp_path):
    from pipeline_job import main as pmain

    st = pmain(["semdedup", "--sf-dir", sf_dir, "--out",
                str(tmp_path / "semkeep")])
    kept = spark.read.parquet(str(tmp_path / "semkeep"))
    assert set(kept.columns) == {"vec_id", "cid"}
    ids = {r.vec_id for r in kept.collect()}
    assert ids  # non-degenerate
    # every planted +0.02 twin pair assigned to the SAME cluster lost
    # exactly one member (cross-cluster twins may both survive —
    # SemDeDup's documented leakage mode, the pairwise pass is
    # per-cluster by design)
    from lucene_solr_spark.operators.textpipe import q_dedup_semantic

    cid = {r.vec_id: r.cid for r in q_dedup_semantic(spark, sf_dir)
           .select("vec_id", "cid").collect()}
    twins = [(v, v + 100000) for v in cid
             if v + 100000 in cid and cid[v] == cid[v + 100000]]
    assert twins
    assert all(not (a in ids and b in ids) for a, b in twins)


def test_pipeline_cli_dsir_stage(spark, sf_dir, tmp_path):
    from pipeline_job import main as pmain

    st = pmain(["dsir", "--sf-dir", sf_dir, "--out",
                str(tmp_path / "dsir_keep")])
    assert 0 < st["rows_out"] < st["rows_in"]
    kept = spark.read.parquet(str(tmp_path / "dsir_keep"))
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # every kept doc's weight >= every dropped doc's weight (median cut)
    from lucene_solr_spark.operators.textpipe import dsir_weights

    w = {r.doc_id: r.weight for r in dsir_weights(spark, sf_dir).collect()}
    kept_w = [w[i] for i in ids]
    drop_w = [v for i, v in w.items() if i not in ids]
    assert min(kept_w) >= max(drop_w)


def test_pipeline_cli_classify_filter_stage(spark, sf_dir, tmp_path):
    from pipeline_job import main as pmain

    st = pmain(["classify-filter", "--sf-dir", sf_dir, "--out",
                str(tmp_path / "clf_keep")])
    kept = spark.read.parquet(str(tmp_path / "clf_keep"))
    assert set(kept.columns) == {"conv_id", "turn_idx", "prob"}
    assert kept.count() == st["rows_out"] > 0
    assert st["rows_out"] < st["rows_in"]  # the mean gate discriminates
    # every kept turn scores at or above the corpus mean probability
    from lucene_solr_spark.operators import learning
    from pyspark.sql import functions as F

    feats = learning._labeled(spark, sf_dir)
    model = learning._gd_weights(feats).select(
        F.transform("ws", lambda v: F.round(v, 4)).alias("ws")
    )
    scored = feats.join(F.broadcast(model)).withColumn(
        "prob", F.round(1.0 / (1.0 + F.exp(-learning._dot("xs", "ws"))), 4)
    )
    cut = scored.agg(F.round(F.avg("prob"), 4)).collect()[0][0]
    assert kept.filter(F.col("prob") < cut).count() == 0


def test_pipeline_cli_ppl_filter_stage(spark, sf_dir, tmp_path):
    from pipeline_job import main as pmain

    st = pmain(["ppl-filter", "--sf-dir", sf_dir, "--out",
                str(tmp_path / "ppl_keep")])
    assert 0 < st["rows_out"] < st["rows_in"]
    kept = spark.read.parquet(str(tmp_path / "ppl_keep"))
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # kept set == exactly the head+middle buckets; every kept doc's
    # nll <= every dropped (tail) doc's nll
    from lucene_solr_spark.operators.textpipe import q_quality_ppl_buckets

    b = {r.doc_id: (r.bucket, r.nll)
         for r in q_quality_ppl_buckets(spark, sf_dir).collect()}
    want = {d for d, (bk, _) in b.items() if bk != "tail"}
    assert ids == want
    kept_nll = [n for d, (bk, n) in b.items() if d in ids]
    tail_nll = [n for d, (bk, n) in b.items() if d not in ids]
    assert tail_nll and max(kept_nll) <= min(tail_nll)
