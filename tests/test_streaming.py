"""Incremental/NRT build tests (SURVEY §2.8 N1/N2): streamed
micro-batches must yield the same answers as a one-shot batch build;
batch replay must be idempotent; compaction of micro-segments must
preserve answers."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.index.manifest import Manifest
from lucene_solr_spark.index.merge import merge_segments
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.streaming.incremental import IncrementalIndexer
from lucene_solr_spark.transcripts import transcripts_from_documents

SPECS = [
    BooleanSpec(must=("merge",), k=10),
    BooleanSpec(should=("fast", "slow"), min_should_match=1, k=10),
    BooleanSpec(phrases=(("table", "scan"),), k=10),
]


@pytest.fixture(scope="module")
def streamed(spark, sf_dir, tmp_path_factory):
    """Index built through a real Structured Streaming query over the
    transcripts written as 3 parquet chunks, drained with AvailableNow."""
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "src")
    t = transcripts_from_documents(spark, sf_dir)
    # 3 files → 3 micro-batches (maxFilesPerTrigger=1)
    t.repartition(3).write.parquet(src)
    out_root = str(base / "idx")
    ckpt = str(base / "ckpt")
    stream = (
        spark.readStream.schema(t.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    indexer = IncrementalIndexer(spark, out_root, parts_per_batch=2)
    q = indexer.start(stream, ckpt, trigger_once=True)
    q.awaitTermination(300)
    return out_root, indexer


def test_snapshot_per_batch(streamed):
    out_root, indexer = streamed
    m = Manifest.load(out_root)
    batches = indexer.committed_batches()
    assert len(batches) >= 2  # one snapshot per micro-batch
    assert m.snapshot_id == len(batches)


def test_streamed_equals_batch(spark, sf_dir, streamed, tmp_path_factory):
    out_root, _ = streamed
    batch_root = str(tmp_path_factory.mktemp("bidx"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, batch_root, num_parts=4, lineage_source=sf_dir)
    s_stream = IndexSearcher(spark, out_root)
    s_batch = IndexSearcher(spark, batch_root)
    assert s_stream.manifest.n_docs == s_batch.manifest.n_docs
    for spec in SPECS:
        a = s_stream.search(spec).toPandas()
        b = s_batch.search(spec).toPandas()
        assert list(zip(a.conv_id, a.turn_idx)) == list(zip(b.conv_id, b.turn_idx))
        assert np.allclose(a.score.to_numpy(), b.score.to_numpy(), atol=1e-9)


def test_replay_is_idempotent(spark, sf_dir, streamed):
    out_root, indexer = streamed
    m_before = Manifest.load(out_root)
    bid = min(indexer.committed_batches())
    t = transcripts_from_documents(spark, sf_dir).limit(50)
    indexer.process_batch(t, bid)  # replayed batch → must be a no-op
    m_after = Manifest.load(out_root)
    assert m_after.snapshot_id == m_before.snapshot_id
    assert sorted(m_after.segments) == sorted(m_before.segments)


def test_compaction_after_streaming(spark, streamed):
    """Micro-segments compact via the tiered merge (N6) with answers
    preserved — the ConcurrentMergeScheduler analog."""
    out_root, _ = streamed
    before = IndexSearcher(spark, out_root)
    answers = [before.search(s).toPandas() for s in SPECS]
    merge_segments(spark, out_root, merge_factor=8)
    after = IndexSearcher(spark, out_root)
    assert len(after.manifest.segments) < len(before.manifest.segments)
    for spec, want in zip(SPECS, answers):
        got = after.search(spec).toPandas()
        assert list(zip(got.conv_id, got.turn_idx)) == list(zip(want.conv_id, want.turn_idx))


# --- TopicStream (N4): checkpointed pub-sub pulls --------------------

def test_topic_stream_pull_advances_checkpoint(spark, sf_dir, tmp_path):
    """Pull 1 delivers everything past the initial checkpoint; pull 2
    delivers NOTHING new (checkpoint advanced + persisted); a fresh
    TopicStream over the same checkpoint file resumes, not restarts."""
    from lucene_solr_spark.streaming.topic import TopicStream

    ckpt = str(tmp_path / "topic.json")
    topic = TopicStream(
        spark, sf_dir, ckpt, query_term="merge",
        initial_checkpoint="2024-01-01 00:30:00",
    )
    first = topic.pull().collect()
    assert len(first) > 0
    assert topic.pull().count() == 0  # nothing new since pull 1
    # a NEW consumer instance on the same checkpoint file resumes
    topic2 = TopicStream(
        spark, sf_dir, ckpt, query_term="merge",
        initial_checkpoint="2024-01-01 00:30:00",
    )
    assert topic2.pull().count() == 0


def test_topic_stream_fresh_subscription_redelivers(spark, sf_dir, tmp_path):
    """A different checkpoint file = a different subscription: it gets
    the full backlog again (pub-sub, not a queue)."""
    from lucene_solr_spark.streaming.topic import TopicStream

    a = TopicStream(
        spark, sf_dir, str(tmp_path / "a.json"), query_term="merge",
        initial_checkpoint="2024-01-01 00:30:00",
    )
    n1 = a.pull().count()
    b = TopicStream(
        spark, sf_dir, str(tmp_path / "b.json"), query_term="merge",
        initial_checkpoint="2024-01-01 00:30:00",
    )
    assert b.pull().count() == n1


def test_stateful_dedup_drops_cross_batch_duplicates(
    spark, sf_dir, tmp_path_factory
):
    """applyInPandasWithState signature dedup: duplicates planted in a
    LATER micro-batch (corpus_df's +100000 exact dups) must drop
    because the signature's state survives across batches; every
    distinct text keeps exactly its first-arriving (min doc_id) row."""
    from lucene_solr_spark.operators.textpipe import corpus_df
    from lucene_solr_spark.streaming.dedup import stateful_dedup

    base = tmp_path_factory.mktemp("sdedup")
    src = str(base / "src")
    c = corpus_df(spark, sf_dir).select("doc_id", "text")
    # batch 1: originals; batch 2: the planted exact duplicates
    c.filter("doc_id < 100000").coalesce(1).write.parquet(src)
    c.filter("doc_id >= 100000").coalesce(1).write.parquet(src, mode="append")
    stream = (
        spark.readStream.schema(c.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_dedup(stream)  # drain run: NoTimeout (see module doc)
        .writeStream.format("memory")
        .queryName("sdedup_out")
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r.doc_id for r in spark.table("sdedup_out").select("doc_id").collect()
    }
    rows = c.collect()
    first_by_text: dict[str, int] = {}
    for r in sorted(rows, key=lambda r: r.doc_id):
        first_by_text.setdefault(r.text, r.doc_id)
    want = set(first_by_text.values())
    assert got == want
    # the planted +100000/+200000 rows: exact dups dropped, near-dups
    # (distinct text) kept — signature dedup, not fuzzy
    assert not any(100000 <= d < 200000 for d in got)
    assert any(d >= 200000 for d in got)


def test_stateful_dedup_ttl_eviction_branch():
    # The TTL path, pinned directly (availableNow can't exercise it --
    # Spark keeps a drain query alive to service registered timeouts):
    # a timed-out signature's state removes, and the NEXT arrival of
    # that signature is fresh again (bounded-window semantics).
    import pandas as pd

    from lucene_solr_spark.streaming.dedup import _keep_first

    class FakeState:
        def __init__(self):
            self.hasTimedOut = False
            self.exists = False
            self.removed = False
            self.timeout_ms = None

        def update(self, v):
            self.exists = True

        def remove(self):
            self.exists = False
            self.removed = True

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

    def batch(doc_ids):
        return iter([pd.DataFrame({
            "sig": ["s"] * len(doc_ids), "doc_id": doc_ids,
            "text": ["t"] * len(doc_ids), "ttl_ms": [60_000] * len(doc_ids),
        })])

    st = FakeState()
    # first arrival: emits min doc_id, registers the TTL
    out = list(_keep_first(("s",), batch([7, 3]), st))
    assert len(out) == 1 and list(out[0].doc_id) == [3]
    assert st.exists and st.timeout_ms == 60_000
    # duplicate while state lives: drops
    assert list(_keep_first(("s",), batch([9]), st)) == []
    # timeout fires: state removes, nothing emitted
    st.hasTimedOut = True
    assert list(_keep_first(("s",), batch([]), st)) == []
    assert st.removed and not st.exists
    # next arrival after eviction is fresh again
    st.hasTimedOut = False
    out = list(_keep_first(("s",), batch([11]), st))
    assert len(out) == 1 and list(out[0].doc_id) == [11]
