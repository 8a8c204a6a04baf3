"""Tiered segment merge, one task per destination segment (SURVEY §2.1
S8). ``SegmentMerger`` / ``TieredMergePolicy`` re-expressed Spark-first.

Merge policy: the committed segments are ordered and grouped into
``merge_factor``-sized tiers; each tier becomes ONE destination segment
(Lucene never merges everything into a single segment either — that is
what keeps per-term merged posting lists bounded at 10^12-doc scale).

:func:`merge_tier` is the one segment rewriter — merge and split
(``split.py``, a one-source tier that keeps one child's docs) both run
through it: decode every source's postings whole
(``codec.unpack_segment``), order the tier's docs by the index sort
``(conv_id, turn_idx)`` (stable, so equal keys stay source-major) —
Lucene's ``MultiSorter`` on an index-sorted merge — remap each posting
to its new doc id, re-sort postings by ``(term, new_doc)`` and repack
through the build's packer (``build.postings_table``). A merged
segment is therefore the segment the build would write from the same
turns, index-sorted like every other segment.

Physical: ``spark.range(n_dst).mapInPandas`` — one stage, no exchange,
one task per destination segment (the ``each_segment`` shape). One
task per destination is enough: the destination segment is written by
one task in any design, so its size (bounded by ``merge_factor`` ×
source size) is the unit of work; splitting its terms across tasks
would only add shuffles in front of that one writer.

Doc-values merge: facet ordinals are segment-local, so destination
segments re-derive ``*_ord`` columns + dictionaries from the merged
string columns (Lucene's ``OrdinalMap`` analog, done by refactorize in
``build.segment_tables``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from lucene_solr_spark.index.build import (
    DOC_COLUMNS,
    METRICS_SCHEMA,
    flush_segment,
    manifest_entries,
    postings_table,
    segment_tables,
)
from lucene_solr_spark.index.codec import unpack_segment
from lucene_solr_spark.index.manifest import Manifest


def plan_merge(manifest: Manifest, merge_factor: int) -> list[list[str]]:
    """Tiers of source segment names, one per destination segment:
    the committed names in order (stable), cut into contiguous groups
    of ``merge_factor``. A name's position in its tier is its
    ``src_pos``."""
    names = sorted(manifest.segments)
    return [names[i : i + merge_factor] for i in range(0, len(names), merge_factor)]


def merge_tier(src_dirs: list[str], seg_id: int, keep=None) -> dict:
    """Rewrite one tier's source segments (in ``src_pos`` order) into
    the tables of one destination segment — pure pyarrow/numpy, no
    Spark. ``keep(docs) -> bool mask`` over the tier's docs (source
    order) drops the docs it rejects, with their postings."""
    # 1: decode each source whole; its docs shift by its doc_base
    terms, docs, dec = [], [], []
    base = 0
    for d in src_dirs:
        p = pq.read_table(f"{d}/postings.parquet", columns=[
            "term", "df", "first_docs", "doc_offs", "doc_bytes", "tf_bytes", "pos_bytes"])
        u = unpack_segment(p)
        u["docs"] += base
        terms.append(p["term"].combine_chunks())
        dec.append(u)
        dm = pq.read_table(f"{d}/docmap.parquet", columns=["doc_ord", *DOC_COLUMNS])
        docs.append(dm.sort_by("doc_ord").drop_columns(["doc_ord"]))
        base += dm.num_rows

    # 2: the tier's docs in index-sort order, minus rejected ones
    docs = pa.concat_tables(docs).to_pandas()
    order = docs.sort_values(["conv_id", "turn_idx"], kind="mergesort").index.to_numpy()
    if keep is not None:
        order = order[np.asarray(keep(docs), bool)[order]]
    new_doc = np.full(len(docs), -1, np.int64)
    new_doc[order] = np.arange(len(order))

    # 3: every posting's tier-wide term id and new doc id
    all_terms = pa.concat_arrays(terms)
    uniq = pc.unique(all_terms)
    uniq = uniq.take(pc.array_sort_indices(uniq))
    term_id = np.repeat(
        pc.index_in(all_terms, uniq).to_numpy(),
        np.concatenate([np.diff(u["term_starts"]) for u in dec]),
    )
    post_doc = new_doc[np.concatenate([u["docs"] for u in dec])]
    tfs = np.concatenate([u["tfs"] for u in dec])
    positions = np.concatenate([u["positions"] for u in dec])
    live = post_doc >= 0

    # 4: postings by (term, new doc); positions gathered along
    srt = np.flatnonzero(live)[np.lexsort((post_doc[live], term_id[live]))]
    tok_start = np.cumsum(tfs) - tfs
    tf_s = tfs[srt]
    out_start = np.cumsum(tf_s) - tf_s
    tok = np.repeat(tok_start[srt] - out_start, tf_s) + np.arange(int(tf_s.sum()))
    counts = np.bincount(term_id[srt], minlength=len(uniq))
    present = np.flatnonzero(counts)
    term_starts = np.concatenate([[0], np.cumsum(counts[present])])

    # 5: repack through the build's writer
    kept = docs.iloc[order].reset_index(drop=True)
    postings = postings_table(
        seg_id,
        uniq.take(pa.array(present)).to_numpy(zero_copy_only=False),
        term_starts,
        post_doc[srt],
        tf_s,
        kept["doc_len"].to_numpy(np.int64),
        positions[tok],
    )
    return segment_tables(seg_id, postings, kept)


def merge_segments(
    spark: SparkSession,
    index_root: str,
    merge_factor: int = 8,
) -> Manifest:
    """Compact the committed segment set by tiers of `merge_factor`,
    publishing a new snapshot (ConcurrentMergeScheduler analog, run as
    a batch job). Returns the new manifest."""
    manifest = Manifest.load(index_root)
    if not manifest.segments:
        return manifest
    seg_root = os.path.join(index_root, "segments")
    tiers = [
        [os.path.join(seg_root, name) for name in tier]
        for tier in plan_merge(manifest, merge_factor)
    ]
    # new names: a re-merge must never overwrite a segment the current
    # snapshot (or a concurrently reading task) still references
    gen = manifest.snapshot_id + 1

    def run(batches):
        for batch in batches:
            for dst in batch["id"].tolist():
                seg = merge_tier(tiers[dst], dst)
                yield flush_segment(seg, seg_root, f"merged_{gen:05d}_{dst:05d}", dst)

    rows = spark.range(0, len(tiers), 1, len(tiers)).mapInPandas(run, METRICS_SCHEMA).collect()
    manifest.commit_replace(
        manifest_entries(rows),
        {
            "op": "merge",
            "merge_factor": merge_factor,
            "sources": sorted(manifest.segments),
            "rows": int(sum(r.n_docs for r in rows)),
        },
    )
    return manifest
