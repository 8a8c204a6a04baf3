"""Tiered segment merge, one task per destination segment (SURVEY §2.1
S8). ``SegmentMerger`` / ``TieredMergePolicy`` re-expressed Spark-first.

Merge policy: the committed segments are ordered and grouped into
``merge_factor``-sized tiers; each tier becomes ONE destination segment
(Lucene never merges everything into a single segment either — that is
what keeps per-term merged posting lists bounded at 10^12-doc scale).
Within a tier, destination doc ordinals are source-major:
``dst_ord = doc_base(src) + src_ord`` where ``doc_base`` is the running
sum of source doc counts — exactly Lucene's ``MergeState.DocMap``.

The codec makes the posting merge **metadata-only**: block payload
bytes delta-encode against the block's own ``first_docs`` entry
(``codec.pack_all_postings``), so remapping a whole source run is
``first_docs += doc_base`` — no varint re-encode, no decode. What
remains is concatenating per-source runs in source order and rebasing
the per-block byte offsets, which :func:`merge_tier` does with array
operations over the whole tier: the sources' postings tables are
concatenated and sorted by ``(term, src_pos)``, after which each
term's list and binary values already sit in merged order, so a merged
row is just a new offsets entry at a term boundary.

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
    segment_tables,
)
from lucene_solr_spark.index.manifest import Manifest

#: per-block byte offsets and the binary column they point into
_BYTE_OFFSETS = {"doc_offs": "doc_bytes", "tf_offs": "tf_bytes", "pos_offs": "pos_bytes"}


def plan_merge(manifest: Manifest, merge_factor: int) -> list[list[str]]:
    """Tiers of source segment names, one per destination segment:
    the committed names in order (stable), cut into contiguous groups
    of ``merge_factor``. A name's position in its tier is its
    ``src_pos``."""
    names = sorted(manifest.segments)
    return [names[i : i + merge_factor] for i in range(0, len(names), merge_factor)]


def _offsets(arr: pa.Array) -> np.ndarray:
    """Row offsets (n+1) of a list or binary array."""
    return np.frombuffer(arr.buffers()[1], np.int32)[arr.offset : arr.offset + len(arr) + 1]


def merge_tier(src_dirs: list[str], seg_id: int) -> dict:
    """Merge one tier's source segments (in ``src_pos`` order) into the
    tables of one destination segment — pure pyarrow/numpy, no Spark.

    After a sort by ``(term, src_pos)`` each term's rows are contiguous
    and source-ordered, so every merged list/binary column keeps the
    sorted values buffer and takes new offsets at the term starts;
    ``first_docs`` gain their row's ``doc_base`` and the block byte
    offsets gain the bytes of the same term's earlier runs."""
    posts, docs, bases = [], [], [0]
    for pos, d in enumerate(src_dirs):
        p = pq.read_table(f"{d}/postings.parquet")
        posts.append(p.append_column("src_pos", pa.array(np.full(p.num_rows, pos, np.int32))))
        dm = pq.read_table(f"{d}/docmap.parquet", columns=["doc_ord", *DOC_COLUMNS])
        docs.append(dm.sort_by("doc_ord").drop_columns(["doc_ord"]))
        bases.append(bases[-1] + dm.num_rows)

    t = pa.concat_tables(posts)
    t = t.take(pc.sort_indices(t, [("term", "ascending"), ("src_pos", "ascending")]))
    col = {name: t[name].combine_chunks() for name in t.column_names}
    n = t.num_rows
    new_term = np.ones(n, bool)
    new_term[1:] = pc.not_equal(col["term"][1:], col["term"][:-1]).to_numpy(
        zero_copy_only=False
    )
    starts = np.flatnonzero(new_term)
    bounds = np.append(starts, n)
    row_term = np.cumsum(new_term) - 1

    add = {"first_docs": np.asarray(bases)[col["src_pos"].to_numpy()]}
    merged = {
        "seg_id": pa.array(np.full(len(starts), seg_id, np.int32)),
        "bucket": col["bucket"].take(starts),
        "term": col["term"].take(starts),
        "df": pa.array(np.add.reduceat(col["df"].to_numpy(), starts).astype(np.int32)),
        "cf": pa.array(np.add.reduceat(col["cf"].to_numpy(), starts).astype(np.int64)),
    }
    for off_col, bin_col in _BYTE_OFFSETS.items():
        offs = _offsets(col[bin_col])
        merged[bin_col] = pa.Array.from_buffers(
            pa.binary(), len(starts),
            [None, pa.py_buffer(offs[bounds].tobytes()), col[bin_col].buffers()[2]],
        )
        before = offs[:-1].astype(np.int64)
        add[off_col] = before - before[starts][row_term]
    for name in ("first_docs", "doc_offs", "tf_offs", "pos_offs", "max_tfs", "min_dls"):
        offs = _offsets(col[name])
        values = pc.list_flatten(col[name]).to_numpy()
        if name in add:
            values = values + np.repeat(add[name], np.diff(offs))
        merged[name] = pa.ListArray.from_arrays(
            pa.array(offs[bounds] - offs[0]), pa.array(values.astype(np.int32))
        )
    postings = pa.table({name: merged[name] for name in t.column_names[:-1]})
    return segment_tables(seg_id, postings, pa.concat_tables(docs).to_pandas())


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
