"""SPLITSHARD analog: split one committed segment into ``n_children``
child segments by conversation hash, published as one atomic snapshot.

ref: solr/core/src/java/org/apache/solr/update/SolrIndexSplitter.java
(HashBasedRouter over the route key; one pass per sub-range rewriting
the sub-index), solr/core/src/java/org/apache/solr/cloud/api/
collections/SplitShardCmd.java (the ops surface that invokes it).

Contracts (all pinned by tests/test_split.py):

- **Route key is conv_id, never the doc.** Conversation blocks must
  stay segment-local — uniqueBlock / grouped-facet / blockChildren
  widening are exact ONLY under that invariant (CLAUDE.md), so the
  router hashes the conversation and moves whole blocks. FNV-1a 64
  (the format-v2 term-bucket hash) mod n_children: deterministic,
  process-stable, identical in the docmap and postings passes.
- **Order-preserving ordinal remap.** The docmap is (conv_id,
  turn_idx)-sorted with doc_ord = row position; filtering a sorted
  sequence preserves order, so ``new_ord = rank of old_ord within the
  child`` keeps every child docmap index-sorted (early_topk's
  request-sort == index-sort contract survives) and keeps each child
  posting list strictly increasing WITHOUT a sort.
- **Decode + re-encode is inherent.** Unlike the metadata-only merge
  (concatenation never breaks a delta run), a doc SUBSET breaks both
  the doc-delta stream and the 128-block boundaries — Solr's
  SolrIndexSplitter likewise rewrites each sub-index. The decode runs
  inside Arrow tasks partitioned over posting rows; the driver never
  touches posting bytes.
- **Global BM25 stats are unchanged** (df/cf/avgdl are index-wide
  sums over segments; splitting one segment re-partitions, never
  re-weights), so results stay rank-identical — pinned by the duel.
- **Tombstones are business-key masks carried OUTSIDE segments** —
  untouched, still applied at every docmap read site afterwards.

Scale note: the router ships to posting tasks as a Spark broadcast of
three per-doc arrays (child int8, new_ord int64, doc_len int32) for
the ONE segment being split — the same "a segment fits a task" unit
the merge writer already relies on; segment size is bounded by the
build's per-partition doc cap, not by corpus size.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.index.build import (
    METRICS_SCHEMA,
    _fnv64_array,
    flush_segment,
    manifest_entries,
    segment_tables,
)
from lucene_solr_spark.index.codec import (
    pack_all_postings,
    unpack_positions,
    unpack_postings,
)
from lucene_solr_spark.index.manifest import Manifest

_SPLIT_POST_SCHEMA = (
    "child int, bucket int, term string, df long, cf long, "
    "first_docs array<long>, doc_offs array<long>, tf_offs array<long>, "
    "pos_offs array<long>, max_tfs array<long>, min_dls array<long>, "
    "doc_bytes binary, tf_bytes binary, pos_bytes binary"
)


def _list_arr_from(arrs) -> pa.Array:
    """Series/list of int arrays → Arrow list<int32> column."""
    arrs = [np.asarray(a, np.int64) for a in arrs]
    if not arrs:
        return pa.array([], type=pa.list_(pa.int32()))
    offsets = np.zeros(len(arrs) + 1, np.int32)
    np.cumsum([len(a) for a in arrs], out=offsets[1:])
    flat = (
        np.concatenate(arrs).astype(np.int32)
        if any(len(a) for a in arrs)
        else np.empty(0, np.int32)
    )
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))


def route_convs(conv_ids: np.ndarray, n_children: int) -> np.ndarray:
    """conv_id → child (FNV-1a 64 mod n_children) — the HashBasedRouter
    analog; one spelling shared by the docmap and postings passes."""
    return (_fnv64_array(conv_ids) % np.uint64(n_children)).astype(np.int8)


def _split_posting_rows(child, new_ord, dls, n_children):
    """mapInPandas stage: decode each source posting row, partition its
    postings by the doc's child, re-encode per child. Vectorized per
    batch: one pack_all_postings call per (child, batch)."""

    def gen(batches):
        for pdf in batches:
            acc: dict[int, dict[str, list]] = {
                c: {"term": [], "bucket": [], "docs": [], "tfs": [],
                    "dl": [], "pos": []}
                for c in range(n_children)
            }
            for row in pdf.itertuples(index=False):
                fd = np.asarray(row.first_docs, np.int64)
                docs, tfs = unpack_postings(
                    fd,
                    np.asarray(row.doc_offs, np.int64),
                    np.asarray(row.tf_offs, np.int64),
                    row.doc_bytes,
                    row.tf_bytes,
                )
                pos = unpack_positions(
                    np.asarray(row.pos_offs, np.int64),
                    row.pos_bytes,
                    tfs,
                    np.arange(len(fd)),
                    len(fd),
                )
                doc_child = child[docs]
                for c in range(n_children):
                    m = doc_child == c
                    if not m.any():
                        continue
                    a = acc[c]
                    a["term"].append(row.term)
                    a["bucket"].append(row.bucket)
                    # ascending old ords → ascending new ords (the
                    # remap is order-preserving within a child)
                    a["docs"].append(new_ord[docs[m]])
                    a["tfs"].append(tfs[m])
                    a["dl"].append(dls[docs[m]])
                    a["pos"].append(pos[np.repeat(m, tfs)])
            out: list[dict] = []
            for c in range(n_children):
                a = acc[c]
                if not a["term"]:
                    continue
                per_df = np.array([len(d) for d in a["docs"]], np.int64)
                term_starts = np.zeros(len(per_df) + 1, np.int64)
                np.cumsum(per_df, out=term_starts[1:])
                packed = pack_all_postings(
                    term_starts,
                    np.concatenate(a["docs"]),
                    np.concatenate(a["tfs"]),
                    np.concatenate(a["dl"]),
                    np.concatenate(a["pos"]),
                )
                for i, term in enumerate(a["term"]):
                    out.append({
                        "child": c,
                        "bucket": int(a["bucket"][i]),
                        "term": term,
                        "df": int(per_df[i]),
                        "cf": int(a["tfs"][i].sum()),
                        "first_docs": packed["first_docs"][i],
                        "doc_offs": packed["doc_offs"][i],
                        "tf_offs": packed["tf_offs"][i],
                        "pos_offs": packed["pos_offs"][i],
                        "max_tfs": packed["max_tfs"][i],
                        "min_dls": packed["min_dls"][i],
                        "doc_bytes": packed["doc_bytes"][i],
                        "tf_bytes": packed["tf_bytes"][i],
                        "pos_bytes": packed["pos_bytes"][i],
                    })
            if out:
                yield pd.DataFrame(out)

    return gen


def split_segment(
    spark: SparkSession,
    index_root: str,
    seg_name: str,
    n_children: int = 2,
) -> Manifest:
    """Split one committed segment into ``n_children`` children routed
    by conv-hash; atomically publish (segments − source) ∪ children.
    Returns the new manifest."""
    manifest = Manifest.load(index_root)
    if seg_name not in manifest.segments:
        raise ValueError(f"segment {seg_name!r} not in current snapshot")
    if n_children < 2:
        raise ValueError("split needs n_children >= 2")
    seg_dir = os.path.join(index_root, "segments", seg_name)

    dm = spark.read.parquet(f"{seg_dir}/docmap.parquet")
    post = spark.read.parquet(f"{seg_dir}/postings.parquet")

    # ---- router: per-doc (child, new_ord, doc_len) ------------------
    base = (
        dm.select("doc_ord", "conv_id", "doc_len")
        .orderBy("doc_ord")
        .toPandas()
    )
    n_docs = len(base)
    child = np.zeros(n_docs, np.int8)
    child[base["doc_ord"].to_numpy()] = route_convs(
        base["conv_id"].to_numpy().astype("U"), n_children
    )
    new_ord = np.zeros(n_docs, np.int64)
    for c in range(n_children):
        m = child == c
        new_ord[m] = np.arange(int(m.sum()))
    dls = np.zeros(n_docs, np.int32)
    dls[base["doc_ord"].to_numpy()] = base["doc_len"].to_numpy(np.int32)
    bc = spark.sparkContext.broadcast((child, new_ord, dls))

    max_part = max(int(s["part"]) for s in manifest.segments.values())
    parts = {c: max_part + 1 + c for c in range(n_children)}
    names = {c: f"split_{parts[c]:05d}" for c in range(n_children)}
    seg_root = os.path.join(index_root, "segments")

    def posting_gen(batches):
        ch, no, dl = bc.value
        yield from _split_posting_rows(ch, no, dl, n_children)(batches)

    child_post = post.mapInPandas(posting_gen, _SPLIT_POST_SCHEMA)

    @F.pandas_udf("int")
    def child_of(conv: pd.Series) -> pd.Series:
        return pd.Series(
            route_convs(conv.to_numpy().astype("U"), n_children).astype(np.int32)
        )

    child_dm = dm.withColumn("child", child_of(F.col("conv_id")))

    def write_child(post_pdf: pd.DataFrame, dm_pdf: pd.DataFrame) -> pd.DataFrame:
        c = int(post_pdf["child"].iloc[0]) if len(post_pdf) else int(
            dm_pdf["child"].iloc[0]
        )
        # the child's docs keep their old relative order, so doc_ord =
        # row position is the order-preserving remap new_ord
        docs = dm_pdf.sort_values("doc_ord").reset_index(drop=True)
        pp = post_pdf.sort_values("term", kind="mergesort")
        postings = pa.table({
            "seg_id": pa.array(np.full(len(pp), parts[c], np.int32)),
            "bucket": pa.array(pp["bucket"].to_numpy(np.int32)),
            "term": pa.array(pp["term"].astype(str), pa.string()),
            "df": pa.array(pp["df"].to_numpy(np.int64).astype(np.int32)),
            "cf": pa.array(pp["cf"].to_numpy(np.int64)),
            **{k: _list_arr_from(pp[k]) for k in (
                "first_docs", "doc_offs", "tf_offs", "pos_offs", "max_tfs", "min_dls")},
            **{k: pa.array(list(pp[k]), pa.binary()) for k in (
                "doc_bytes", "tf_bytes", "pos_bytes")},
        })
        seg = segment_tables(parts[c], postings, docs)
        return flush_segment(seg, seg_root, names[c], parts[c])

    rows = (
        child_post.groupby("child")
        .cogroup(child_dm.groupby("child"))
        .applyInPandas(write_child, schema=METRICS_SCHEMA)
        .collect()
    )
    children = manifest_entries(rows)
    kept = {k: v for k, v in manifest.segments.items() if k != seg_name}
    manifest.commit_replace(
        {**kept, **children},
        {
            "op": "split",
            "source": seg_name,
            "children": sorted(children),
            "router": f"fnv1a64(conv_id) % {n_children}",
            "rows": int(sum(r.n_docs for r in rows)),
        },
    )
    return manifest
