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
  (the format-v2 term-bucket hash) mod n_children: deterministic and
  process-stable.
- **One rewriter.** Each child is a one-source tier of
  ``merge.merge_tier`` whose ``keep`` admits the child's
  conversations: decode the source whole, drop the other children's
  docs and postings, renumber the rest in index-sort order and repack
  through the build's packer — Solr's SolrIndexSplitter likewise
  rewrites each sub-index. A doc subset breaks both the doc-delta
  stream and the 128-doc block boundaries, so the re-encode is
  inherent; running it vectorized over the whole segment keeps it
  cheap.
- **Global BM25 stats are unchanged** (df/cf/avgdl are index-wide
  sums over segments; splitting one segment re-partitions, never
  re-weights), so results stay rank-identical — pinned by the duel.
- **Tombstones are business-key masks carried OUTSIDE segments** —
  untouched, still applied at every docmap read site afterwards.

Physical: ``spark.range(n_children).mapInPandas`` — one stage, no
exchange, one task per child, each reading the source segment itself.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import SparkSession

from lucene_solr_spark.index.build import (
    METRICS_SCHEMA,
    _fnv64_array,
    flush_segment,
    manifest_entries,
)
from lucene_solr_spark.index.manifest import Manifest
from lucene_solr_spark.index.merge import merge_tier


def route_convs(conv_ids: np.ndarray, n_children: int) -> np.ndarray:
    """conv_id → child (FNV-1a 64 mod n_children) — the HashBasedRouter
    analog."""
    return (_fnv64_array(conv_ids) % np.uint64(n_children)).astype(np.int8)


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
    seg_root = os.path.join(index_root, "segments")
    seg_dir = os.path.join(seg_root, seg_name)
    max_part = max(int(s["part"]) for s in manifest.segments.values())

    def run(batches):
        for batch in batches:
            for c in batch["id"].tolist():
                part = max_part + 1 + c

                def keep(docs, c=c):
                    return route_convs(docs["conv_id"].to_numpy().astype("U"), n_children) == c

                seg = merge_tier([seg_dir], part, keep)
                # a child no conversation routes to is not written
                if seg["metrics"]["n_docs"]:
                    yield flush_segment(seg, seg_root, f"split_{part:05d}", part)

    rows = spark.range(0, n_children, 1, n_children).mapInPandas(run, METRICS_SCHEMA).collect()
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
