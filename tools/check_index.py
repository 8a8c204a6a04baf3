#!/usr/bin/env python
"""CheckIndex analog — validate a committed index on disk.

Lucene ships ``org.apache.lucene.index.CheckIndex`` (run via
``java -cp lucene-core.jar org.apache.lucene.index.CheckIndex <dir>``)
to verify segment structure: posting lists decode, docs are strictly
increasing, term dictionaries are sorted, per-segment stats match a
recount, and docs follow the index sort. This is that tool for the
engine's manifest/segment layout — the same invariants the build/merge
test suites pin, packaged as an ops command a user can point at any
index root.

Spark-first shape: one task PER SEGMENT (``mapInPandas`` over the
manifest's segment list); every task reads its own segment's Parquet —
the engine's query-path pattern — and returns one bounded report row,
so a 10k-segment index validates as one embarrassingly-parallel job
with a segment-count-bounded collect. ``--deep`` additionally decodes
EVERY posting list (CheckIndex's default); without it only structure +
stats recounts run (CheckIndex ``-fast`` analog).

Usage:
    python tools/check_index.py <index_root> [--deep] [--snapshot N]

Prints ONE JSON line: {"ok": bool, "segments": N, "errors": [...]}.
Exit code 0 iff clean. Never writes (segments are immutable; there is
no -exorcise here — a broken segment means rebuild or drop-snapshot).

ref: lucene/core/src/java/org/apache/lucene/index/CheckIndex.java
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections.abc import Iterator

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def check_segment(seg_dir: str, seg_meta: dict, deep: bool,
                  format_version: int = 2) -> list[str]:
    """All structural invariants for ONE segment; returns error list
    (empty = clean). Pure pandas/numpy — runs inside an executor task.
    """
    import numpy as np
    import pandas as pd

    from lucene_solr_spark.index import codec
    from lucene_solr_spark.index.build import term_bucket, unsorted_row

    errs: list[str] = []
    name = os.path.basename(seg_dir)
    try:
        dm = pd.read_parquet(f"{seg_dir}/docmap.parquet")
        p = pd.read_parquet(f"{seg_dir}/postings.parquet")
    except Exception as e:  # noqa: BLE001 — report, don't crash the job
        return [f"{name}: unreadable segment files: {e}"]

    # stats must match a recount (metrics lineage contract)
    if seg_meta.get("n_docs") != len(dm):
        errs.append(f"{name}: n_docs {seg_meta.get('n_docs')} != docmap "
                    f"rows {len(dm)}")
    if seg_meta.get("sum_dl") != int(dm["doc_len"].sum()):
        errs.append(f"{name}: sum_dl mismatch")
    if "max_dl" in seg_meta and len(dm) and \
            seg_meta["max_dl"] != int(dm["doc_len"].max()):
        errs.append(f"{name}: max_dl mismatch")
    if seg_meta.get("n_terms") != len(p):
        errs.append(f"{name}: n_terms {seg_meta.get('n_terms')} != "
                    f"dictionary rows {len(p)}")
    if seg_meta.get("n_postings") != int(p["df"].sum()):
        errs.append(f"{name}: n_postings != sum(df)")

    # docmap: ordinals must be the contiguous 0..n-1 identity (the
    # scorer's positional decode depends on it), in index-sort order
    # (early_topk streams segment heads on it)
    if "doc_ord" in dm.columns:
        ords = dm["doc_ord"].to_numpy()
        if not np.array_equal(np.sort(ords), np.arange(len(ords))):
            errs.append(f"{name}: doc_ord not a 0..n-1 permutation")
        srt = dm.sort_values("doc_ord")
        row = unsorted_row(srt["conv_id"].astype(str), srt["turn_idx"])
        if row >= 0:
            errs.append(f"{name}: docmap not in (conv_id, turn_idx) order "
                        f"at doc_ord {row}")

    # dictionary: sorted terms, positive df, bucket routing intact
    terms = p["term"].tolist()
    if terms != sorted(terms):
        errs.append(f"{name}: term dictionary not sorted")
    if not (p["df"] > 0).all():
        errs.append(f"{name}: zero/negative df rows")
    # bucket routing is layout-versioned: only the CURRENT FNV-1a
    # layout (format v2) is recomputable here; v1 stays readable but
    # its buckets are checked structurally (sorted dict) only
    if "bucket" in p.columns and format_version >= 2:
        bad_b = [t for t, b in zip(terms, p["bucket"])
                 if b != term_bucket(t)]
        if bad_b:
            errs.append(f"{name}: {len(bad_b)} bucket-routing "
                        f"mismatches (e.g. {bad_b[:3]})")

    if not deep:
        return errs

    # deep: decode EVERY posting list (CheckIndex default mode)
    n_docs = len(dm)
    for _, r in p.iterrows():
        try:
            docs, tfs = codec.unpack_postings(
                np.array(r.first_docs, np.int64),
                np.array(r.doc_offs, np.int64),
                np.array(r.tf_offs, np.int64),
                r.doc_bytes, r.tf_bytes,
            )
        except Exception as e:  # noqa: BLE001
            errs.append(f"{name}/{r.term}: postings decode failed: {e}")
            continue
        if len(docs) != r.df:
            errs.append(f"{name}/{r.term}: decoded {len(docs)} docs, "
                        f"df says {r.df}")
        if len(docs) and (np.diff(docs) <= 0).any():
            errs.append(f"{name}/{r.term}: doc ords not strictly "
                        "increasing")
        if len(docs) and (docs[-1] >= n_docs or docs[0] < 0):
            errs.append(f"{name}/{r.term}: doc ord out of [0, n_docs)")
        if int(tfs.sum()) != int(r.cf):
            errs.append(f"{name}/{r.term}: sum(tf) != cf")
        # a block's tfs start after the varints that end before its
        # tf_offs entry: blocks hold <= BLOCK_SIZE docs, and a merged
        # list keeps each source run's short last block
        mts = np.array(r.max_tfs)
        tbuf = np.frombuffer(r.tf_bytes, np.uint8)
        n_before = np.append(0, np.cumsum((tbuf & 0x80) == 0))
        starts = n_before[np.array(r.tf_offs, np.int64)]
        sizes = np.diff(np.append(starts, len(tfs)))
        if len(starts) != len(mts) or not (
                (sizes >= 1) & (sizes <= codec.BLOCK_SIZE)).all():
            errs.append(f"{name}/{r.term}: block layout broken")
        elif len(mts):
            stale = np.flatnonzero(np.maximum.reduceat(tfs, starts) != mts)
            if len(stale):
                errs.append(f"{name}/{r.term}: block-max tf stale "
                            f"(block {stale[0]})")
    return errs


def check_index(spark, root: str, deep: bool = False,
                snapshot_id: int | None = None) -> dict:
    """Run the full check; returns the report dict (see module doc)."""
    from lucene_solr_spark.index.deletes import MAX_TOMBSTONES
    from lucene_solr_spark.index.manifest import Manifest

    errors: list[str] = []
    try:
        m = Manifest.load(root, snapshot_id=snapshot_id)
    except Exception as e:  # noqa: BLE001
        return {"ok": False, "segments": 0,
                "errors": [f"manifest unreadable: {e}"]}
    if not m.segments:
        return {"ok": True, "segments": 0, "errors": [],
                "note": "empty index (no committed segments)"}

    # global: tombstone budget + duplicate part ids
    n_tomb = int((m.tombstones or {}).get("n", 0)) \
        if isinstance(m.tombstones, dict) else 0
    if n_tomb > MAX_TOMBSTONES:
        errors.append(f"tombstones over budget: {n_tomb}")
    parts = [s["part"] for s in m.segments.values()]
    if len(parts) != len(set(parts)):
        errors.append("duplicate segment part ids in manifest")

    fmt_v = int(getattr(m, "format_version", 1))
    seg_rows = [(name, os.path.join(root, "segments", name),
                 json.dumps(meta))
                for name, meta in sorted(m.segments.items())]
    seg_df = spark.createDataFrame(
        seg_rows, "name string, dir string, meta string"
    ).repartition(len(seg_rows))

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                errs = check_segment(row.dir, json.loads(row.meta), deep,
                                     format_version=fmt_v)
                out.append((row.name, len(errs), json.dumps(errs)))
            yield pd.DataFrame(out, columns=["name", "n_errs", "errs"])

    rep = seg_df.mapInPandas(
        run, "name string, n_errs int, errs string"
    ).collect()  # bounded: one row per segment
    for r in sorted(rep, key=lambda x: x.name):
        errors.extend(json.loads(r.errs))
    return {
        "ok": not errors,
        "segments": len(seg_rows),
        "deep": deep,
        "tombstones": n_tomb,
        "errors": errors[:50],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("root")
    ap.add_argument("--deep", action="store_true")
    ap.add_argument("--snapshot", type=int, default=None)
    args = ap.parse_args(argv)

    from lucene_solr_spark.session import get_spark

    report = check_index(get_spark("check-index"), args.root,
                         deep=args.deep, snapshot_id=args.snapshot)
    print(json.dumps(report))
    return 0 if report["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
