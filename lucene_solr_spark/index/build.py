"""Distributed segment build (SURVEY §3.1 re-expression; S7 + W7 + N2).

The Spark analog of Lucene's write path
(``IndexWriter`` / ``DocumentsWriterPerThread`` / ``FreqProxTermsWriter``):

- the transcripts table is hash-partitioned on ``conv_id`` into
  ``num_parts`` logical partitions (CompositeIdRouter murmur routing
  analog — keeps conversations whole for block joins),
- each partition becomes one immutable **segment** built share-nothing
  inside ``applyInPandas`` (the DWPT analog: per-task in-RAM inversion,
  flushed once),
- docs are sorted by ``(conv_id, turn_idx)`` before ordinal assignment
  (index-time sort, ``IndexWriterConfig#setIndexSort``), so
  ``doc_ord`` is a stable dense int and per-turn text equality under
  that ordering is preserved end-to-end,
- each task writes its own segment directory (postings / docmap /
  facet dictionaries as Parquet) directly — the Iceberg writer
  pattern: executors write data files, the driver commits metadata —
  and returns only a metrics row,
- the driver then atomically publishes ``manifest/snapshot-N.json``
  (two-phase commit, ``SegmentInfos#commit`` analog). Killing the job
  mid-build loses nothing already committed; resume recomputes only
  partitions absent from the manifest.

Everything inside the task is numpy/pandas-vectorized: tokenize →
explode → factorize → lexsort → run-length tf → one-shot varint pack
(:func:`postings_table`). No per-row Python.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.analyzer import tokenize_pandas
from lucene_solr_spark.index import codec
from lucene_solr_spark.index.manifest import Manifest

NUM_BUCKETS = 1024  # term hash buckets (partition-pruning key)

METRICS_SCHEMA = (
    "part int, seg_name string, n_docs long, sum_dl long, max_dl long, "
    "n_terms long, n_postings long, n_tokens long, bytes long"
)

FACET_FIELDS = ("role", "tool", "ftok")

#: per-doc columns a segment is finished from (``segment_tables``)
DOC_COLUMNS = ("conv_id", "turn_idx", "doc_len", "role", "tool", "ftok", "ts")


# FNV-1a 64-bit (format v2, VERDICT r2 item 6: the crc32 generator was
# the last non-vectorized loop in the build hot path)
_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3


def term_bucket(term: str) -> int:
    """Deterministic, process-stable term→bucket hash (FNV-1a 64,
    format v2) — scalar spelling of :func:`_bucket_array`."""
    h = _FNV_OFFSET
    for byte in term.encode("utf-8"):
        h = ((h ^ byte) * _FNV_PRIME) & 0xFFFFFFFFFFFFFFFF
    return h % NUM_BUCKETS


def _fnv64_array(values: np.ndarray) -> np.ndarray:
    """Vectorized FNV-1a 64 over a fixed-width byte matrix: the Python
    loop runs over byte COLUMNS (bounded by the longest string), never
    over rows. NUL padding from the fixed-width encode is treated as
    end-of-string (tokens and conv ids never contain NUL). Returns the
    raw uint64 hashes — term buckets and the split router both reduce
    them with their own modulus."""
    if len(values) == 0:
        return np.empty(0, np.uint64)
    enc = np.char.encode(np.asarray(values, dtype="U"), "utf-8")
    width = enc.dtype.itemsize
    mat = np.frombuffer(enc.tobytes(), np.uint8).reshape(len(values), width)
    h = np.full(len(values), _FNV_OFFSET, np.uint64)
    prime = np.uint64(_FNV_PRIME)
    with np.errstate(over="ignore"):
        for j in range(width):
            col = mat[:, j]
            live = col != 0
            if not live.any():
                break
            h = np.where(live, (h ^ col.astype(np.uint64)) * prime, h)
    return h


def _bucket_array(terms: np.ndarray) -> np.ndarray:
    """Deterministic term→bucket hashes (FNV-1a 64 mod NUM_BUCKETS,
    format v2) — vectorized spelling of :func:`term_bucket`."""
    if len(terms) == 0:
        return np.empty(0, np.int32)
    return (_fnv64_array(terms) % np.uint64(NUM_BUCKETS)).astype(np.int32)


def _ordinals(values: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """SORTED-docvalues ordinal encoding: values → (ord per doc, sorted
    unique terms). Nulls get ord -1 (Lucene 'missing')."""
    codes, uniques = pd.factorize(values)
    if len(uniques) == 0:
        return codes.astype(np.int32), np.array([], dtype=object)
    order = np.argsort(uniques)
    rank = np.empty(len(uniques), np.int64)
    rank[order] = np.arange(len(uniques))
    out = np.where(codes >= 0, rank[np.clip(codes, 0, None)], -1).astype(np.int32)
    return out, np.asarray(uniques)[order]


def build_segment_pdf(pdf: pd.DataFrame, seg_id: int = 0, analyzer=None) -> dict:
    """Invert one partition of transcripts into in-memory segment tables.

    Returns dict with pyarrow tables: postings, docmap, dicts, and a
    metrics dict. Pure function — unit-testable without Spark.

    `analyzer`: vectorized ``pd.Series[str] -> pd.Series[list[str]]``
    stage (default: the pinned tokenizer). Passing a filter chain
    (``analyzer.chain(...)``) builds a chained index; its version
    string MUST be recorded in the manifest and re-used at query time
    (the Analyzer invariant — guarded by IndexSearcher).
    """
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    toks = (analyzer or tokenize_pandas)(pdf["text"])
    doc_len = toks.str.len().to_numpy(np.int64)

    flat = toks.explode().dropna()
    doc_idx = flat.index.to_numpy(np.int64)
    n_tokens = len(flat)
    # within-doc token position
    tok_start = np.cumsum(doc_len) - doc_len
    positions = np.arange(n_tokens, dtype=np.int64) - tok_start[doc_idx]

    codes, uniques = pd.factorize(flat.to_numpy(object))
    order = np.argsort(uniques) if len(uniques) else np.empty(0, np.int64)
    rank = np.empty(len(uniques), np.int64)
    rank[order] = np.arange(len(uniques))
    terms_sorted = np.asarray(uniques, dtype=object)[order] if len(uniques) else np.array([], object)
    term_codes = rank[codes]

    srt = np.lexsort((positions, doc_idx, term_codes))
    t_s, d_s, p_s = term_codes[srt], doc_idx[srt], positions[srt]

    # run-length over (term, doc) = postings with tf
    new_run = np.ones(n_tokens, bool)
    new_run[1:] = (t_s[1:] != t_s[:-1]) | (d_s[1:] != d_s[:-1])
    run_starts = np.flatnonzero(new_run)
    tf = np.diff(np.append(run_starts, n_tokens)).astype(np.int64)
    p_term = t_s[run_starts]
    term_change = np.ones(len(run_starts), bool)
    term_change[1:] = p_term[1:] != p_term[:-1]
    term_starts = np.append(np.flatnonzero(term_change), len(run_starts))
    postings = postings_table(
        seg_id, terms_sorted, term_starts, d_s[run_starts], tf, doc_len, p_s
    )

    ftok = pd.Series(
        [t[0] if len(t) else None for t in toks], index=pdf.index, dtype=object
    )
    docs = pdf[["conv_id", "turn_idx", "role", "tool", "ts"]].assign(
        doc_len=doc_len, ftok=ftok
    )
    return segment_tables(seg_id, postings, docs)


def postings_table(
    seg_id: int,
    terms: np.ndarray,
    term_starts: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    positions: np.ndarray,
) -> pa.Table:
    """Pack one segment's postings into its ``postings`` table — the
    one postings constructor of build, merge and split.

    ``terms`` are sorted; ``term_starts`` (T+1) cut the term-major
    ``docs``/``tfs`` (one per posting, docs ascending within a term);
    ``doc_lens`` is per doc (indexed by ``docs``); ``positions`` are
    per token in posting order. Arrow columns come straight from the
    flat codec output: its offset vectors ARE the Arrow List/Binary
    layouts (no per-term Python)."""
    term_starts = np.asarray(term_starts, np.int64)
    packed = codec.pack_all_postings_flat(
        term_starts, docs, tfs, np.asarray(doc_lens, np.int64)[docs], positions
    )
    blk_offs = pa.array(packed["blk_offsets"].astype(np.int32))

    def _la(flat: np.ndarray) -> pa.Array:
        return pa.ListArray.from_arrays(blk_offs, pa.array(np.asarray(flat).astype(np.int32)))

    def _ba(term_offs: np.ndarray, data: bytes) -> pa.Array:
        return pa.Array.from_buffers(
            pa.binary(),
            len(term_offs) - 1,
            [None, pa.py_buffer(term_offs.astype(np.int32).tobytes()), pa.py_buffer(data)],
        )

    cf = np.add.reduceat(tfs, term_starts[:-1]) if len(tfs) else np.empty(0)
    return pa.table(
        {
            "seg_id": pa.array(np.full(len(terms), seg_id, np.int32)),
            "bucket": pa.array(_bucket_array(terms), pa.int32()),
            "term": pa.array(np.asarray(terms, object).astype(str) if len(terms) else [], pa.string()),
            "df": pa.array(np.diff(term_starts).astype(np.int32)),
            "cf": pa.array(cf.astype(np.int64)),
            "first_docs": _la(packed["first_docs"]),
            "doc_offs": _la(packed["doc_offs"]),
            "tf_offs": _la(packed["tf_offs"]),
            "pos_offs": _la(packed["pos_offs"]),
            "max_tfs": _la(packed["max_tfs"]),
            "min_dls": _la(packed["min_dls"]),
            "doc_bytes": _ba(packed["term_d_offsets"], packed["doc_data"]),
            "tf_bytes": _ba(packed["term_t_offsets"], packed["tf_data"]),
            "pos_bytes": _ba(packed["term_p_offsets"], packed["pos_data"]),
        }
    )


def unsorted_row(conv_ids, turn_idx) -> int:
    """First row (≥1) whose ``(conv_id, turn_idx)`` sorts before the
    row above it, or -1 when the rows are in index-sort order."""
    c = np.asarray(conv_ids, object)
    t = np.asarray(turn_idx, np.int64)
    ok = (c[1:] > c[:-1]) | ((c[1:] == c[:-1]) & (t[1:] >= t[:-1]))
    bad = np.flatnonzero(~ok)
    return int(bad[0]) + 1 if len(bad) else -1


def segment_tables(seg_id: int, postings: pa.Table, docs: pd.DataFrame) -> dict:
    """Finish one segment from its postings and its per-doc columns
    (``DOC_COLUMNS``) — the table assembly that build, merge and split
    share. ``doc_ord`` is the row position, so the docs must arrive in
    the index sort ``(conv_id, turn_idx)`` (``IndexWriterConfig#
    setIndexSort``; ``early_topk`` streams segment heads on it) — a
    writer that breaks it raises here. Facet ordinals and dictionaries
    are re-derived per segment (Lucene's SORTED doc values: ords are
    segment-local). Returns the tables :func:`write_segment` takes
    plus the manifest metrics."""
    row = unsorted_row(docs["conv_id"].astype(str), docs["turn_idx"])
    if row >= 0:
        raise ValueError(
            f"segment {seg_id}: docs not in (conv_id, turn_idx) order at row {row}"
        )
    n_docs = len(docs)
    ords: dict[str, np.ndarray] = {}
    dict_rows: list[pd.DataFrame] = []
    for fld in FACET_FIELDS:
        o, uq = _ordinals(docs[fld])
        ords[fld] = o
        dict_rows.append(
            pd.DataFrame(
                {
                    "field": fld,
                    "term_ord": np.arange(len(uq), dtype=np.int32),
                    "term": uq.astype(str) if len(uq) else np.array([], object),
                }
            )
        )
    dict_pdf = pd.concat(dict_rows, ignore_index=True)
    dict_pdf.insert(0, "seg_id", np.int32(seg_id))
    dicts = pa.Table.from_pandas(dict_pdf, preserve_index=False)

    doc_len = docs["doc_len"].to_numpy(np.int64)
    docmap = pa.table(
        {
            "seg_id": pa.array(np.full(n_docs, seg_id, np.int32)),
            "doc_ord": pa.array(np.arange(n_docs, dtype=np.int32)),
            "conv_id": pa.array(docs["conv_id"].astype(str)),
            "turn_idx": pa.array(docs["turn_idx"].to_numpy(np.int32)),
            "doc_len": pa.array(doc_len.astype(np.int32)),
            "role": pa.array(docs["role"], pa.string()),
            "tool": pa.array(docs["tool"], pa.string()),
            "ftok": pa.array(docs["ftok"], pa.string()),
            "ts": pa.array(pd.to_datetime(docs["ts"])).cast(pa.timestamp("us")),
            "role_ord": pa.array(ords["role"]),
            "tool_ord": pa.array(ords["tool"]),
            "ftok_ord": pa.array(ords["ftok"]),
        }
    )

    def total(values) -> int:
        return int(pc.sum(values).as_py() or 0)

    metrics = {
        "n_docs": int(n_docs),
        "sum_dl": int(doc_len.sum()),
        "max_dl": int(doc_len.max()) if n_docs else 0,
        "n_terms": postings.num_rows,
        "n_postings": total(postings["df"]),
        "n_tokens": total(postings["cf"]),
        "bytes": sum(
            total(pc.binary_length(postings[c]))
            for c in ("doc_bytes", "tf_bytes", "pos_bytes")
        ),
    }
    return {"postings": postings, "docmap": docmap, "dicts": dicts, "metrics": metrics}


def write_segment(seg: dict, seg_dir: str) -> None:
    """Write one segment's tables. Row groups of 4k keep term-range
    pruning effective (Parquet min/max stats = BKD/terms-dict analog)."""
    tmp = seg_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(seg["postings"], f"{tmp}/postings.parquet", row_group_size=4096)
    pq.write_table(seg["docmap"], f"{tmp}/docmap.parquet", row_group_size=65536)
    pq.write_table(seg["dicts"], f"{tmp}/dicts.parquet", row_group_size=65536)
    if os.path.isdir(seg_dir):
        import shutil

        shutil.rmtree(seg_dir)
    os.rename(tmp, seg_dir)


def flush_segment(seg: dict, seg_root: str, seg_name: str, part: int) -> pd.DataFrame:
    """Write one segment and return its one-row ``METRICS_SCHEMA``
    frame — a writer task's only output (executors write data files,
    the driver commits metadata)."""
    write_segment(seg, os.path.join(seg_root, seg_name))
    return pd.DataFrame([{"part": part, "seg_name": seg_name, **seg["metrics"]}])


def manifest_entries(rows) -> dict[str, dict]:
    """Collected ``METRICS_SCHEMA`` rows → manifest segment entries."""
    return {
        r.seg_name: {k: v for k, v in r.asDict().items() if k != "seg_name"}
        for r in rows
    }


def _check_append_format(manifest: Manifest, out_root: str) -> None:
    """Appends must not mix bucket layouts within one index: a
    committed index on an older format stays readable, but new
    segments would cluster terms differently — rebuild instead."""
    from lucene_solr_spark.index.manifest import CURRENT_FORMAT

    if manifest.segments and manifest.format_version != CURRENT_FORMAT:
        raise ValueError(
            f"index at {out_root} is format v{manifest.format_version}; "
            f"this writer emits v{CURRENT_FORMAT} — rebuild the index "
            "instead of appending"
        )


#: chunked part-id space: part = partition_id * CHUNK_STRIDE + chunk
CHUNK_STRIDE = 4096


def build_index_prepartitioned(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    resume: bool = True,
    lineage_source: str = "",
    max_docs_per_segment: int = 65536,
) -> Manifest:
    """Shuffle-free index build for pre-partitioned input (SURVEY §3.1).

    When the transcripts table is already laid out by conversation —
    the Iceberg ``bucket(conv_id)`` / date partitioning the north star
    assumes — repartitioning before inversion is pure waste: each scan
    split is inverted in place by ``mapInPandas`` (one task = one DWPT
    = one segment), making the build embarrassingly parallel: scan →
    tokenize → invert → write, no wide dependency anywhere. This is
    the 100 TB build path; :func:`build_index` (hash repartition) is
    the fallback for unorganized input.

    Resume: committed partition ids are skipped (their iterators are
    drained without work — input pruning would need source-side
    lineage, which the manifest records for the Iceberg case).
    """
    manifest = Manifest.load(out_root)
    _check_append_format(manifest, out_root)
    done = manifest.committed_parts() if resume else set()
    # resume granularity = whole input partition: a job's manifest
    # commit is atomic, so a partition's chunks are all-or-nothing
    done_pids = {p // CHUNK_STRIDE for p in done}
    seg_root = os.path.join(out_root, "segments")
    os.makedirs(seg_root, exist_ok=True)
    max_docs = max_docs_per_segment

    def build_parts(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if pid in done_pids:
            return

        def flush(pdf: pd.DataFrame, chunk: int) -> pd.DataFrame:
            part = pid * CHUNK_STRIDE + chunk
            seg = build_segment_pdf(pdf, seg_id=part)
            return flush_segment(seg, seg_root, f"seg_{part:08d}", part)

        # bound per-segment memory: flush every max_docs rows instead
        # of concatenating an arbitrarily large input split (the
        # ramBufferSizeMB flush trigger, by doc count)
        buf: list[pd.DataFrame] = []
        n_buf = 0
        chunk = 0
        for c in it:
            if not len(c):
                continue
            buf.append(c)
            n_buf += len(c)
            if n_buf >= max_docs:
                yield flush(pd.concat(buf, ignore_index=True), chunk)
                buf, n_buf = [], 0
                chunk += 1
        if n_buf:
            yield flush(pd.concat(buf, ignore_index=True), chunk)

    rows = transcripts.mapInPandas(build_parts, METRICS_SCHEMA).collect()
    new_segments = manifest_entries(rows)
    if new_segments:
        manifest.commit(
            new_segments,
            {
                "source": lineage_source,
                "mode": "prepartitioned",
                "parts_built": [r.part for r in rows],
                "rows": int(sum(r.n_docs for r in rows)),
            },
        )
    return manifest


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    num_parts: int = 32,
    resume: bool = True,
    lineage_source: str = "",
    part_offset: int = 0,
    seg_prefix: str = "",
    extra_lineage: dict | None = None,
    analyzer=None,
    analyzer_version: str | None = None,
) -> Manifest:
    """Build (or resume building) the inverted index for a transcripts DF.

    ``part_offset``/``seg_prefix`` give appended builds (streaming
    micro-batches, N1) a disjoint segment-id/name space so snapshots
    accumulate segments instead of colliding.

    ``analyzer``/``analyzer_version``: non-default analysis chain; the
    version is pinned in the manifest, and appending to an existing
    index under a DIFFERENT version raises (mixed-analyzer segments
    would silently break term matching — the Analyzer invariant).
    """
    manifest = Manifest.load(out_root)
    version = analyzer_version or Manifest.analyzer_version
    if manifest.segments and manifest.analyzer_version != version:
        raise ValueError(
            f"index at {out_root} was built with analyzer "
            f"{manifest.analyzer_version!r}; cannot append with {version!r}"
        )
    manifest.analyzer_version = version
    _check_append_format(manifest, out_root)
    done = manifest.committed_parts() if resume else set()

    with_part = transcripts.withColumn(
        "part",
        (F.pmod(F.xxhash64("conv_id"), F.lit(num_parts)).cast("int")
         + F.lit(part_offset)),
    )
    todo = [p for p in range(part_offset, part_offset + num_parts) if p not in done]
    if not todo:
        return manifest
    if done:
        with_part = with_part.filter(~F.col("part").isin(list(done)))

    seg_root = os.path.join(out_root, "segments")
    os.makedirs(seg_root, exist_ok=True)

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["part"].iloc[0])
        seg = build_segment_pdf(pdf.drop(columns=["part"]), seg_id=part, analyzer=analyzer)
        return flush_segment(seg, seg_root, f"{seg_prefix}seg_{part:05d}", part)

    rows = (
        with_part.groupBy("part")
        .applyInPandas(build_group, schema=METRICS_SCHEMA)
        .collect()
    )
    manifest.commit(
        manifest_entries(rows),
        {
            "source": lineage_source,
            "num_parts": num_parts,
            "parts_built": [r.part for r in rows],
            "rows": int(sum(r.n_docs for r in rows)),
            **(extra_lineage or {}),
        },
    )
    return manifest
