"""Vectorized posting-list codec: delta + varint, 128-doc blocks.

The Spark re-expression of Lucene's FOR-packed posting blocks
(``lucene/core/src/java/org/apache/lucene/codecs/lucene50/
Lucene50PostingsFormat.java`` + ``ForUtil.java``): postings are split
into fixed :data:`BLOCK_SIZE`-doc blocks; doc ordinals are
delta-encoded within each block (the block's first doc is stored
separately, giving a skip list — ``MultiLevelSkipListWriter`` analog —
via ``np.searchsorted`` over the first-doc array) and packed as LEB128
varints. Per-block ``max_tf``/``min_dl`` are the impact metadata
feeding block-max WAND upper bounds
(``lucene/core/src/java/org/apache/lucene/search/WANDScorer.java``,
``ImpactsEnum``).

Everything here is numpy-vectorized (no per-element Python loops except
over the ≤10 varint byte positions) — these functions run inside Arrow
UDF batches on executors.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def _varint_layout(v: np.ndarray) -> np.ndarray:
    """Per-value encoded byte length for LEB128."""
    nb = np.ones(len(v), np.int64)
    for k in range(1, 10):
        nb += (v >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    return nb


def pack_varint(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array. Vectorized over values;
    the loop runs over byte positions (≤10 for uint64)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    nb = _varint_layout(v)
    starts = np.cumsum(nb) - nb
    out = np.empty(int(nb.sum()), np.uint8)
    rem = v.copy()
    idx = starts.copy()
    active = np.ones(n, bool)
    while True:
        cur = rem[active]
        more = cur >= np.uint64(0x80)
        byte = (cur & np.uint64(0x7F)).astype(np.uint8)
        byte[more] |= np.uint8(0x80)
        out[idx[active]] = byte
        if not more.any():
            break
        rem[active] >>= np.uint64(7)
        idx[active] += 1
        nxt = active.copy()
        nxt[active] = more
        active = nxt
    return out.tobytes()


def unpack_varint(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a LEB128 stream to int64. Fully vectorized: value
    boundaries from the continuation bit, per-value accumulation via
    float64 bincount (exact below 2^53 — doc ords/tfs are far below)."""
    b = np.frombuffer(buf, np.uint8) if isinstance(buf, (bytes, bytearray)) else buf
    if len(b) == 0:
        return np.empty(0, np.int64)
    is_end = (b & 0x80) == 0
    ends = np.nonzero(is_end)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vid = np.cumsum(is_end) - is_end  # value index per byte
    shift = np.arange(len(b)) - starts[vid]
    contrib = (b & 0x7F).astype(np.float64) * np.exp2(7.0 * shift)
    return np.bincount(vid, weights=contrib, minlength=len(ends)).astype(np.int64)


def delta_encode(doc_ords: np.ndarray, first: int) -> np.ndarray:
    """Deltas within a block: d[0] = ords[0]-first(=0 by construction),
    d[i] = ords[i]-ords[i-1]. Strictly-increasing input → deltas ≥ 1
    after the first."""
    d = np.diff(doc_ords, prepend=np.int64(first))
    return d.astype(np.int64)


def pack_postings(doc_ords: np.ndarray, tfs: np.ndarray) -> dict:
    """Encode one (term, segment) posting list into block structure.

    Returns dict with: first_docs, doc_offs, tf_offs, max_tfs, min_dls
    placeholder (filled by caller that knows doc lengths), doc_bytes,
    tf_bytes. Offsets are byte starts per block → blocks decode
    independently (skip-list granularity).
    """
    n = len(doc_ords)
    n_blocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    first_docs = np.empty(n_blocks, np.int64)
    max_tfs = np.empty(n_blocks, np.int64)
    doc_chunks: list[bytes] = []
    tf_chunks: list[bytes] = []
    doc_offs = np.zeros(n_blocks, np.int64)
    tf_offs = np.zeros(n_blocks, np.int64)
    dpos = tpos = 0
    for blk in range(n_blocks):
        lo, hi = blk * BLOCK_SIZE, min(n, (blk + 1) * BLOCK_SIZE)
        ords = doc_ords[lo:hi]
        first_docs[blk] = ords[0]
        max_tfs[blk] = tfs[lo:hi].max()
        db = pack_varint(delta_encode(ords, int(ords[0])))
        tb = pack_varint(tfs[lo:hi])
        doc_offs[blk], tf_offs[blk] = dpos, tpos
        dpos += len(db)
        tpos += len(tb)
        doc_chunks.append(db)
        tf_chunks.append(tb)
    return {
        "first_docs": first_docs,
        "doc_offs": doc_offs,
        "tf_offs": tf_offs,
        "max_tfs": max_tfs,
        "doc_bytes": b"".join(doc_chunks),
        "tf_bytes": b"".join(tf_chunks),
        "n_blocks": n_blocks,
    }


def segmented_cumsum(vals: np.ndarray, seg_starts_mask: np.ndarray) -> np.ndarray:
    """Cumulative sum restarting wherever seg_starts_mask is True."""
    cs = np.cumsum(vals)
    seg_ids = np.cumsum(seg_starts_mask) - 1
    base = (cs - vals)[seg_starts_mask]  # running total just before each segment
    return cs - base[seg_ids]


def pack_all_postings_flat(
    term_starts: np.ndarray,
    doc_ords: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    positions: np.ndarray | None = None,
) -> dict:
    """Encode ALL posting lists in one pass, returning FLAT arrays +
    offset vectors (no per-term Python objects).

    This is the hot build path: per-term structure is expressed as
    offset arrays that map 1:1 onto Arrow List/Binary layouts, so the
    segment builder constructs its Arrow columns zero-copy instead of
    np.split-ing into T small arrays and re-concatenating (which cost
    ~half the inversion time at 32-way parallelism).

    Returns: n_terms; blk_offsets (T+1) into the flat per-block arrays
    first_docs / max_tfs / min_dls / doc_offs / tf_offs (term-relative
    byte offsets); term_d_offsets / term_t_offsets (T+1) byte ranges
    into doc_data / tf_data; with positions also pos_offs,
    term_p_offsets, pos_data.
    """
    n = len(doc_ords)
    n_terms = len(term_starts) - 1 if len(term_starts) else 0
    if n == 0 or n_terms <= 0:
        z = np.zeros(max(n_terms, 0) + 1, np.int64)
        e = np.empty(0, np.int64)
        return {
            "n_terms": max(n_terms, 0),
            "blk_offsets": z,
            "first_docs": e, "max_tfs": e, "min_dls": e,
            "doc_offs": e, "tf_offs": e, "pos_offs": e,
            "term_d_offsets": z, "term_t_offsets": z, "term_p_offsets": z,
            "doc_data": b"", "tf_data": b"", "pos_data": b"",
        }
    df = np.diff(term_starts)
    term_of = np.repeat(np.arange(n_terms), df)
    pos_in_term = np.arange(n) - term_starts[term_of]
    blk_first = (pos_in_term % BLOCK_SIZE) == 0
    blk_start_idx = np.nonzero(blk_first)[0]

    deltas = np.empty(n, np.int64)
    deltas[1:] = doc_ords[1:] - doc_ords[:-1]
    deltas[blk_first] = 0  # block-local: first doc kept in first_docs
    doc_stream = np.ascontiguousarray(deltas, dtype=np.uint64)
    tf_stream = np.ascontiguousarray(tfs, dtype=np.uint64)

    d_nb = _varint_layout(doc_stream)
    t_nb = _varint_layout(tf_stream)
    d_pos = np.cumsum(d_nb) - d_nb
    t_pos = np.cumsum(t_nb) - t_nb
    doc_all = pack_varint(doc_stream)
    tf_all = pack_varint(tf_stream)

    n_blocks_per_term = (df + BLOCK_SIZE - 1) // BLOCK_SIZE
    blk_offsets = np.zeros(n_terms + 1, np.int64)
    np.cumsum(n_blocks_per_term, out=blk_offsets[1:])
    blk_term = np.repeat(np.arange(n_terms), n_blocks_per_term)

    term_d_start = d_pos[term_starts[:-1]]
    term_t_start = t_pos[term_starts[:-1]]
    term_d_offsets = np.append(term_d_start, len(doc_all))
    term_t_offsets = np.append(term_t_start, len(tf_all))

    out = {
        "n_terms": n_terms,
        "blk_offsets": blk_offsets,
        "first_docs": doc_ords[blk_start_idx],
        "max_tfs": np.maximum.reduceat(tfs, blk_start_idx),
        "min_dls": np.minimum.reduceat(doc_lens, blk_start_idx),
        "doc_offs": d_pos[blk_start_idx] - term_d_start[blk_term],
        "tf_offs": t_pos[blk_start_idx] - term_t_start[blk_term],
        "term_d_offsets": term_d_offsets,
        "term_t_offsets": term_t_offsets,
        "doc_data": doc_all,
        "tf_data": tf_all,
    }
    if positions is not None:
        tok_starts = np.cumsum(tfs) - tfs
        pair_first_tok_mask = np.zeros(len(positions), bool)
        pair_first_tok_mask[tok_starts] = True
        pdeltas = np.empty(len(positions), np.int64)
        pdeltas[1:] = positions[1:] - positions[:-1]
        pdeltas[pair_first_tok_mask] = positions[pair_first_tok_mask]
        p_stream = np.ascontiguousarray(pdeltas, dtype=np.uint64)
        p_nb = _varint_layout(p_stream)
        p_pos = np.cumsum(p_nb) - p_nb
        pos_all = pack_varint(p_stream)
        term_p_start = p_pos[tok_starts[term_starts[:-1]]]
        out["pos_offs"] = p_pos[tok_starts[blk_start_idx]] - term_p_start[blk_term]
        out["term_p_offsets"] = np.append(term_p_start, len(pos_all))
        out["pos_data"] = pos_all
    return out


def unpack_positions(
    pos_offs: np.ndarray,
    pos_bytes: bytes,
    block_tfs: np.ndarray,
    blocks: np.ndarray,
    n_blocks: int,
) -> np.ndarray:
    """Decode the position stream for selected blocks.

    `block_tfs` must be the decoded tfs of exactly those blocks (posting
    order). Returns the flat positions array aligned with the tokens of
    the selected blocks' postings (use cumsum(tf) boundaries to slice
    per posting).
    """
    pos_ends = np.append(pos_offs[1:], len(pos_bytes))
    buf = np.frombuffer(pos_bytes, np.uint8)
    chunks = [unpack_varint(buf[pos_offs[b] : pos_ends[b]]) for b in blocks]
    if not chunks:
        return np.empty(0, np.int64)
    deltas = np.concatenate(chunks)
    starts_mask = np.zeros(len(deltas), bool)
    starts_mask[np.cumsum(block_tfs) - block_tfs] = True
    return segmented_cumsum(deltas, starts_mask)


def unpack_postings(
    first_docs: np.ndarray,
    doc_offs: np.ndarray,
    tf_offs: np.ndarray,
    doc_bytes: bytes,
    tf_bytes: bytes,
    blocks: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode selected blocks (all when `blocks` is None) of one posting
    list → (doc_ords, tfs). Selective decode is what WAND's block skip
    buys: untouched byte ranges are never parsed."""
    n_blocks = len(first_docs)
    if blocks is None:
        blocks = np.arange(n_blocks)
    if len(blocks) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    doc_ends = np.append(doc_offs[1:], len(doc_bytes))
    tf_ends = np.append(tf_offs[1:], len(tf_bytes))
    outs_d: list[np.ndarray] = []
    outs_t: list[np.ndarray] = []
    dbuf = np.frombuffer(doc_bytes, np.uint8)
    tbuf = np.frombuffer(tf_bytes, np.uint8)
    for blk in blocks:
        deltas = unpack_varint(dbuf[doc_offs[blk] : doc_ends[blk]])
        deltas[0] = first_docs[blk]
        outs_d.append(np.cumsum(deltas))
        outs_t.append(unpack_varint(tbuf[tf_offs[blk] : tf_ends[blk]]))
    return np.concatenate(outs_d), np.concatenate(outs_t)


def _binary_column(col) -> tuple[np.ndarray, np.ndarray]:
    """(row byte offsets (n+1, from 0), concatenated bytes) of a whole
    binary column."""
    arr = col.combine_chunks()
    n = len(arr)
    _validity, offs_buf, data_buf = arr.buffers()
    offs = np.frombuffer(offs_buf, np.int32)[arr.offset : arr.offset + n + 1].astype(np.int64)
    if data_buf is None or n == 0:
        return np.zeros(n + 1, np.int64), np.empty(0, np.uint8)
    data = np.frombuffer(data_buf, np.uint8)[offs[0] : offs[-1]]
    return offs - offs[0], data


def _list_column(col) -> tuple[np.ndarray, np.ndarray]:
    """(row offsets (n+1, from 0), flat int64 values) of a whole list
    column."""
    arr = col.combine_chunks()
    offs = arr.offsets.to_numpy().astype(np.int64)
    return offs - offs[0], arr.flatten().to_numpy().astype(np.int64)


def unpack_segment(postings) -> dict:
    """Decode a whole postings table (pyarrow) in one pass — the
    inverse of :func:`pack_all_postings_flat`, for writers that rewrite
    a segment (merge, split).

    Each byte column is one varint stream, so it is decoded with ONE
    :func:`unpack_varint` call. Block starts come from ``doc_offs``
    (term-relative byte offsets → value indices), not from
    ``BLOCK_SIZE``, so short blocks decode too; each block's first
    delta is replaced by its ``first_docs`` entry and the doc deltas
    are summed per block. Positions restart at every posting.

    Returns term_starts (T+1, into the posting arrays), docs and tfs
    (one per posting, term-major) and positions (one per token, in
    posting order)."""
    df = postings["df"].to_numpy().astype(np.int64)
    term_starts = np.zeros(len(df) + 1, np.int64)
    np.cumsum(df, out=term_starts[1:])

    term_d, doc_data = _binary_column(postings["doc_bytes"])
    deltas = unpack_varint(doc_data)
    blk_rows, blk_offs = _list_column(postings["doc_offs"])
    blk_term = np.repeat(np.arange(len(df)), np.diff(blk_rows))
    ends_before = np.zeros(len(doc_data) + 1, np.int64)
    np.cumsum((doc_data & 0x80) == 0, out=ends_before[1:])
    blk_start = ends_before[term_d[blk_term] + blk_offs]
    deltas[blk_start] = _list_column(postings["first_docs"])[1]
    starts_mask = np.zeros(len(deltas), bool)
    starts_mask[blk_start] = True
    docs = segmented_cumsum(deltas, starts_mask)

    tfs = unpack_varint(_binary_column(postings["tf_bytes"])[1])
    pdeltas = unpack_varint(_binary_column(postings["pos_bytes"])[1])
    tok_mask = np.zeros(len(pdeltas), bool)
    tok_mask[np.cumsum(tfs) - tfs] = True
    positions = segmented_cumsum(pdeltas, tok_mask)
    if not len(docs) == len(tfs) == term_starts[-1] or len(positions) != tfs.sum():
        raise ValueError("postings table decodes to inconsistent doc, tf and position counts")
    return {"term_starts": term_starts, "docs": docs, "tfs": tfs, "positions": positions}
