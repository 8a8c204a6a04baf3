"""Codec round-trip suite — BasePostingsFormatTestCase analog
(SURVEY §5): random posting lists encode→decode to exact equality;
block-max metadata dominates true block maxima."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.index import codec

SEEDS = [0, 1, 7, 42, 1234]


@pytest.mark.parametrize("seed", SEEDS)
def test_varint_roundtrip(seed):
    rng = np.random.default_rng(seed)
    for n in (0, 1, 127, 128, 129, 5000):
        v = rng.integers(0, 2**40, n)
        assert np.array_equal(codec.unpack_varint(codec.pack_varint(v)), v)


@pytest.mark.parametrize("seed", SEEDS)
def test_postings_roundtrip(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 3000))
    ords = np.sort(rng.choice(10 * n + 10, n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 100, n).astype(np.int64)
    p = codec.pack_postings(ords, tfs)
    d, t = codec.unpack_postings(
        p["first_docs"], p["doc_offs"], p["tf_offs"], p["doc_bytes"], p["tf_bytes"]
    )
    assert np.array_equal(d, ords)
    assert np.array_equal(t, tfs)
    # block-max invariant: stored max >= every tf in block
    for blk in range(p["n_blocks"]):
        lo, hi = blk * codec.BLOCK_SIZE, min(n, (blk + 1) * codec.BLOCK_SIZE)
        assert p["max_tfs"][blk] == tfs[lo:hi].max()


@pytest.mark.parametrize("seed", SEEDS)
def test_selective_block_decode(seed):
    rng = np.random.default_rng(seed)
    n = 1000
    ords = np.sort(rng.choice(50000, n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 9, n).astype(np.int64)
    p = codec.pack_postings(ords, tfs)
    blocks = np.array([0, 3, 7])
    d, t = codec.unpack_postings(
        p["first_docs"], p["doc_offs"], p["tf_offs"], p["doc_bytes"], p["tf_bytes"], blocks
    )
    want = np.concatenate([ords[b * 128 : (b + 1) * 128] for b in blocks])
    assert np.array_equal(d, want)


@pytest.mark.parametrize("seed", SEEDS)
def test_pack_all_equals_per_term(seed):
    rng = np.random.default_rng(seed)
    n_terms = int(rng.integers(1, 80))
    dfs = rng.integers(1, 400, n_terms)
    term_starts = np.concatenate([[0], np.cumsum(dfs)]).astype(np.int64)
    n = int(term_starts[-1])
    doc_ords = np.empty(n, np.int64)
    for i in range(n_terms):
        s, e = term_starts[i], term_starts[i + 1]
        doc_ords[s:e] = np.sort(rng.choice(5000, e - s, replace=False))
    tfs = rng.integers(1, 20, n).astype(np.int64)
    dls = rng.integers(5, 200, n).astype(np.int64)
    allp = codec.pack_all_postings_flat(term_starts, doc_ords, tfs, dls)
    blk = allp["blk_offsets"]
    for i in range(n_terms):
        s, e = term_starts[i], term_starts[i + 1]
        b0, b1 = blk[i], blk[i + 1]
        d0, d1 = allp["term_d_offsets"][i], allp["term_d_offsets"][i + 1]
        t0, t1 = allp["term_t_offsets"][i], allp["term_t_offsets"][i + 1]
        single = codec.pack_postings(doc_ords[s:e], tfs[s:e])
        assert np.array_equal(allp["first_docs"][b0:b1], single["first_docs"])
        assert np.array_equal(allp["max_tfs"][b0:b1], single["max_tfs"])
        assert allp["doc_data"][d0:d1] == single["doc_bytes"]
        assert allp["tf_data"][t0:t1] == single["tf_bytes"]
        assert np.array_equal(allp["doc_offs"][b0:b1], single["doc_offs"])
        # min_dl invariant
        for b, blk_start in enumerate(range(0, e - s, codec.BLOCK_SIZE)):
            seg = dls[s + blk_start : min(e, s + blk_start + codec.BLOCK_SIZE)]
            assert allp["min_dls"][b0 + b] == seg.min()


@pytest.mark.parametrize("seed", SEEDS)
def test_unpack_segment_repacks_to_same_table(seed):
    """Decoding a built segment's whole postings table and packing the
    decoded arrays again gives back the same table."""
    import pandas as pd

    from lucene_solr_spark.index.build import build_segment_pdf, postings_table

    rng = np.random.default_rng(seed)
    n = 300
    words = np.array([f"t{i}" for i in range(400)], object)
    lens = rng.integers(0, 60, n)
    text = [" ".join(words[rng.zipf(1.2, k) % 400]) for k in lens]
    seg = build_segment_pdf(pd.DataFrame({
        "conv_id": [f"c{i // 5:03d}" for i in range(n)],
        "turn_idx": np.arange(n) % 5, "role": "user", "text": text,
        "tool": None, "ts": pd.Timestamp("2024-01-01"),
    }), seg_id=3)
    post = seg["postings"]
    u = codec.unpack_segment(post)
    assert u["term_starts"][-1] == seg["metrics"]["n_postings"]
    again = postings_table(
        3, post["term"].to_numpy(), u["term_starts"], u["docs"], u["tfs"],
        seg["docmap"]["doc_len"].to_numpy(), u["positions"],
    )
    assert again.equals(post)
