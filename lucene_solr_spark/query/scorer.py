"""Per-segment vectorized BM25 scorer with block-max pruning.

This is the physical Scorer/DISI tree of the engine (SURVEY §3.2 step
3) — the code Catalyst cannot express, living inside an Arrow UDF by
design. numpy only; no per-row Python.

Re-expressed reference machinery:

- ConjunctionDISI leapfrog (``lucene/core/src/java/org/apache/lucene/
  search/ConjunctionDISI.java``): conjunctions intersect in ascending-df
  order; later terms decode only the 128-doc blocks that can contain
  surviving candidates (``searchsorted`` over per-block first-doc
  arrays = the skip list).
- Block-max WAND (``search/WANDScorer.java``, ``MaxScoreCache``): pure
  disjunctions compute a per-block score upper bound from stored
  (max_tf, min_dl) impact metadata, partition the doc space into
  regions, and process regions in descending upper-bound order,
  stopping when the bound falls under the running k-th score — blocks
  in pruned regions are never even varint-decoded.
- Sparse scoring (SOLR-5894 spirit): score accumulation is
  sort+reduceat over touched (doc, contrib) pairs only — no dense
  O(maxDoc) allocation per query.
- ExactPhraseMatcher: phrase adjacency via vectorized (doc, position)
  key intersection on the decoded position streams, applied two-phase
  after the term conjunction (TwoPhaseIterator).
"""

from __future__ import annotations

import numpy as np

from lucene_solr_spark.index import codec
from lucene_solr_spark.query.model import B, K1, BooleanSpec


class TermPostings:
    """One (term, segment) posting list with lazy block decode."""

    __slots__ = (
        "term", "idf", "first_docs", "doc_offs", "tf_offs", "pos_offs",
        "max_tfs", "min_dls", "doc_bytes", "tf_bytes", "pos_bytes",
        "n_blocks", "_cache",
    )

    def __init__(self, row, idf: float):
        self.term = row["term"]
        self.idf = idf
        self.first_docs = np.asarray(row["first_docs"], np.int64)
        self.doc_offs = np.asarray(row["doc_offs"], np.int64)
        self.tf_offs = np.asarray(row["tf_offs"], np.int64)
        self.max_tfs = np.asarray(row["max_tfs"], np.int64)
        self.min_dls = np.asarray(row["min_dls"], np.int64)
        self.doc_bytes = row["doc_bytes"]
        self.tf_bytes = row["tf_bytes"]
        # non-positional specs prune the pos columns at the parquet
        # reader (BooleanSpec.needs_positions) — positions() then has
        # nothing to decode, and must never be reached
        has_pos = "pos_offs" in row
        self.pos_offs = (
            np.asarray(row["pos_offs"], np.int64) if has_pos else None
        )
        self.pos_bytes = row["pos_bytes"] if has_pos else None
        self.n_blocks = len(self.first_docs)
        self._cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def decode_blocks(self, blocks: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ords, tfs) for the selected blocks, cached per block."""
        for b in blocks.tolist():
            if b not in self._cache:
                self._cache[b] = codec.unpack_postings(
                    self.first_docs, self.doc_offs, self.tf_offs,
                    self.doc_bytes, self.tf_bytes, np.asarray([b]),
                )
        if len(blocks) == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        ds, ts = zip(*(self._cache[b] for b in blocks.tolist()))
        return np.concatenate(ds), np.concatenate(ts)

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        return self.decode_blocks(np.arange(self.n_blocks))

    def blocks_for_docs(self, docs: np.ndarray) -> np.ndarray:
        """Skip-list seek: block ids that can contain any of `docs`."""
        idx = np.searchsorted(self.first_docs, docs, side="right") - 1
        return np.unique(idx[idx >= 0])

    def positions(self, blocks: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(doc_ords, tfs, flat positions) for selected blocks."""
        if self.pos_offs is None:
            raise RuntimeError(
                "position stream pruned for a non-positional spec — "
                "needs_positions is out of sync with the executor"
            )
        d, t = self.decode_blocks(blocks)
        pos = codec.unpack_positions(self.pos_offs, self.pos_bytes, t, blocks, self.n_blocks)
        return d, t, pos

    def block_upper_bounds(self, avgdl: float) -> np.ndarray:
        """BM25 upper bound per block from impact metadata: increasing
        in tf, decreasing in dl ⇒ ub(max_tf, min_dl) dominates."""
        mt = self.max_tfs.astype(np.float64)
        dl = self.min_dls.astype(np.float64)
        return self.idf * (mt * (K1 + 1)) / (mt + K1 * (1 - B + B * dl / avgdl))


def _contrib(idf: float, tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    return idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl))


def _sparse_sum(docs: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Group-sum (doc → Σval) via sort+reduceat. Also returns per-doc
    match counts. Sparse-counter analog: touches only hit docs."""
    order = np.argsort(docs, kind="stable")
    d, v = docs[order], vals[order]
    starts = np.nonzero(np.diff(d, prepend=d[0] - 1))[0] if len(d) else np.empty(0, np.int64)
    uniq = d[starts]
    sums = np.add.reduceat(v, starts) if len(d) else np.empty(0, np.float64)
    counts = np.diff(np.append(starts, len(d)))
    return uniq, sums, counts


def _sloppy_chain_docs(
    tps: list[TermPostings], cand: np.ndarray,
    stride: int, slop: int,
) -> np.ndarray:
    """Docs matching an n-term ordered sloppy phrase — our pinned
    SloppyPhraseMatcher contract (in-order subset of
    ``lucene/core/src/java/org/apache/lucene/search/
    SloppyPhraseMatcher.java``): ∃ positions p1 < p2 < … < pn with
    toks[pi] = term_i and total intervening gap Σ(p_{i+1}-p_i-1) =
    pn - p1 - (n-1) ≤ slop.

    Vectorized chain DP over (doc*stride + pos) keys: f_i(q) = best
    (largest) chain start key among occurrences of term_{i-1} strictly
    before q. f is monotone in key order, so one searchsorted + one
    prefix-max per level — O(Σ postings · n), no per-row Python.
    Cross-doc prefix-max leakage is impossible to exploit: an earlier
    doc's start key is < this doc's smallest key, and the same-doc
    check (s // stride == doc) rejects it."""
    keyed: list[np.ndarray] = []
    for tp in tps:
        d, t, p = tp.positions(tp.blocks_for_docs(cand))
        m = np.repeat(np.isin(d, cand, assume_unique=True), t)
        k = np.repeat(d, t)[m] * stride + p[m]
        if len(k) == 0:
            return np.empty(0, np.int64)
        keyed.append(k)  # sorted: postings are doc-asc, positions asc
    n = len(tps)
    f = keyed[0].copy()  # level 1: chain start = own key
    for i in range(1, n):
        prev_k, cur_k = keyed[i - 1], keyed[i]
        fmax = np.maximum.accumulate(f)
        idx = np.searchsorted(prev_k, cur_k, side="left") - 1
        s = np.where(idx >= 0, fmax[np.clip(idx, 0, None)], np.int64(-1))
        valid = (idx >= 0) & (s // stride == cur_k // stride)
        f = np.where(valid, s, np.int64(-1))
        keyed[i] = cur_k
    ok = (f >= 0) & (keyed[n - 1] - f <= slop + n - 1)
    return np.unique(keyed[n - 1][ok] // stride)


def _sloppy_start_counts(
    tps: list["TermPostings"], cand: np.ndarray,
    stride: int, slop: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc SLOPPY phrase freq for the pf ``ps`` path — counts
    START anchors p1 with a valid in-order chain (the pinned counting
    contract, model.pf_slop). Mirror of :func:`_sloppy_chain_docs`
    run backwards: b_i(q) = the MINIMAL chain end reachable from
    occurrence q of term_i = suffix-min of b_{i+1} past q. The same
    monotone-key argument makes cross-doc suffix-min leakage
    self-rejecting (a finite same-doc end is always smaller than any
    later-doc key, and a later-doc minimum fails the same-doc check).
    A start is valid iff its minimal end fits the window."""
    keyed: list[np.ndarray] = []
    for tp in tps:
        d, t, p = tp.positions(tp.blocks_for_docs(cand))
        m = np.repeat(np.isin(d, cand, assume_unique=True), t)
        k = np.repeat(d, t)[m] * stride + p[m]
        if len(k) == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        keyed.append(k)  # sorted: doc asc, pos asc
    n = len(tps)
    big = np.int64(np.iinfo(np.int64).max)
    b = keyed[n - 1].copy()  # level n: chain end = own key
    for i in range(n - 2, -1, -1):
        nxt_k, cur_k = keyed[i + 1], keyed[i]
        bmin = np.minimum.accumulate(b[::-1])[::-1]  # suffix-min
        idx = np.searchsorted(nxt_k, cur_k, side="right")  # strictly after
        e = np.where(idx < len(nxt_k), bmin[np.clip(idx, 0, len(nxt_k) - 1)], big)
        valid = (idx < len(nxt_k)) & (e != big) & (e // stride == cur_k // stride)
        b = np.where(valid, e, big)
    ok = (b != big) & (b - keyed[0] <= slop + n - 1)
    return np.unique(keyed[0][ok] // stride, return_counts=True)


def _span_docs(
    tps: list[TermPostings], cand: np.ndarray, stride: int, window: int,
    pos_cap: int | None = None, pos_floor: int = 0,
) -> np.ndarray:
    """Docs matching an UNORDERED span-near group — pinned contract:
    one occurrence per term with max−min ≤ window−1 (SpanNearQuery
    inOrder=false re-expressed as window containment).

    Vectorized anchor sweep: a satisfying window can be anchored at
    its minimum position, which is SOME term's occurrence — so every
    occurrence of every term is a candidate anchor q, and the group
    matches iff each term has an occurrence in [q, q+window−1] within
    the same doc. One searchsorted per term over the anchor vector,
    O(n · A log P), no per-row Python.

    ``pos_cap``: SpanFirstQuery — only occurrences in the first
    ``pos_cap`` tokens (0-based position < pos_cap) participate,
    which is exactly the truncated-prefix equivalence. ``pos_floor``
    (with ``pos_cap``): SpanPositionRangeQuery — occurrences confined
    to the absolute band [pos_floor, pos_cap); window containment is
    relative, so this equals the sub-array equivalence the other two
    engines use."""
    keyed: list[np.ndarray] = []
    for tp in tps:
        d, t, p = tp.positions(tp.blocks_for_docs(cand))
        m = np.repeat(np.isin(d, cand, assume_unique=True), t)
        if pos_cap is not None:
            m &= p < pos_cap
        if pos_floor:
            m &= p >= pos_floor
        k = np.repeat(d, t)[m] * stride + p[m]
        if len(k) == 0:
            return np.empty(0, np.int64)
        keyed.append(k)  # sorted (doc asc, pos asc)
    anchors = np.unique(np.concatenate(keyed))
    ok = np.ones(len(anchors), bool)
    for k in keyed:
        idx = np.searchsorted(k, anchors, side="left")
        idx_c = np.clip(idx, 0, len(k) - 1)
        hit = (
            (idx < len(k))
            & (k[idx_c] <= anchors + window - 1)
            & (k[idx_c] // stride == anchors // stride)
        )
        ok &= hit
        if not ok.any():
            return np.empty(0, np.int64)
    return np.unique(anchors[ok] // stride)


def _span_not_docs(
    itps: list[TermPostings],
    etps: list[TermPostings],
    cand: np.ndarray,
    stride: int,
    window: int,
) -> np.ndarray:
    """Docs matching SpanNotQuery — pinned contract: ∃ one position
    per include term with max−min ≤ window−1 whose [min, max] interval
    contains NO exclude-term occurrence.

    Anchor-sweep exactness: the optimal include set's minimum is an
    occurrence of some include term — anchor q. The nearest-≥q
    occurrence per include term fits in [q, q+window−1] whenever the
    optimal choice does, and minimizes M = max chosen position, so its
    span [q, M] ⊆ the optimal span — if that is exclude-free, so is
    [q, M]. Conversely a passing anchor IS a valid include set.

    ref: lucene/core/src/java/org/apache/lucene/search/spans/SpanNotQuery.java
    """
    keyed: list[np.ndarray] = []
    for tp in itps:
        d, t, p = tp.positions(tp.blocks_for_docs(cand))
        m = np.repeat(np.isin(d, cand, assume_unique=True), t)
        k = np.repeat(d, t)[m] * stride + p[m]
        if len(k) == 0:
            return np.empty(0, np.int64)
        keyed.append(k)  # sorted (doc asc, pos asc)
    anchors = np.unique(np.concatenate(keyed))
    ok = np.ones(len(anchors), bool)
    span_end = anchors.copy()  # M: max nearest-occurrence key
    for k in keyed:
        idx = np.searchsorted(k, anchors, side="left")
        idx_c = np.clip(idx, 0, len(k) - 1)
        hit = (
            (idx < len(k))
            & (k[idx_c] <= anchors + window - 1)
            & (k[idx_c] // stride == anchors // stride)
        )
        ok &= hit
        span_end = np.maximum(span_end, np.where(hit, k[idx_c], span_end))
        if not ok.any():
            return np.empty(0, np.int64)
    for tp in etps:
        d, t, p = tp.positions(tp.blocks_for_docs(cand))
        m = np.repeat(np.isin(d, cand, assume_unique=True), t)
        ke = np.repeat(d, t)[m] * stride + p[m]
        if len(ke) == 0:
            continue
        idx = np.searchsorted(ke, anchors, side="left")
        idx_c = np.clip(idx, 0, len(ke) - 1)
        # first exclude key ≥ anchor inside [anchor, M] → overlap
        # (same doc is implied: M shares the anchor's doc)
        overlap = (idx < len(ke)) & (ke[idx_c] <= span_end)
        ok &= ~overlap
        if not ok.any():
            return np.empty(0, np.int64)
    return np.unique(anchors[ok] // stride)


def _multi_phrase_docs(
    slot_tps: list[list[TermPostings]],
    cand: np.ndarray,
    stride: int,
) -> np.ndarray:
    """Docs matching MultiPhraseQuery — ∃ start s with toks[s+i] ∈
    slot_i for every slot i. Same (doc, pos−offset) key-intersection
    as the exact-phrase matcher, with each slot's key stream the
    UNION of its alternative terms' streams (which is exactly how
    MultiPhraseQuery's UnionPostingsEnum reads: one merged postings
    view per position).

    ref: lucene/core/src/java/org/apache/lucene/search/
         MultiPhraseQuery.java (UnionPostingsEnum)
    """
    empty = np.empty(0, np.int64)
    keys_acc: np.ndarray | None = None
    for j, tps in enumerate(slot_tps):
        slot_keys: list[np.ndarray] = []
        for tp_ in tps:
            d, t, p = tp_.positions(tp_.blocks_for_docs(cand))
            m = np.repeat(np.isin(d, cand, assume_unique=True), t)
            dp = np.repeat(d, t)[m]
            pp = p[m]
            k = dp * stride + (pp - j)  # align slot offsets
            slot_keys.append(k[pp - j >= 0])
        if not slot_keys:
            return empty
        keys = np.unique(np.concatenate(slot_keys))
        keys_acc = (
            keys if keys_acc is None
            else np.intersect1d(keys_acc, keys, assume_unique=True)
        )
        if len(keys_acc) == 0:
            return empty
    return np.unique(keys_acc // stride)


def _span_within_docs(
    btps: list[TermPostings],
    ltp: TermPostings,
    cand: np.ndarray,
    stride: int,
    window: int,
) -> np.ndarray:
    """Docs matching SpanWithinQuery — pinned contract: ∃ one position
    per big term with max−min ≤ window−1 whose [min, max] interval
    contains an occurrence of the little term.

    Per-owner anchor sweep (exactness proof in BooleanSpec.span_within):
    anchor q runs over each big term T's own occurrences; feasibility
    = every big term has an occurrence in [q, q+window−1]; the widest
    reachable span end with T pinned at q is M = max(q, latest
    in-window occurrence of every OTHER term) — [q, M] is itself a
    valid big span, and any true witness with min=q is ⊆ [q, M], so
    testing the little term against [q, M] finds every match and
    invents none.

    ref: lucene/core/src/java/org/apache/lucene/search/spans/
         SpanWithinQuery.java
    """
    empty = np.empty(0, np.int64)
    keyed: list[np.ndarray] = []
    for tp_ in btps:
        d, t, p = tp_.positions(tp_.blocks_for_docs(cand))
        m = np.repeat(np.isin(d, cand, assume_unique=True), t)
        k = np.repeat(d, t)[m] * stride + p[m]
        if len(k) == 0:
            return empty
        keyed.append(k)  # sorted (doc asc, pos asc)
    dl, tl, pl = ltp.positions(ltp.blocks_for_docs(cand))
    ml = np.repeat(np.isin(dl, cand, assume_unique=True), tl)
    kl = np.repeat(dl, tl)[ml] * stride + pl[ml]
    if len(kl) == 0:
        return empty
    out: list[np.ndarray] = []
    for owner, anchors in enumerate(keyed):
        ok = np.ones(len(anchors), bool)
        m_end = anchors.copy()  # M: owner pinned at q
        for u, k in enumerate(keyed):
            if u == owner:
                continue
            idx = np.searchsorted(k, anchors, side="left")
            idx_c = np.clip(idx, 0, len(k) - 1)
            hit = (
                (idx < len(k))
                & (k[idx_c] <= anchors + window - 1)
                & (k[idx_c] // stride == anchors // stride)
            )
            ok &= hit
            if not ok.any():
                break
            # latest in-window occurrence: last key < q+window, same doc
            jdx = np.searchsorted(k, anchors + window, side="left") - 1
            jdx_c = np.clip(jdx, 0, len(k) - 1)
            last_ok = (
                (jdx >= 0)
                & (k[jdx_c] >= anchors)
                & (k[jdx_c] // stride == anchors // stride)
            )
            m_end = np.maximum(
                m_end, np.where(hit & last_ok, k[jdx_c], m_end)
            )
        if not ok.any():
            continue
        # little containment: first little key ≥ q must be ≤ M
        # (same doc is implied: M shares the anchor's doc)
        idx = np.searchsorted(kl, anchors, side="left")
        idx_c = np.clip(idx, 0, len(kl) - 1)
        inside = (idx < len(kl)) & (kl[idx_c] <= m_end)
        sel = ok & inside
        if sel.any():
            out.append(anchors[sel] // stride)
    return np.unique(np.concatenate(out)) if out else empty


def _phrase_docs(tps: list[TermPostings], seg_max_pos: int) -> np.ndarray:
    """Docs containing the phrase (terms adjacent, in order)."""
    return _phrase_freqs(tps, seg_max_pos)[0]


def _phrase_start_keys(
    tps: list[TermPostings], seg_max_pos: int
) -> np.ndarray:
    """``doc * stride + start_pos`` key of EVERY exact-adjacency
    phrase occurrence (stride = seg_max_pos + 2 — the caller recovers
    doc/position with the same stride).

    Two-phase (TwoPhaseIterator): phase 1 intersects the doc streams
    in ascending-df order with block skipping — cheap, no position
    bytes touched; phase 2 decodes POSITIONS only for the blocks that
    contain surviving candidate docs and verifies adjacency via
    (doc, pos-offset) key intersection. Keys are unique within a
    term's stream and intersect1d keeps them unique."""
    empty = np.empty(0, np.int64)
    if any(tp is None for tp in tps):
        return empty
    # phase 1: doc-level conjunction (leapfrog, ascending df)
    by_df = sorted(tps, key=lambda tp: tp.n_blocks)
    cand, _ = by_df[0].decode_all()
    for tp in by_df[1:]:
        if len(cand) == 0:
            return empty
        blocks = tp.blocks_for_docs(cand)
        d, _t = tp.decode_blocks(blocks)
        cand = cand[np.isin(cand, d, assume_unique=True)]
    if len(cand) == 0:
        return empty
    # phase 2: adjacency check over candidate docs only
    stride = seg_max_pos + 2
    keys_acc: np.ndarray | None = None
    for j, tp in enumerate(tps):
        blocks = tp.blocks_for_docs(cand)
        d, t, pos = tp.positions(blocks)
        tok_in_cand = np.repeat(np.isin(d, cand, assume_unique=True), t)
        doc_per_tok = np.repeat(d, t)[tok_in_cand]
        pos = pos[tok_in_cand]
        keys = doc_per_tok * stride + (pos - j)  # align phrase offsets
        keys = keys[pos - j >= 0]
        keys_acc = (
            keys if keys_acc is None
            else np.intersect1d(keys_acc, keys, assume_unique=False)
        )
        if len(keys_acc) == 0:
            return empty
    return keys_acc


def _phrase_freqs(
    tps: list[TermPostings], seg_max_pos: int
) -> tuple[np.ndarray, np.ndarray]:
    """(docs, exact phrase occurrence counts) — the phrase DocSet plus
    PhraseQuery freq (tf for pf scoring). Each surviving (doc,
    start-pos) key from :func:`_phrase_start_keys` is one occurrence,
    so the per-doc key count IS the phrase tf."""
    keys = _phrase_start_keys(tps, seg_max_pos)
    if len(keys) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.unique(keys // (seg_max_pos + 2), return_counts=True)


def _candidates(
    spec: BooleanSpec,
    tp: dict[str, TermPostings],
    n_docs: int,
    allowed: np.ndarray | None,
    max_doclen: int,
) -> np.ndarray | None:
    """Candidate restriction: MUST conjunction (leapfrog), phrases,
    MUST_NOT anti-set, FILTER mask. None = unrestricted."""
    must = [t for t in spec.required_terms]
    cand: np.ndarray | None = None  # sorted doc ords or None = all
    if must:
        # ConjunctionDISI: ascending-df leapfrog with block skipping.
        order = sorted(must, key=lambda t: len(tp[t].first_docs))
        lead = tp[order[0]]
        cand, _ = lead.decode_all()
        for t in order[1:]:
            if len(cand) == 0:
                break
            blocks = tp[t].blocks_for_docs(cand)
            d, _ = tp[t].decode_blocks(blocks)
            cand = cand[np.isin(cand, d, assume_unique=True)]
    for ph in spec.phrases:
        ptps = [tp.get(t) for t in ph]
        if spec.phrase_slop > 0 and len(ph) > 1:
            if any(p is None for p in ptps):
                pdocs = np.empty(0, np.int64)
            else:
                base = cand
                if base is None:
                    base, _ = min(ptps, key=lambda p: p.n_blocks).decode_all()
                pdocs = _sloppy_chain_docs(
                    ptps, base, max_doclen + 2 + spec.phrase_slop,
                    spec.phrase_slop,
                )
        else:
            pdocs = _phrase_docs(ptps, max_doclen)
        cand = pdocs if cand is None else cand[np.isin(cand, pdocs, assume_unique=True)]
    for mp in spec.multi_phrases:
        slot_tps = [[tp[t] for t in slot if t in tp] for slot in mp]
        if any(not tps for tps in slot_tps):
            mdocs = np.empty(0, np.int64)  # a slot with no present
        else:  # alternative can never match in this segment
            base = cand
            if base is None:
                # every match holds SOME term of every slot, so one
                # slot's doc UNION is a valid superset — seed from the
                # cheapest slot (fewest total blocks)
                lead = min(
                    slot_tps, key=lambda tps: sum(p.n_blocks for p in tps)
                )
                base = np.unique(np.concatenate(
                    [p.decode_all()[0] for p in lead]
                ))
            mdocs = _multi_phrase_docs(slot_tps, base, max_doclen + 2)
        cand = mdocs if cand is None else cand[
            np.isin(cand, mdocs, assume_unique=True)
        ]
    for grp in spec.span_near:
        gtps = [tp.get(t) for t in grp]
        if any(p is None for p in gtps):
            sdocs = np.empty(0, np.int64)
        else:
            base = cand
            if base is None:
                base, _ = min(gtps, key=lambda p: p.n_blocks).decode_all()
            sdocs = _span_docs(
                gtps, base, max_doclen + 2, len(grp) + spec.span_slop
            )
        cand = sdocs if cand is None else cand[
            np.isin(cand, sdocs, assume_unique=True)
        ]
    for grp in spec.span_first:
        gtps = [tp.get(t) for t in grp]
        if any(p is None for p in gtps):
            fdocs = np.empty(0, np.int64)
        else:
            base = cand
            if base is None:
                base, _ = min(gtps, key=lambda p: p.n_blocks).decode_all()
            fdocs = _span_docs(
                gtps, base, max_doclen + 2, len(grp) + spec.span_slop,
                pos_cap=spec.span_first_end,
            )
        cand = fdocs if cand is None else cand[
            np.isin(cand, fdocs, assume_unique=True)
        ]
    for grp in spec.span_range:
        gtps = [tp.get(t) for t in grp]
        if any(p is None for p in gtps):
            rdocs = np.empty(0, np.int64)
        else:
            base = cand
            if base is None:
                base, _ = min(gtps, key=lambda p: p.n_blocks).decode_all()
            rdocs = _span_docs(
                gtps, base, max_doclen + 2, len(grp) + spec.span_slop,
                pos_cap=spec.span_range_end,
                pos_floor=spec.span_range_start,
            )
        cand = rdocs if cand is None else cand[
            np.isin(cand, rdocs, assume_unique=True)
        ]
    if spec.span_or:
        # SpanOrQuery: union of the alternatives' span_near doc sets
        union: list[np.ndarray] = []
        for grp in spec.span_or:
            gtps = [tp.get(t) for t in grp]
            if any(p is None for p in gtps):
                continue  # an absent term kills only this alternative
            base = cand
            if base is None:
                base, _ = min(gtps, key=lambda p: p.n_blocks).decode_all()
            union.append(
                _span_docs(gtps, base, max_doclen + 2, len(grp) + spec.span_slop)
            )
        odocs = (
            np.unique(np.concatenate(union)) if union
            else np.empty(0, np.int64)
        )
        cand = odocs if cand is None else cand[
            np.isin(cand, odocs, assume_unique=True)
        ]
    for inc, exc in spec.span_not:
        itps = [tp.get(t) for t in inc]
        if any(p is None for p in itps):
            ndocs_ = np.empty(0, np.int64)
        else:
            base = cand
            if base is None:
                base, _ = min(itps, key=lambda p: p.n_blocks).decode_all()
            ndocs_ = _span_not_docs(
                itps, [tp[t] for t in exc if t in tp], base,
                max_doclen + 2, len(inc) + spec.span_slop,
            )
        cand = ndocs_ if cand is None else cand[
            np.isin(cand, ndocs_, assume_unique=True)
        ]
    for little, big in spec.span_within:
        btps = [tp.get(t) for t in big]
        ltp_ = tp.get(little)
        if any(p is None for p in btps) or ltp_ is None:
            wdocs = np.empty(0, np.int64)
        else:
            base = cand
            if base is None:
                base, _ = min(
                    btps + [ltp_], key=lambda p: p.n_blocks
                ).decode_all()
            wdocs = _span_within_docs(
                btps, ltp_, base, max_doclen + 2,
                len(big) + spec.span_slop,
            )
        cand = wdocs if cand is None else cand[
            np.isin(cand, wdocs, assume_unique=True)
        ]
    excl: list[np.ndarray] = []
    for t in spec.must_not:
        if t in tp:
            d, _ = tp[t].decode_all()
            excl.append(d)
    for ph in spec.must_not_phrases:
        # ReqExclScorer over a (sloppy) PhraseQuery: docs containing
        # the negated phrase drop out; its terms never score.
        ptps = [tp.get(t) for t in ph]
        if any(p is None for p in ptps) or not ph:
            continue  # some phrase term absent → phrase can't occur here
        if len(ph) == 1:
            excl.append(ptps[0].decode_all()[0])
        elif spec.phrase_slop > 0:
            base, _ = min(ptps, key=lambda p: p.n_blocks).decode_all()
            excl.append(_sloppy_chain_docs(
                ptps, base, max_doclen + 2 + spec.phrase_slop, spec.phrase_slop
            ))
        else:
            excl.append(_phrase_docs(ptps, max_doclen))
    if excl:
        ex = np.unique(np.concatenate(excl))
        if cand is not None:
            cand = cand[~np.isin(cand, ex, assume_unique=True)]
        else:
            cand = np.setdiff1d(np.arange(n_docs), ex)
    if allowed is not None:
        ok = np.nonzero(allowed)[0]
        cand = ok if cand is None else cand[allowed[cand]]
    return cand


def match_segment(
    spec: BooleanSpec,
    term_rows: dict[str, dict],
    n_docs: int,
    allowed: np.ndarray | None,
    max_doclen: int = 0,
) -> np.ndarray:
    """ALL matching doc ords of one segment (the DocSet, no scoring) —
    ``SolrIndexSearcher#getDocSet`` analog, the facet/fq domain."""
    tp = {t: TermPostings(r, 0.0) for t, r in term_rows.items()}
    must = [t for t in spec.required_terms]
    if any(t not in tp for t in must):
        return np.empty(0, np.int64)
    cand = _candidates(spec, tp, n_docs, allowed, max_doclen)
    if spec.should:
        mm = max(1, spec.min_should_match)
        sd = [tp[t].decode_all()[0] for t in spec.should if t in tp]
        if sd:
            s_uniq, _s, s_counts = _sparse_sum(
                np.concatenate(sd), np.ones(sum(len(a) for a in sd))
            )
            ok = s_uniq[s_counts >= mm]
        else:
            ok = np.empty(0, np.int64)
        cand = ok if cand is None else cand[np.isin(cand, ok, assume_unique=True)]
    if cand is None:
        cand = (
            np.nonzero(allowed)[0] if allowed is not None
            else np.arange(n_docs, dtype=np.int64)
        )
    return cand


def score_segment(
    spec: BooleanSpec,
    term_rows: dict[str, dict],
    idf: dict[str, float],
    avgdl: float,
    doc_len: np.ndarray,
    allowed: np.ndarray | None,
    k: int,
    round_to: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Score one segment. Returns (doc_ords, scores) of its top-k.

    term_rows: term -> postings row dict (absent terms missing).
    doc_len: per-doc lengths (norms file analog).
    allowed: bool mask over doc ords (FILTER/fq doc set) or None.
    round_to: decimal places the global ranking rounds scores to
    (None = raw) — widens the kept boundary ties (see ``_topk``).
    """
    tp: dict[str, TermPostings] = {
        t: TermPostings(r, idf[t]) for t, r in term_rows.items()
    }
    terms = [t for t in spec.scoring_terms if t in tp]
    must = [t for t in spec.required_terms]
    n_docs = len(doc_len)

    if any(t not in tp for t in must):
        return np.empty(0, np.int64), np.empty(0, np.float64)

    cand = _candidates(
        spec, tp, n_docs, allowed, int(doc_len.max()) if n_docs else 0
    )

    mm = spec.min_should_match
    # pf adds positive score AFTER term accumulation, so WAND's
    # term-only upper bounds would under-estimate and prune true
    # top-k docs — pf queries take the exact path.
    pure_or = (
        cand is None and not must and (not spec.should or mm <= 1)
        and not spec.pf_phrases
    )

    if pure_or and len(terms) > 1 and k < n_docs:
        # WAND only when the heap can actually prune: with k >= n_docs
        # (score-all mode for parent aggregation / rerank) theta never
        # rises, so the region machinery would just re-sort the
        # accumulating hit set per chunk — exact scoring decodes each
        # block once instead.
        return _wand_topk(spec, tp, terms, avgdl, doc_len, k, round_to)

    # ---- exact scoring over candidates (or full disjunction) --------
    all_docs: list[np.ndarray] = []
    all_vals: list[np.ndarray] = []
    should_docs: list[np.ndarray] = []
    for t in terms:
        p = tp[t]
        if cand is not None:
            if len(cand) == 0:
                return np.empty(0, np.int64), np.empty(0, np.float64)
            blocks = p.blocks_for_docs(cand)
            d, tf = p.decode_blocks(blocks)
            m = np.isin(d, cand, assume_unique=True)
            d, tf = d[m], tf[m]
        else:
            d, tf = p.decode_all()
        all_docs.append(d)
        all_vals.append(_contrib(p.idf, tf, doc_len[d].astype(np.float64), avgdl))
        if t in spec.should:
            should_docs.append(d)
    if not all_docs:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    docs = np.concatenate(all_docs)
    vals = np.concatenate(all_vals)
    uniq, sums, _counts = _sparse_sum(docs, vals)

    if spec.should and mm > 0:
        sd = np.concatenate(should_docs) if should_docs else np.empty(0, np.int64)
        s_uniq, _s, s_counts = _sparse_sum(sd, np.ones(len(sd)))
        ok_docs = s_uniq[s_counts >= mm]
        m = np.isin(uniq, ok_docs, assume_unique=True)
        uniq, sums = uniq[m], sums[m]
    if cand is not None:
        m = np.isin(uniq, cand, assume_unique=True)
        uniq, sums = uniq[m], sums[m]

    if spec.pf_phrases and len(uniq):
        # edismax pf: optional PhraseQuery clauses — matched docs gain
        # pf_boost × Σidf(phrase terms) × sat(phrase tf). Added after
        # the fixed-order term sum (deterministic: phrases in spec
        # order), only to docs already in the match set.
        max_dl = int(doc_len.max()) if n_docs else 0
        for ph in spec.pf_phrases:
            idf_sum = sum(idf.get(t, 0.0) for t in ph)
            if idf_sum == 0.0:
                continue
            ph_tps = [tp.get(t) for t in ph]
            if spec.pf_slop > 0:
                # ps: sloppy phrase freq (valid start anchors) over
                # the docs already in the match set only
                if any(t is None for t in ph_tps):
                    continue
                pdocs, ptf = _sloppy_start_counts(
                    ph_tps, uniq, max_dl + 2 + spec.pf_slop, spec.pf_slop
                )
            else:
                pdocs, ptf = _phrase_freqs(ph_tps, max_dl)
            if len(pdocs) == 0:
                continue
            m = np.isin(pdocs, uniq, assume_unique=True)
            pdocs, ptf = pdocs[m], ptf[m]
            if len(pdocs) == 0:
                continue
            bonus = _contrib(
                spec.pf_boost * idf_sum, ptf,
                doc_len[pdocs].astype(np.float64), avgdl,
            )
            sums[np.searchsorted(uniq, pdocs)] += bonus

    return _topk(uniq, sums, k, round_to)


def _tie_floor(kth: float, round_to: int | None) -> float:
    """Lowest raw score that can still tie the k-th score ``kth`` in the
    global ranking. Raw scores tie only when equal. Rounded to
    ``round_to`` places, any score that rounds to at least round(kth)
    lies above kth − 10^−round_to (each rounding moves a score by at
    most half a unit, whatever the rounding mode), so the floor drops
    one whole unit below kth."""
    return kth if round_to is None else kth - 10.0 ** -round_to


def _topk(
    docs: np.ndarray, scores: np.ndarray, k: int, round_to: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """HitQueue analog: top-k by (score desc, doc asc) — keeping ALL
    docs that can tie the k-th score. Slicing ties by segment-local
    doc_ord would make results depend on segment layout (doc_ord
    assignment changes under merge/repartition); the global
    TakeOrdered applies the pinned (conv_id, turn_idx) tiebreak, so
    every boundary-tied candidate must survive the segment stage —
    including, under ``round_to``, docs just below the raw k-th score
    that round to the same value."""
    if len(docs) <= k:
        order = np.lexsort((docs, -scores))
        return docs[order], scores[order]
    part = np.argpartition(-scores, k - 1)
    kth = scores[part[k - 1]]
    # ALL boundary ties survive
    cand = np.nonzero(scores >= _tie_floor(kth, round_to))[0]
    d, s = docs[cand], scores[cand]
    order = np.lexsort((d, -s))
    return d[order], s[order]


def _wand_topk(
    spec: BooleanSpec,
    tp: dict[str, TermPostings],
    terms: list[str],
    avgdl: float,
    doc_len: np.ndarray,
    k: int,
    round_to: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max WAND over a pure disjunction.

    Doc space is cut at every block boundary of every term; each region
    gets Σ upper bounds of overlapping blocks. Regions are scored
    exactly in descending-bound order until bound < θ, the tie floor of
    the k-th best score (``_tie_floor``).
    """
    n_docs = len(doc_len)
    ubs = {t: tp[t].block_upper_bounds(avgdl) for t in terms}
    cuts = np.unique(np.concatenate([tp[t].first_docs for t in terms] + [np.array([0, n_docs])]))
    cuts = cuts[cuts <= n_docs]
    n_regions = len(cuts) - 1
    region_ub = np.zeros(n_regions, np.float64)
    # per term: which block covers each region (== searchsorted-1), -1 if none
    blk_of: dict[str, np.ndarray] = {}
    for t in terms:
        p = tp[t]
        bidx = np.searchsorted(p.first_docs, cuts[:-1], side="right") - 1
        # a block covers region r only if region start < next block start
        nxt = np.append(p.first_docs[1:], n_docs)
        covered = (bidx >= 0) & (cuts[:-1] < nxt[np.clip(bidx, 0, None)])
        bidx = np.where(covered, bidx, -1)
        blk_of[t] = bidx
        sel = bidx >= 0
        region_ub[sel] += ubs[t][bidx[sel]]
    order = np.argsort(-region_ub, kind="stable")

    top_docs = np.empty(0, np.int64)
    top_scores = np.empty(0, np.float64)
    theta = -np.inf
    CHUNK = 16
    for c0 in range(0, n_regions, CHUNK):
        chunk = order[c0 : c0 + CHUNK]
        if len(top_docs) >= k and region_ub[chunk[0]] < theta:
            # STRICTLY below theta: a region whose bound equals theta
            # can still hold docs that tie the k-th score (after
            # rounding, when round_to is set) and win the pinned
            # tiebreak — pruning them would break rank-identity at
            # tied boundaries.
            break  # every remaining region is dominated — prune
        sel_regions = np.sort(chunk)  # searchsorted below needs sorted bounds
        lo, hi = cuts[sel_regions], cuts[sel_regions + 1]
        docs_l: list[np.ndarray] = []
        vals_l: list[np.ndarray] = []
        for t in terms:
            p = tp[t]
            blocks = np.unique(blk_of[t][sel_regions])
            blocks = blocks[blocks >= 0]
            if len(blocks) == 0:
                continue
            d, tf = p.decode_blocks(blocks)
            # keep only docs inside the chunk's regions
            ridx = np.searchsorted(lo, d, side="right") - 1
            inside = (ridx >= 0) & (d < hi[np.clip(ridx, 0, None)])
            # region membership needs lo sorted; sort chunk regions
            d, tf = d[inside], tf[inside]
            if len(d) == 0:
                continue
            docs_l.append(d)
            vals_l.append(_contrib(p.idf, tf, doc_len[d].astype(np.float64), avgdl))
        if not docs_l:
            continue
        uniq, sums, _ = _sparse_sum(np.concatenate(docs_l), np.concatenate(vals_l))
        top_docs = np.concatenate([top_docs, uniq])
        top_scores = np.concatenate([top_scores, sums])
        top_docs, top_scores = _topk(top_docs, top_scores, k, round_to)
        if len(top_docs) >= k:
            # k-th best (ties may extend past k)
            theta = _tie_floor(top_scores[k - 1], round_to)
    return top_docs, top_scores
