"""Distributed IndexSearcher over committed segments (SURVEY §3.2).

Physical plan:

    df probe: DRIVER-side pyarrow read of (term, df)  (Weight binding:
      over every segment's postings file, term       global df → idf,
      filter pushed to row-group stats               cached per term;
                                                     no Spark job)
      → spark.range(n_segs).mapInPandas              (IndexSearcher leaf
          task per segment: its OWN term-pruned       loop: vectorized
          postings + docmap columns from Parquet      decode, leapfrog
          → scorer                                    AND, block-max WAND)
      → per-segment top-k rows
      → orderBy(score desc, conv, turn).limit(k)     (TakeOrderedAndProject
                                                     ≡ TopDocs.merge)

One stage, one job, nothing shuffles to reach a segment: every
per-segment pass (search, DocSet, caches, facets) runs through
:meth:`IndexSearcher.each_segment`, whose task reads its OWN segment's
postings rows (term-sorted file → row-group pruning is the terms-dict
seek) and docmap columns (doc_len = norms; conv/turn ids; filter fields
= fq docvalues) straight from the segment's Parquet on shared storage —
exactly Lucene's per-segment access pattern (``SegmentReader``), and the
property that keeps query cost independent of corpus width: a query
over 10^12 turns touches q-term postings plus the docmaps of segments
that contain them. Only the small per-segment results move, into the
final merge.

A score-sorted ``/select`` with exact facet.field legs is ONE such pass
as well (:meth:`IndexSearcher.doc_list_and_set`, Solr's
``getDocListAndSet``): each task scores its segment's top-k and counts
the facet ordinals over the same hit DocSet; the driver orders the
rounded hits and merges the facet partials. Exact facet counts are a
driver merge of collected partials (``facets.merge_partials``), never
a shuffle.

Every task opens its segment's docmap through :class:`SegmentDomain`,
the one segment reader (Lucene's ``LeafReader``): it prunes the read
to the columns the caller needs and hands back the fq mask or hit ords
with liveDocs already applied, so no read path can skip the tombstone
mask (tests/test_segment_reader.py guards it).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lucene_solr_spark.index.manifest import Manifest
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.query.scorer import match_segment, score_segment

RESULT_SCHEMA = "conv_id string, turn_idx int, score double"
#: rows of one :meth:`IndexSearcher.doc_list_and_set` pass: scored hits
#: (kind -1) and each facet request's named partials (kind = its index)
DOC_LIST_AND_SET_SCHEMA = (
    "kind int, conv_id string, turn_idx int, score double,"
    " term string, cnt long"
)
_DLS_COLS = ["kind", "conv_id", "turn_idx", "score", "term", "cnt"]

#: docmap columns every scorer needs (norms + result ids)
_BASE_COLS = ["doc_len", "conv_id", "turn_idx"]


def _exclude_filter_fields(
    spec: BooleanSpec, exclude_fields: tuple[str, ...]
) -> BooleanSpec | None:
    """Multi-select faceting domain (``{!ex=tag}``): drop every
    fq-side constraint whose field is excluded. Returns None
    (MatchAllDocs) when nothing constrains the domain afterwards —
    the fq-only multi-select case, where unchecking the one filter
    widens the facet back to the whole collection."""
    from dataclasses import replace

    out = replace(
        spec,
        filters=tuple(f for f in spec.filters if f[0] not in exclude_fields),
        not_filters=tuple(
            f for f in spec.not_filters if f[0] not in exclude_fields
        ),
        range_filters=tuple(
            f for f in spec.range_filters if f[0] not in exclude_fields
        ),
        in_filters=tuple(
            f for f in spec.in_filters if f[0] not in exclude_fields
        ),
        exists_filters=tuple(
            f for f in spec.exists_filters if f not in exclude_fields
        ),
        missing_filters=tuple(
            f for f in spec.missing_filters if f not in exclude_fields
        ),
    )
    constrains = (
        out.must or out.should or out.phrases or out.must_not
        or out.must_not_phrases or out.filters or out.not_filters
        or out.range_filters or out.in_filters or out.exists_filters
        or out.missing_filters or out.multi_phrases or out.span_near
        or out.span_or or out.span_not or out.span_first
        or out.span_range or out.span_within or out.wildcards
        or out.regexps
    )
    return out if constrains else None


def filter_cols(spec: BooleanSpec, base: list[str]) -> list[str]:
    """docmap columns needed beyond `base` for fq / negated / range fq."""
    want = {f for f, _ in spec.filters} | {f for f, _ in spec.not_filters}
    want |= {f for f, _, _ in spec.range_filters}
    want |= {f for f, _ in spec.in_filters}
    want |= set(spec.exists_filters) | set(spec.missing_filters)
    return list(base) + sorted(want - set(base))


def apply_deletes(allowed, dm, deleted):
    """AND the liveDocs mask (NOT tombstoned) into ``allowed``.

    ``deleted`` is a SORTED numpy bytes array of ``conv_id|turn_idx``
    keys (built once at searcher init): the membership test is one
    vectorized encode + ``searchsorted`` probe — numpy end to end, no
    per-row Python, near-free (de)serialization when the mask ships to
    tasks. ``dm`` is an Arrow table or a pandas frame holding the two
    key columns. No-op (returns ``allowed`` unchanged) when empty/None."""
    if deleted is None or not len(deleted):
        return allowed
    keys = np.char.add(
        np.char.add(np.asarray(dm["conv_id"]).astype("U"), "|"),
        np.asarray(dm["turn_idx"]).astype("U"),
    ).astype("S")
    # widen both sides to a common byte width (S-compare null-pads, so
    # widening preserves order and equality; plain astype would
    # TRUNCATE longer probe keys into false matches)
    w = max(deleted.dtype.itemsize, keys.dtype.itemsize)
    if keys.dtype.itemsize != w:
        keys = keys.astype(f"S{w}")
    if deleted.dtype.itemsize != w:
        deleted = deleted.astype(f"S{w}")
    idx = np.searchsorted(deleted, keys)
    idx[idx == len(deleted)] = 0
    live = deleted[idx] != keys
    return live if allowed is None else (allowed & live)


def filter_mask(dm, spec: BooleanSpec):
    """FILTER/NOT-FILTER doc mask over a docmap pandas frame, or None.

    Negated filters use differs-or-missing semantics (pandas ``==``
    is False on NaN, so ``~`` correctly admits missing values)."""
    if (not spec.filters and not spec.not_filters
            and not spec.range_filters and not spec.in_filters
            and not spec.exists_filters and not spec.missing_filters):
        return None
    mask = None
    for fld in spec.exists_filters:
        # FieldValueQuery (field:*): the field has a value
        m = dm[fld].notna().to_numpy(bool)
        mask = m if mask is None else (mask & m)
    for fld in spec.missing_filters:
        # -field:* : the field is missing
        m = dm[fld].isna().to_numpy(bool)
        mask = m if mask is None else (mask & m)
    for fld, val in spec.filters:
        m = (dm[fld] == val).to_numpy(bool)
        mask = m if mask is None else (mask & m)
    for fld, vals in spec.in_filters:
        # TermsQParser: set membership (missing field never matches —
        # pandas isin is False on NaN, TermInSetQuery semantics)
        m = dm[fld].isin(vals).to_numpy(bool)
        mask = m if mask is None else (mask & m)
    for fld, val in spec.not_filters:
        m = ~(dm[fld] == val).to_numpy(bool)
        mask = m if mask is None else (mask & m)
    for fld, lo, hi in spec.range_filters:
        col = dm[fld]
        for bound, is_lo in ((lo, True), (hi, False)):
            if bound is None:
                continue
            m = _range_cmp(col, bound, is_lo)
            mask = m if mask is None else (mask & m)
    return mask


def postings_task_columns(spec) -> list[str] | None:
    """Columns an in-task postings read needs (None = all). For a
    non-positional spec the pos pair stays in the parquet file — at
    corpus scale the position payload dominates postings bytes, the
    Lucene .pos-file IO contract (see BooleanSpec.needs_positions)."""
    if spec is None or spec.needs_positions:
        return None
    return ["seg_id", "term", "df", "cf", "first_docs", "doc_offs",
            "tf_offs", "max_tfs", "min_dls", "doc_bytes", "tf_bytes"]


def segment_postings(seg_dir: str, terms, columns) -> dict:
    """TASK-side: one segment's postings rows for ``terms`` as
    ``{term: row}`` — the terms-dict seek (the file is term-sorted, so
    the ``in`` filter prunes row groups on their min/max stats) plus
    the column projection of :func:`postings_task_columns`."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{seg_dir}/postings.parquet",
        filters=[("term", "in", list(terms))],
        columns=columns,
    ).to_pandas()
    return {r["term"]: r for _, r in tbl.iterrows()}


def _take_keys(dm, docs, **extra) -> pd.DataFrame:
    """TASK-side output rows: the (conv_id, turn_idx) keys of ``docs``,
    taken on the Arrow side so only these rows cross into pandas, plus
    the ``extra`` per-row columns."""
    out = dm.select(["conv_id", "turn_idx"]).take(docs).to_pandas()
    for name, vals in extra.items():
        out[name] = vals
    return out


def local_frame(spark: SparkSession, pdf: pd.DataFrame, schema) -> DataFrame:
    """A driver-side table from a pandas frame: with Arrow on
    (``get_spark``) it is a JVM-only LocalRelation, so ``collect`` runs
    no Spark job. Zero rows go through an Arrow table: an empty pandas
    frame would fall back to an RDD scan, one job with a Python worker
    on every collect (as a list of Rows always does)."""
    if len(pdf):
        return spark.createDataFrame(pdf, schema)
    import pyarrow as pa

    return spark.createDataFrame(
        pa.Table.from_pandas(pdf, preserve_index=False), schema
    )


def _write_bits(cache_dir: str, seg_id: int, payload: bytes) -> None:
    """Task-side atomic sidecar write: unique temp + rename, so a
    concurrent warm of the same entry (or a task retry) can never
    expose a torn file."""
    import uuid

    tmp = os.path.join(cache_dir, f".{seg_id}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, os.path.join(cache_dir, f"{seg_id}.bits"))


class SegBitsCache:
    """Executor-resident cached bitsets — the storage layer behind the
    filterCache and queryResultCache. The per-segment packed bits live
    as sidecar FILES under ``{index_root}/querycache/…/{seg_id}.bits``,
    written by the same per-segment tasks that computed them and read
    back by whichever task serves that segment (the "tasks read their
    own segment's Parquet" locality pattern: on a cluster the cache
    shares the index's storage and data-locality, Solr's per-core
    filterCache analog — SolrIndexSearcher's caches are shard-local,
    never coordinator-resident). The DRIVER keeps only
    ``{seg_id: (n_docs, popcount)}`` — O(#segments) ints — so no
    single process ever materializes a corpus-width mask: at 10^12
    docs the old collect-and-broadcast design moved ~125 GB per cached
    entry through the driver and every executor (VERDICT r4 item 3);
    this handle moves ~16 bytes per segment. GC/replication never
    touch the dir (both sweep only ``segments/`` + ``deletes/``)."""

    __slots__ = ("path", "meta")

    def __init__(self, path: str, meta: dict[int, tuple[int, int]]):
        self.path = path
        self.meta = meta

    def get(self, seg_id: int) -> tuple[bytes, int]:
        """TASK-side: this one segment's packed bits + its doc count
        (a maxDoc/8-byte local read — never another segment's)."""
        with open(os.path.join(self.path, f"{seg_id}.bits"), "rb") as f:
            return f.read(), self.meta[seg_id][0]

    def popcount(self) -> int:
        """DRIVER-side |DocSet| from the warm-time per-segment
        popcounts — zero jobs, zero IO (the numFound fast path)."""
        return sum(p for _, p in self.meta.values())

    def destroy(self) -> None:
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)


def _unpack(bits_cache: SegBitsCache, seg_id: int) -> np.ndarray:
    """One segment's cached packed bits as a bool mask."""
    bits, n = bits_cache.get(seg_id)
    return np.unpackbits(np.frombuffer(bits, np.uint8), count=n).astype(bool)


#: an unset lazily computed mask (None is a valid mask: admit all)
_UNSET = object()


class Leaf:
    """One segment as :meth:`SegmentDomain.open` read it: the docmap
    columns ``dm``, the hit ords ``hits`` (None: every doc), the mask
    ``allowed`` the hits were matched under (None admits every doc) and
    the liveDocs mask ``live`` (None: nothing deleted). Every mask is
    the one the reader built on the way — never probed a second time;
    only a queryResultCache hit, whose bits already hold liveDocs,
    probes ``live`` on first use."""

    __slots__ = ("dm", "hits", "allowed", "_live", "_dom")

    def __init__(self, dom, dm, hits, allowed, live=_UNSET):
        self.dm, self.hits, self.allowed = dm, hits, allowed
        self._dom, self._live = dom, live

    @property
    def live(self):
        if self._live is _UNSET:
            self._live = self._dom._live_docs(self.dm)
        return self._live


class SegmentDomain:
    """The engine's one task-side segment reader (Lucene's
    ``LeafReader``): every per-segment task that reads a segment's
    docmap opens it here, so the liveDocs mask is applied by structure.
    No other code names ``docmap.parquet``, calls ``apply_deletes`` /
    ``filter_mask`` or probes liveDocs (tests/test_segment_reader.py
    walks the AST to keep it so).

    Built on the driver for one query ``spec`` (None is MatchAllDocs),
    which it rewrites first (multiterm → SHOULD terms, the one
    ``IndexSearcher.rewrite`` call every domain user shares), and
    shipped to the tasks of :meth:`IndexSearcher.each_segment`.
    Each call reads the segment's docmap ONCE, ARROW-NATIVE: pruned to
    the caller's ``cols`` plus the fq columns, plus the delete keys only
    when tombstones exist, and only the fq columns and the delete keys
    cross into pandas — a whole-segment ``to_pandas`` materializes every
    conv_id as a python string, the corpus-width cost. Callers convert
    the columns they read (:meth:`ints`).

    Outputs, each with liveDocs applied:

    - :meth:`allowed` — the scorers' mask: the filterCache bits on a
      hit, else ``filter_mask`` over the fq columns.
    - :meth:`open` — a :class:`Leaf`: the hit ords (the queryResultCache
      bits on a hit — no postings read, no fq columns; see
      ``IndexSearcher.cache_docset`` — else ``match_segment`` over
      :meth:`allowed`), the mask they were matched under and the
      liveDocs mask. :meth:`read` is its ``(dm, hits)``. Pass
      ``postings_spec`` to each_segment.
    - :meth:`stream` — live docmap batches in index order, for
      index-sort early termination (no whole-segment read).

    ``max_dl`` (the phrase stride) comes from the manifest's committed
    per-segment stats; only a manifest written before ``max_dl``
    existed makes the reader take ``doc_len`` for it (:meth:`max_doclen`).
    """

    DOCMAP = "docmap.parquet"

    def __init__(self, searcher, spec: BooleanSpec | None, cols):
        if spec is not None and spec.needs_rewrite:
            spec = searcher.rewrite(spec)
        self.spec = spec
        #: an unsatisfiable mm (a multiterm pattern that expanded to
        #: nothing) matches no doc — never the term-free MatchAll
        self.empty = (
            spec is not None and spec.min_should_match > len(spec.should)
        )
        self.seg_dirs = searcher.seg_dir_by_id
        self.deleted_bc = searcher._deleted_bc
        # None on a manifest written before max_dl existed
        self.max_dl = {
            int(s["part"]): s.get("max_dl")
            for s in searcher.manifest.segments.values()
        }
        cols = list(cols)
        if None in self.max_dl.values():
            cols.append("doc_len")
        keys = ["conv_id", "turn_idx"] if searcher.deleted_keys else []
        self.fq_bits = (
            searcher._fq_cached_bc(spec) if spec is not None else None
        )
        #: docmap fields the fq mask reads (none on a filterCache hit)
        self.fq_fields = (
            filter_cols(spec, []) if spec is not None and self.fq_bits is None
            else []
        )
        self.cols = list(dict.fromkeys(cols + self.fq_fields + keys))
        self.bits = (
            searcher._docset_cached_bc(spec) if spec is not None else None
        )
        #: what each_segment reads postings for (a cache hit: nothing)
        self.postings_spec = spec if self.bits is None else None
        #: the columns :meth:`open` takes on a queryResultCache hit
        self.hit_cols = list(dict.fromkeys(cols + keys))

    def path(self, seg_id: int) -> str:
        return f"{self.seg_dirs[seg_id]}/{self.DOCMAP}"

    def _open(self, seg_id: int, cols):
        import pyarrow.parquet as pq

        # written sorted by doc_ord: row i is doc i
        return pq.read_table(self.path(seg_id), columns=cols)

    @staticmethod
    def ints(dm, col: str) -> np.ndarray:
        """One integer column of a docmap read as int64 numpy."""
        return np.asarray(dm.column(col).to_numpy(), np.int64)

    def _live_docs(self, dm):
        """liveDocs mask over ``dm`` (an Arrow read or a pandas frame
        carrying the delete keys); None when nothing is deleted."""
        bc = self.deleted_bc
        return apply_deletes(None, dm, bc.value if bc else None)

    def max_doclen(self, seg_id: int, dm) -> int:
        m = self.max_dl[seg_id]
        if m is None:  # pre-max_dl manifest: the docmap maximum
            m = int(self.ints(dm, "doc_len").max()) if len(dm) else 0
        return m

    def _masks(self, seg_id: int):
        """(docmap columns, fq mask ∩ liveDocs, liveDocs) of one
        segment; a None mask admits every doc."""
        dm = self._open(seg_id, self.cols)
        if self.fq_bits is not None:
            fq = _unpack(self.fq_bits, seg_id)
        elif self.fq_fields:
            fq = filter_mask(dm.select(self.fq_fields).to_pandas(), self.spec)
        else:
            fq = None
        live = self._live_docs(dm)
        if fq is None or live is None:
            return dm, (live if fq is None else fq), live
        return dm, fq & live, live

    def allowed(self, seg_id: int):
        """TASK-side: ``(docmap columns, allowed mask)`` of one segment
        — the fq mask ∩ liveDocs; a None mask admits every doc."""
        dm, allowed, _live = self._masks(seg_id)
        return dm, allowed

    def open(self, seg_id: int, term_rows) -> Leaf:
        """TASK-side: one segment's :class:`Leaf`. On a
        queryResultCache hit the hit bits are also its ``allowed``
        mask: they are the match set ∩ fq ∩ liveDocs, so a scorer
        restricted to them ranks exactly the docs it would rank under
        fq ∩ liveDocs, without reading the fq columns."""
        if self.bits is not None:
            dm = self._open(seg_id, self.hit_cols)
            bits = _unpack(self.bits, seg_id)
            return Leaf(self, dm, np.flatnonzero(bits), bits)
        dm, allowed, live = self._masks(seg_id)
        if self.empty:
            hits = np.empty(0, np.int64)
        elif self.spec is None:
            hits = None if allowed is None else np.flatnonzero(allowed)
        else:
            hits = match_segment(
                self.spec, term_rows, len(dm), allowed,
                self.max_doclen(seg_id, dm),
            )
        return Leaf(self, dm, hits, allowed, live)

    def read(self, seg_id: int, term_rows):
        """TASK-side: ``(docmap columns, hit ords)`` of one segment;
        hit ords None means every doc."""
        leaf = self.open(seg_id, term_rows)
        return leaf.dm, leaf.hits

    def stream(self, seg_id: int, cols, batch_size: int, after=None):
        """TASK-side: the segment's docmap ``cols`` (the two key
        columns among them) as live pandas batches in index order —
        the streaming read of index-sort early termination, which
        stops after a few batches. ``after`` is a (conv_id, turn_idx)
        mark: row groups whose conv_id max sits before it are skipped
        on their statistics (the sorted-segment seek), and the
        boundary batch is masked row-wise."""
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(self.path(seg_id))
        groups = range(pf.num_row_groups)
        if after is not None:
            conv_i = pf.schema_arrow.names.index("conv_id")
            groups = [
                g for g in groups
                if (st := pf.metadata.row_group(g).column(conv_i)
                    .statistics) is None or st.max >= after[0]
            ]
        for batch in pf.iter_batches(
            batch_size=batch_size, columns=cols, row_groups=list(groups),
        ):
            dm = batch.to_pandas()
            if after is not None:
                c0, t0 = after
                dm = dm[(dm["conv_id"] > c0) | (
                    (dm["conv_id"] == c0) & (dm["turn_idx"] > t0)
                )]
            live = self._live_docs(dm)
            yield dm if live is None else dm[live]


def _range_cmp(col, bound: str, is_lo: bool):
    """Vectorized inclusive bound compare in the column's native type
    (missing values never match, TermRangeQuery semantics)."""
    import pandas as pd

    if pd.api.types.is_datetime64_any_dtype(col):
        v = pd.Timestamp(bound)
    elif pd.api.types.is_integer_dtype(col):
        v = int(bound)
    elif pd.api.types.is_float_dtype(col):
        v = float(bound)
    else:  # object strings (may hold None): NA-safe string compare
        cs = col.astype("string")
        m = (cs >= bound) if is_lo else (cs <= bound)
        return m.fillna(False).to_numpy(bool)
    m = (col >= v) if is_lo else (col <= v)
    return m.fillna(False).to_numpy(bool) if m.isna().any() else m.to_numpy(bool)


class IndexSearcher:
    """Searcher bound to the latest committed snapshot of an index."""

    def __init__(
        self,
        spark: SparkSession,
        index_root: str,
        analyzer_version: str | None = None,
        snapshot_id: int | None = None,
    ):
        """`analyzer_version`: the QUERY-TIME analysis chain version.
        When given, it must equal the chain the index was built with
        (manifest-recorded) — querying a stemmed index with unstemmed
        terms (or vice versa) silently misses matches, so the mismatch
        raises instead (the Analyzer invariant, ``Analyzer.java``:
        one chain at index and query time).

        `snapshot_id`: open a HISTORICAL commit point instead of the
        latest (``DirectoryReader.open(IndexCommit)`` / Iceberg
        time-travel): immutable segment files make every retained
        snapshot a complete consistent view, including its own
        tombstone set and global stats."""
        self.spark = spark
        self.index_root = index_root
        self.manifest = Manifest.load(index_root, snapshot_id=snapshot_id)
        if not self.manifest.segments:
            raise ValueError(f"no committed snapshot under {index_root}")
        from lucene_solr_spark.index.manifest import CURRENT_FORMAT

        if self.manifest.format_version > CURRENT_FORMAT:
            # forward-compat guard (Codec name check analog): v1/v2
            # both read fine (buckets are clustering only), a FUTURE
            # format may not
            raise ValueError(
                f"index format v{self.manifest.format_version} is newer "
                f"than this reader (v{CURRENT_FORMAT})"
            )
        if (
            analyzer_version is not None
            and analyzer_version != self.manifest.analyzer_version
        ):
            raise ValueError(
                f"query-time analyzer {analyzer_version!r} != index "
                f"analyzer {self.manifest.analyzer_version!r}"
            )
        dirs = self.manifest.seg_dirs()
        self._postings_files = [f"{d}/postings.parquet" for d in dirs]
        self._docmap_files = [f"{d}/{SegmentDomain.DOCMAP}" for d in dirs]
        self._dict_files = [f"{d}/dicts.parquet" for d in dirs]
        #: seg_id → segment dir (shipped to scorer tasks; tiny)
        self.seg_dir_by_id = {
            int(seg["part"]): os.path.join(index_root, "segments", name)
            for name, seg in self.manifest.segments.items()
        }
        # Resolve file listings once (InMemoryFileIndex construction is
        # driver-side overhead we must not pay per query).
        self._postings_df = self.spark.read.parquet(*self._postings_files)
        self._docmap_df = self.spark.read.parquet(*self._docmap_files)
        self._dicts_df = self.spark.read.parquet(*self._dict_files)
        #: term → global df cache (SolrIndexSearcher filterCache spirit)
        self._df_cache: dict[str, int] = {}
        #: (kind, pattern, max_expansions) → rewrite's expanded terms;
        #: snapshot-stable like the df cache
        self._expansions: dict[tuple, list[str]] = {}
        #: driver-side pyarrow dataset over the postings files (global_df)
        self._postings_ds = None
        self._field_card_cache: dict[str, int] = {}
        # MatchAll facet partials cache (UnInvertedField / FieldCache
        # analog): keyed (field, group_by, missing), bounded by the 3
        # docvalues fields × flags; safe because a searcher is pinned
        # to ONE snapshot (deletes/merges produce a NEW searcher, so
        # the cached counts can never go stale). facets.facet_field
        # owns population; entries persist for the searcher's life.
        self._facet_cache: dict[tuple, object] = {}
        #: filterCache: canonical fq key → SegBitsCache handle over
        #: per-segment packed-bitset sidecar files (see cache_filter)
        self._fq_cache: dict[tuple, SegBitsCache] = {}
        #: queryResultCache: full-spec key (k=0) → SegBitsCache handle
        #: over per-segment packed HIT bitsets (see cache_docset)
        self._docset_cache: dict = {}
        #: liveDocs analog: tombstoned (conv_id, turn_idx) keys.
        #: Shipped to tasks via a Spark BROADCAST (serialized once,
        #: cached per executor/worker) — capturing the raw set in UDF
        #: closures re-pickles it into every stage of every query
        #: (~2s/query at 50k tombstones; measured).
        self.deleted_keys: frozenset = frozenset()
        self._deleted_bc = None
        tb = self.manifest.tombstones
        if tb:
            import numpy as np
            import pyarrow.parquet as pq

            t = pq.read_table(os.path.join(index_root, tb["path"]))
            convs = t.column("conv_id").to_pylist()
            turns = t.column("turn_idx").to_pylist()
            self.deleted_keys = frozenset(zip(convs, turns))
            arr = np.sort(
                np.array([f"{c}|{i}".encode() for c, i in zip(convs, turns)])
            )
            self._deleted_bc = spark.sparkContext.broadcast(arr)

    def persist(self) -> "IndexSearcher":
        """Serving mode: pin the postings TABLE (``postings()``) in
        executor memory (the OS-page-cache warm-index analog). It
        serves the plans that still scan the whole postings table —
        the MultiTermQuery dictionary scan (``expand_terms``), the
        handler's term-dictionary legs (tv.df, spellcheck, suggest)
        and the registry operators over ``postings()``. The
        per-segment passes (``each_segment``: search, DocSet, facets)
        and the df probe (``global_df``) read the segment files
        directly and never touch it."""
        self._postings_df = self._postings_df.persist()
        self._postings_df.count()  # materialize
        return self

    # -- filterCache (SolrIndexSearcher#getDocSet fq bitsets) ----------

    #: solrconfig filterCache size analog: bounded entries, oldest out
    MAX_FILTER_CACHE = 64

    @staticmethod
    def _filter_key(spec: BooleanSpec) -> tuple:
        """Canonical fq identity — every non-scoring constraint kind
        that rides the filter mask path (the filter_cols inventory)."""
        return (
            tuple(spec.filters), tuple(spec.not_filters),
            tuple(spec.range_filters), tuple(spec.in_filters),
            tuple(spec.exists_filters), tuple(spec.missing_filters),
        )

    def _cache_entry_dir(self, kind: str, key) -> str:
        """Sidecar directory for one cache entry: namespaced by the
        searcher's snapshot (entries can never cross snapshots) and
        the md5 of the canonical key. Lives beside ``segments/`` on
        the index's own storage; gc_snapshots/replication never
        enumerate it."""
        import hashlib

        digest = hashlib.md5(repr(key).encode()).hexdigest()[:16]
        d = os.path.join(
            self.index_root, "querycache",
            f"snap{self.manifest.snapshot_id}", f"{kind}-{digest}",
        )
        os.makedirs(d, exist_ok=True)
        return d

    def cache_filter(self, spec: BooleanSpec) -> bool:
        """Populate the filterCache for ``spec``'s fq constraints: one
        each_segment job takes the reader's allowed mask per segment
        (fq ∩ liveDocs — like Solr's DocSets, the bits hold live docs
        only; the reader intersects liveDocs again on a hit), packs it
        to a bitset (maxDoc/8 bytes — exactly Lucene's per-core
        FixedBitSet cost model) and writes it as a per-segment sidecar
        file IN THE SAME TASK (SegBitsCache: executor/storage-resident
        bits; the driver keeps only per-segment counts). Subsequent
        ``search`` calls whose fq constraints match the cached key
        skip BOTH the per-row predicate evaluation AND the parquet
        read of the fq columns (the docmap scan shrinks to the base
        columns). Returns False (no-op) for a filterless spec.

        Unlike Solr the cache warms EXPLICITLY (Solr caches the bitset
        as a byproduct of fq execution; here the masks materialize
        inside executor tasks, so a dedicated bounded job builds
        them). Entries are safe for the searcher's lifetime — a
        searcher is pinned to one snapshot (the facet-cache
        precedent); deletes/merges produce a NEW searcher. Capped at
        MAX_FILTER_CACHE entries, oldest evicted and its sidecar dir
        removed.

        ref: solr/core/src/java/org/apache/solr/search/
        SolrIndexSearcher.java (getDocSet / filterCache),
        solr/core/src/java/org/apache/solr/search/DocSetCollector.java
        """
        key = self._filter_key(spec)
        if not any(key):
            return False
        if key in self._fq_cache:
            return True
        fspec = BooleanSpec(
            filters=spec.filters, not_filters=spec.not_filters,
            range_filters=spec.range_filters, in_filters=spec.in_filters,
            exists_filters=spec.exists_filters,
            missing_filters=spec.missing_filters,
        )
        dom = SegmentDomain(self, fspec, [])
        cdir = self._cache_entry_dir("fq", key)

        def one(seg_id, _term_rows):
            import pandas as pd

            dm, allowed = dom.allowed(seg_id)
            mask = np.asarray(allowed, dtype=np.uint8)
            _write_bits(cdir, seg_id, np.packbits(mask).tobytes())
            return pd.DataFrame(
                {"seg_id": [seg_id], "n": [len(dm)],
                 "pop": [int(mask.sum())]}
            )

        rows = self.each_segment(
            one, "seg_id int, n long, pop long"
        ).collect()  # O(#segments) count rows — never the bits
        meta = {int(r.seg_id): (int(r.n), int(r.pop)) for r in rows}
        if len(self._fq_cache) >= self.MAX_FILTER_CACHE:
            self._fq_cache.pop(next(iter(self._fq_cache))).destroy()
        self._fq_cache[key] = SegBitsCache(cdir, meta)
        return True

    def _fq_cached_bc(self, spec: BooleanSpec):
        """SegBitsCache handle over the per-segment fq bitsets for
        specs whose fq constraints hit the cache, else None."""
        return self._fq_cache.get(self._filter_key(spec))

    # -- queryResultCache (SolrIndexSearcher#getDocSet full-spec) ------

    #: solrconfig queryResultCache size analog
    MAX_DOCSET_CACHE = 32

    @staticmethod
    def _docset_key(spec: BooleanSpec) -> BooleanSpec:
        """Canonical DocSet identity: the spec minus paging (k) —
        every page of a request shares one DocSet, Solr's
        queryResultCache windowing spirit. Multiterm specs key on
        their REWRITTEN form (cache_docset and docset_count rewrite
        before keying)."""
        from dataclasses import replace as _replace

        return _replace(spec, k=0)

    def cache_docset(self, spec: BooleanSpec) -> None:
        """Warm the FULL-spec DocSet as per-segment packed bitsets
        (getDocSet + queryResultCache): ONE each_segment job computes
        each segment's live hit mask (scoring match ∩ fq ∩ liveDocs —
        tombstones bake in, safe because a searcher is pinned to one
        snapshot) and writes maxDoc/8 bytes per segment as a sidecar
        file in the same task (SegBitsCache — the driver holds only
        per-segment counts). On a hit: ``docset_count`` answers from
        the warm-time popcounts (ZERO jobs — the /select numFound),
        ``docset`` serves keys without postings or fq evaluation, and
        the facet sparse pass skips match_segment AND the fq docvalues
        columns entirely (see facets.segment_partials). Bounded like
        the filterCache: MAX_DOCSET_CACHE entries, oldest evicted and
        its sidecar dir removed.

        ref: solr/core/src/java/org/apache/solr/search/
        SolrIndexSearcher.java (getDocSet / queryResultCache)"""
        import numpy as np

        if spec.needs_rewrite:
            spec = self.rewrite(spec)
        key = self._docset_key(spec)
        if key in self._docset_cache:
            return
        # the warm task reads the doc keys ONLY to bake the liveDocs
        # mask in: with no tombstones the domain drops the key columns
        # (10M string reads per warm at 10M turns, otherwise)
        dom = SegmentDomain(self, key, [])
        cdir = self._cache_entry_dir("ds", key)

        def one(seg_id, term_rows):
            import pandas as pd

            dm, hits = dom.read(seg_id, term_rows)
            mask = np.zeros(len(dm), dtype=np.uint8)
            mask[hits] = 1
            _write_bits(cdir, seg_id, np.packbits(mask).tobytes())
            return pd.DataFrame(
                {"seg_id": [seg_id], "n": [len(dm)],
                 "pop": [int(mask.sum())]}
            )

        # every segment writes its bits (a term-free one writes an
        # empty set): cache readers fetch each segment's file
        rows = self.each_segment(
            one, "seg_id int, n long, pop long", key, visit_all=True
        ).collect()  # O(#segments) count rows — never the bits
        meta = {int(r.seg_id): (int(r.n), int(r.pop)) for r in rows}
        if len(self._docset_cache) >= self.MAX_DOCSET_CACHE:
            self._docset_cache.pop(
                next(iter(self._docset_cache))
            ).destroy()
        self._docset_cache[key] = SegBitsCache(cdir, meta)

    def _docset_cached_bc(self, spec: BooleanSpec):
        """SegBitsCache handle over the per-segment hit bitsets on a
        queryResultCache hit, else None."""
        return self._docset_cache.get(self._docset_key(spec))

    def docset_count(self, spec: BooleanSpec) -> int:
        """|DocSet| — on a queryResultCache hit this sums the
        warm-time per-segment popcounts (zero Spark jobs, zero IO —
        the numFound fast path); else one bounded count job. A
        multiterm spec probes under its rewritten key, so a warm
        pattern hits too."""
        if spec.needs_rewrite:
            spec = self.rewrite(spec)
        bc = self._docset_cached_bc(spec)
        if bc is not None:
            return bc.popcount()
        return self.docset(spec).count()

    # -- table handles -------------------------------------------------
    def postings(self) -> DataFrame:
        return self._postings_df

    def docmap(self) -> DataFrame:
        """Docvalues view — with liveDocs applied (Lucene docvalues
        iteration honors deletes), via a broadcast anti-join only when
        tombstones exist (zero plan change otherwise)."""
        if not self.deleted_keys:
            return self._docmap_df
        # with Arrow on (get_spark), a pandas frame becomes a JVM-only
        # LocalRelation; a list of tuples would cost a Python worker
        # pass (parallelize + an identity map) on every execution
        dead = self.spark.createDataFrame(
            pd.DataFrame(
                sorted(self.deleted_keys), columns=["conv_id", "turn_idx"]
            ).astype({"turn_idx": "int32"}),
            "conv_id string, turn_idx int",
        )
        return self._docmap_df.join(
            F.broadcast(dead), ["conv_id", "turn_idx"], "left_anti"
        )

    def dicts(self) -> DataFrame:
        return self._dicts_df

    def field_cardinality(self, field: str) -> int:
        """Global distinct-term count of a docvalues field (cached).
        Drives the facet method choice, the Solr ``facet.method``
        heuristic: SimpleFacets picks enum/fc by field term count vs
        request size; we pick the exact driver merge vs two-phase
        refine the same way (see facets.facet_field). A DRIVER-side
        pyarrow read of the (field, term) columns of every segment's
        ``dicts.parquet``, like ``global_df`` — no Spark job, so the
        first facet request after a commit pays none either."""
        card = self._field_card_cache.get(field)
        if card is None:
            import pyarrow.compute as pc
            import pyarrow.dataset as ds

            terms = ds.dataset(self._dict_files, format="parquet").to_table(
                columns=["term"], filter=ds.field("field") == field
            ).column("term")
            card = len(pc.unique(terms))
            self._field_card_cache[field] = card
        return card

    # -- Weight binding ------------------------------------------------
    def global_df(self, terms: list[str]) -> dict[str, int]:
        """Index-wide doc freq per term (cached). Uncached terms cost
        one DRIVER-side read of the (term, df) columns over every
        segment's postings file, the term filter pushed down to the
        row-group statistics of the term-sorted files — at most
        #segments × #terms rows, summed here. No Spark job: the
        driver already reads index files (manifest, tombstones), and
        a job costs far more than the whole probe (median of 35 probes
        of 3 terms, 4 segments, 4-core host: 103 ms as a Spark job
        against 3.2 ms here)."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            import pyarrow.dataset as ds

            if self._postings_ds is None:  # fragments keep their footers
                self._postings_ds = ds.dataset(
                    self._postings_files, format="parquet"
                )
            found = dict.fromkeys(missing, 0)
            tbl = self._postings_ds.to_table(
                columns=["term", "df"], filter=ds.field("term").isin(missing)
            )
            for t, df in zip(
                tbl.column("term").to_pylist(), tbl.column("df").to_pylist()
            ):
                found[t] += int(df)
            self._df_cache.update(found)
        return {t: self._df_cache[t] for t in terms}

    def global_idf(self, terms: list[str]) -> dict[str, float]:
        """idf from index-wide df (BM25Similarity.java formula)."""
        n = self.manifest.n_docs
        dfs = self.global_df(terms)
        return {
            t: math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in terms
        }

    # -- search --------------------------------------------------------
    def _weights(self, spec: BooleanSpec):
        """Bind a scored query (``Weight`` creation): ``(rewritten
        spec, idf per lookup term)``, boosts folded into the idf; the
        idf is None when the spec can match nothing."""
        if spec.needs_rewrite:
            spec = self.rewrite(spec)
        if spec.min_should_match > len(spec.should):
            # unsatisfiable mm — e.g. a multiterm pattern that matched
            # NOTHING in the dictionary (Lucene's empty rewrite with
            # mm=1): zero hits, not an error
            return spec, None
        if not spec.scoring_terms:
            # Lucene rejects pure-negative scored queries (QueryUtils
            # .makeQueryable wraps them for filters, not scoring).
            raise ValueError("query has no scoring terms")
        idf = self.global_idf(list(spec.lookup_terms))  # must_not keyed
        if spec.boosts:
            # BoostQuery: contribution AND WAND upper bound both scale
            # linearly in idf, so folding the boost into idf applies it
            # everywhere consistently (pruning stays sound).
            bm = spec.boost_map
            idf = {t: v * bm.get(t, 1.0) for t, v in idf.items()}
        return spec, idf

    def score_hits(
        self, spec: BooleanSpec, k: int | None = None,
        round_to: int | None = None,
    ) -> DataFrame:
        """UNSORTED scored hits: per-segment top-k rows (all matching
        turns when k is None) with raw float64 scores — no global sort.
        ``round_to`` is the rounding the caller ranks by: each segment
        then also keeps the docs that tie its k-th score only after
        rounding, so the pinned tiebreak sees them.

        This is the composable building block: :meth:`search` adds the
        pinned TakeOrdered; parent-block aggregation
        (:meth:`search_conversations`) and rerank consume it directly,
        avoiding a degenerate single-task sort of the full hit set
        that a giant-k ``orderBy().limit()`` would plan."""
        spec, idf = self._weights(spec)
        if idf is None:
            return local_frame(
                self.spark,
                pd.DataFrame(columns=["conv_id", "turn_idx", "score"]),
                RESULT_SCHEMA,
            )
        avgdl = self.manifest.avgdl
        seg_k = (1 << 62) if k is None else k
        # norms + result ids; a filterCache hit drops the fq columns
        dom = SegmentDomain(self, spec, _BASE_COLS)

        def run_seg(seg_id, term_rows):
            # only the top-k OUTPUT rows cross into pandas here
            dm, allowed = dom.allowed(seg_id)
            docs, scores = score_segment(
                spec, term_rows, idf, avgdl, dom.ints(dm, "doc_len"),
                allowed, seg_k, round_to,
            )
            return _take_keys(dm, docs, score=scores)

        return self.each_segment(run_seg, RESULT_SCHEMA, spec)

    def search(self, spec: BooleanSpec, round_to: int | None = None) -> DataFrame:
        hits = self.score_hits(spec, k=spec.k, round_to=round_to)
        if round_to is not None:
            hits = hits.withColumn("score", F.round("score", round_to))
        return hits.orderBy(F.desc("score"), "conv_id", "turn_idx").limit(spec.k)

    def doc_list_and_set(
        self, spec: BooleanSpec, k: int, round_to: int, facet_reqs=(),
    ) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
        """The ranked top ``k`` and the exact counts of each
        ``facet_reqs`` facet.field request over the same domain, from
        ONE per-segment pass — ``SolrIndexSearcher#getDocListAndSet``:
        one collection returns the DocList and the DocSet the facet
        counters then count over.

        Each :meth:`each_segment` task opens its segment once through
        :class:`SegmentDomain`, scores its top ``k`` under the reader's
        ``allowed`` mask with the ``round_to`` tie floor (as
        :meth:`score_hits`), and counts every request over the
        reader's hit ords (``facets.count_partials``). Its rows carry a
        ``kind`` column: -1 for a scored hit, i for request i's
        partials. The scores are rounded in the same job, so they are
        bit-identical to :meth:`search`'s; the driver then orders the
        hits (score desc, conv_id, turn_idx), keeps ``k``, and merges
        each request's partials (``facets.merge_partials``).

        Returns ``(top-k hits, [(facet_value, cnt) per request])`` as
        pandas frames — the caller decides what becomes a Spark table.
        Requests must be exact-merge ones (``facets.use_refine`` False)."""
        from lucene_solr_spark.query.facets import (
            _ord_terms, count_partials, merge_partials,
        )

        reqs = list(facet_reqs)
        spec, idf = self._weights(spec)
        if idf is None:
            no_parts = pd.DataFrame({"term": [], "cnt": []})
            return (
                pd.DataFrame({"conv_id": [], "turn_idx": [], "score": []}),
                [merge_partials(no_parts, r) for r in reqs],
            )
        fields = list(dict.fromkeys(r.field for r in reqs))
        grouped = any(r.group_by for r in reqs)
        dom = SegmentDomain(
            self, spec,
            _BASE_COLS + [f"{f}_ord" for f in fields]
            + (["conv_id"] if grouped else []),
        )
        avgdl = self.manifest.avgdl

        def run_seg(seg_id, term_rows):
            leaf = dom.open(seg_id, term_rows)
            docs, scores = np.empty(0, np.int64), np.empty(0)
            if k:  # rows=0 at start 0: a facet-only request scores nothing
                docs, scores = score_segment(
                    spec, term_rows, idf, avgdl,
                    dom.ints(leaf.dm, "doc_len"), leaf.allowed, k, round_to,
                )
            out = [_take_keys(leaf.dm, docs, score=scores, kind=-1)]
            if reqs:
                luts = dict(zip(
                    fields, _ord_terms(dom.seg_dirs[seg_id], *fields)
                ))
                out += [
                    count_partials(leaf.dm, leaf.hits, r, luts[r.field])
                    .assign(kind=i)
                    for i, r in enumerate(reqs)
                ]
            return pd.concat(out, ignore_index=True)[_DLS_COLS]

        rows = (
            self.each_segment(run_seg, DOC_LIST_AND_SET_SCHEMA, spec)
            .withColumn("score", F.round("score", round_to))
            .toPandas()
        )
        hits = rows[rows["kind"] < 0].sort_values(
            ["score", "conv_id", "turn_idx"], ascending=[False, True, True]
        ).head(k)
        top = pd.DataFrame({
            "conv_id": hits["conv_id"].to_numpy(object),
            "turn_idx": hits["turn_idx"].to_numpy(np.int32),
            "score": hits["score"].to_numpy(np.float64),
        })
        return top, [
            merge_partials(rows.loc[rows["kind"] == i, ["term", "cnt"]], r)
            for i, r in enumerate(reqs)
        ]

    def rerank(
        self,
        spec: BooleanSpec,
        rr_spec: BooleanSpec,
        re_rank_docs: int,
        weight: float,
        k: int | None = None,
        round_to: int | None = 4,
    ) -> DataFrame:
        """ReRankQParserPlugin (``rq={!rerank ...}``): the main query's
        top ``re_rank_docs`` are RE-SCORED as main + weight × the
        rerank query's score; head docs the rerank query does not
        match keep their main score (the boost is additive, never
        restrictive — the match set is pinned by the first pass).

        Combination uses ROUNDED components (round_to dp) on both
        engines so cross-engine float noise cannot flip the blended
        order — the same pinned rule as the cross-field DisMax blend.

        Shuffle shape: the head is bounded (re_rank_docs rows, one
        TakeOrdered); the rerank query's scored hits stream PAST a
        broadcast semi-filter of the head keys (term-pruned postings
        pass, narrow output ≤ re_rank_docs rows), and the bounded
        boost frame broadcast-joins back onto the head. The corpus
        never shuffles; Solr's ReRankCollector likewise re-scores
        only the first-pass top-N.

        ref: solr/core/src/java/org/apache/solr/search/
             ReRankQParserPlugin.java (ReRankQuery/ReRankCollector:
             combined = firstPassScore + reRankWeight * secondPassScore
             when the rerank query matches)
        """
        from dataclasses import replace

        head = self.search(replace(spec, k=re_rank_docs), round_to=round_to)
        rr = self.score_hits(rr_spec, k=None)
        if round_to is not None:
            rr = rr.withColumn("score", F.round("score", round_to))
        keys = head.select("conv_id", "turn_idx")
        boost = (
            rr.join(F.broadcast(keys), ["conv_id", "turn_idx"], "left_semi")
            .withColumnRenamed("score", "rr_score")
        )
        comb = F.col("score") + float(weight) * F.coalesce(
            F.col("rr_score"), F.lit(0.0)
        )
        if round_to is not None:
            comb = F.round(comb, round_to)
        out = (
            head.join(F.broadcast(boost), ["conv_id", "turn_idx"], "left")
            .withColumn("score", comb)
            .drop("rr_score")
        )
        k = spec.k if k is None else k
        return out.orderBy(F.desc("score"), "conv_id", "turn_idx").limit(k)

    def cursor_page(
        self,
        spec: BooleanSpec,
        k: int | None = None,
        cursor: tuple[float, str, int] | None = None,
        round_to: int | None = None,
    ) -> DataFrame:
        """Deep paging through the index engine (W4, VERDICT r2 item
        5): keyset predicate on the pinned total order (score desc,
        conv_id asc, turn_idx asc) instead of offset paging.

        ``cursor`` is None for the first page, else the (score,
        conv_id, turn_idx) of the LAST row of the previous page — the
        serialized totalOrder mark. The page is the top-k of the hit
        set strictly AFTER the mark. Like the reference, page cost
        does not grow with depth: no k+offset heap, no global sort of
        skipped rows — each page is one distributed TakeOrdered of k
        rows over the keyset-filtered hits. When round_to is given the
        keyset compares ROUNDED scores (the values the client saw), so
        marks round-trip exactly.

        ref: solr/core/src/java/org/apache/solr/search/CursorMark.java,
             solr/core/src/java/org/apache/solr/handler/component/
             QueryComponent.java (cursorMark path)
        """
        k = spec.k if k is None else k
        # per-segment top-k would be unsound under a cursor: a page-N
        # row may rank below a segment's first k. Score all matches
        # (unsorted), filter, TakeOrdered.
        hits = self.score_hits(spec, k=None)
        if round_to is not None:
            hits = hits.withColumn("score", F.round("score", round_to))
        if cursor is not None:
            s0, c0, t0 = cursor
            after_mark = (
                (F.col("score") < s0)
                | ((F.col("score") == s0) & (F.col("conv_id") > c0))
                | (
                    (F.col("score") == s0)
                    & (F.col("conv_id") == c0)
                    & (F.col("turn_idx") > t0)
                )
            )
            hits = hits.filter(after_mark)
        return hits.orderBy(F.desc("score"), "conv_id", "turn_idx").limit(k)

    @staticmethod
    def cursor_clauses(clauses) -> list[tuple[str, bool]]:
        """A field-sort cursor's FULL total order: the request clauses
        plus the pinned (conv_id, turn_idx) tiebreak for whichever of
        the two the request didn't name (Solr's uniqueKey-in-sort
        cursor requirement, closed by the engine's pinned keys)."""
        full = list(clauses)
        present = {f for f, _ in full}
        for tb in ("conv_id", "turn_idx"):
            if tb not in present:
                full.append((tb, True))
        return full

    def cursor_page_fields(
        self,
        spec: BooleanSpec,
        clauses,
        k: int,
        cursor: tuple | None = None,
    ) -> DataFrame:
        """cursorMark deep paging under a FIELD sort (r5 — Solr's
        CursorMark works with any sort that closes a total order):
        keyset predicate = lexicographic after-mark over the full
        clause list, hits = DocSet keys joined to the PRUNED docmap
        sort columns, page = one distributed TakeOrdered of k rows.
        Like the score cursor, page cost does not grow with depth.
        Restricted to never-null docvalues fields (the parse layer
        enforces it) so the keyset compare needs no tri-state logic.

        ref: solr/core/src/java/org/apache/solr/search/CursorMark.java
        (sortSpec totalOrder + post-filter)"""
        full = self.cursor_clauses(clauses)
        extra = [f for f, _ in full if f not in ("conv_id", "turn_idx")]
        dm = self.docmap().select("conv_id", "turn_idx", *extra)
        hits = self.docset(spec).join(dm, ["conv_id", "turn_idx"])
        if cursor is not None:
            pred = None
            eq = None
            for (fld, asc), val in zip(full, cursor):
                c = F.col(fld)
                gt = (c > F.lit(val)) if asc else (c < F.lit(val))
                term = gt if eq is None else (eq & gt)
                pred = term if pred is None else (pred | term)
                this_eq = c == F.lit(val)
                eq = this_eq if eq is None else (eq & this_eq)
            hits = hits.filter(pred)
        order = [
            F.col(f).asc() if asc else F.col(f).desc() for f, asc in full
        ]
        cols = ["conv_id", "turn_idx"] + extra
        return hits.orderBy(*order).limit(k).select(*cols)

    # -- MoreLikeThis --------------------------------------------------
    def interesting_terms(
        self, text: str, max_terms: int = 5
    ) -> list[tuple[str, float]]:
        """MLT interesting-terms surface (``MoreLikeThis.java#
        retrieveInterestingTerms`` / Solr ``mlt.interestingTerms=
        details``): the source text's terms ranked by tf x idf under
        the pinned BM25 idf, rounded 6dp pre-ranking so the selection
        boundary is engine-independent, tiebreak term asc."""
        from collections import Counter

        from lucene_solr_spark.analyzer import tokenize_one

        tf = Counter(tokenize_one(text))
        idf = self.global_idf(list(tf))
        ranked = sorted(
            ((round(c * idf[t], 6), t) for t, c in tf.items()),
            key=lambda x: (-x[0], x[1]),
        )
        return [(t, s) for s, t in ranked[:max_terms]]

    def more_like_this(
        self,
        conv_id: str,
        turn_idx: int,
        text: str,
        max_terms: int = 5,
        k: int = 10,
        round_to: int | None = None,
    ) -> DataFrame:
        """MoreLikeThis (``lucene/queries/src/java/org/apache/lucene/
        queries/mlt/MoreLikeThis.java``): pick the source doc's most
        interesting terms by tf × idf (our pinned BM25 idf; scores
        rounded 6dp before ranking so the selection boundary is
        engine-independent, tiebreak term asc), then run an OR query
        excluding the source doc itself."""
        terms = tuple(t for t, _ in self.interesting_terms(text, max_terms))
        hits = self.search(
            BooleanSpec(should=terms, min_should_match=1, k=k + 1),
            round_to=round_to,
        )
        return (
            hits.filter(
                ~((F.col("conv_id") == conv_id) & (F.col("turn_idx") == turn_idx))
            )
            .orderBy(F.desc("score"), "conv_id", "turn_idx")
            .limit(k)
        )

    def mlt_batch(
        self,
        sources: list[tuple[str, int, str]],
        max_terms: int = 5,
        k: int = 5,
        round_to: int | None = None,
        min_tf: int = 1,
        min_df: int = 1,
        boost: bool = False,
    ) -> DataFrame:
        """Batched MoreLikeThis — the /select ``mlt=true`` component
        (MoreLikeThisComponent runs one MLT query PER doclist doc;
        at cluster scale that is |page| sequential searches, so this
        engine batches them into ONE distributed pass): per-source
        interesting terms rank driver-side on the bounded page
        (tf × idf, 6dp pre-round, tiebreak term asc — the
        interesting_terms contract), ONE dictionary probe serves the
        union vocabulary's dfs, ONE per-segment Arrow pass decodes
        the term-pruned postings into (term, cand, contrib) rows
        (Σ df(term) rows — never corpus-wide), then a broadcast
        source-map join + partial-aggregating groupBy((src, cand))
        + per-source top-k window. Self-matches are excluded like
        ``more_like_this``. Output keyed by the source doc (Solr's
        moreLikeThis NamedList keys on the uniqueKey), ordered
        (conv_id, turn_idx, sim_rank).

        ref: solr/core/src/java/org/apache/solr/handler/component/
             MoreLikeThisComponent.java,
             lucene/queries/src/java/org/apache/lucene/queries/mlt/
             MoreLikeThis.java"""
        from collections import Counter

        from lucene_solr_spark.analyzer import tokenize_one
        from lucene_solr_spark.query.model import B, K1
        from lucene_solr_spark.query.scorer import TermPostings

        src_tf = {
            (cid, tid): Counter(tokenize_one(text))
            for cid, tid, text in sources
        }
        union = sorted({t for tf in src_tf.values() for t in tf})
        if not union or not sources:
            return self.spark.createDataFrame(
                [],
                "conv_id string, turn_idx int, sim_conv_id string, "
                "sim_turn_idx int, score double, sim_rank long",
            )
        # ONE dictionary probe serves both the dfs (the mlt.mindf
        # gate) and the idfs (the interesting-term weights — same
        # pinned BM25Similarity formula as global_idf)
        dfs = self.global_df(union)
        n_docs = self.manifest.n_docs
        idf = {
            t: math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
            for t in union
        }
        src_rows = []
        int_union: set[str] = set()
        for (cid, tid), tf in src_tf.items():
            ranked = sorted(
                ((round(c * idf[t], 6), t) for t, c in tf.items()
                 if c >= min_tf and dfs[t] >= min_df),
                key=lambda x: (-x[0], x[1]),
            )[:max_terms]
            # mlt.boost (MoreLikeThis#setBoost): weight each
            # interesting term by its score RATIO to the best term of
            # ITS source (Lucene's tq.setBoost(myScore / bestScore));
            # boost=false keeps the flat 1.0 the plain query uses
            best = ranked[0][0] if ranked else 0.0
            for sc, t in ranked:
                b = (sc / best) if (boost and best > 0) else 1.0
                src_rows.append((cid, tid, t, float(b)))
                int_union.add(t)
        src_map = self.spark.createDataFrame(
            src_rows,
            "src_conv_id string, src_turn_idx int, term string, "
            "boost double",
        )
        avgdl = self.manifest.avgdl
        lidf = {t: idf[t] for t in int_union}
        # the batched query is an OR over the interesting terms
        or_spec = BooleanSpec(should=tuple(sorted(int_union)))
        dom = SegmentDomain(self, or_spec, _BASE_COLS)

        def run_seg(seg_id, term_rows):
            # liveDocs masks before any candidate leaves the task
            dm, live = dom.allowed(seg_id)
            doc_len = dom.ints(dm, "doc_len")
            frames = []
            for t, row in term_rows.items():
                d, tf = TermPostings(row, 0.0).decode_all()
                if live is not None:
                    m = live[d]
                    d, tf = d[m], tf[m]
                if len(d) == 0:
                    continue
                dl = doc_len[d]
                contrib = (
                    lidf[t] * (tf * (K1 + 1))
                    / (tf + K1 * (1 - B + B * dl / avgdl))
                )
                frames.append(_take_keys(dm, d, term=t, contrib=contrib))
            cols = ["term", "conv_id", "turn_idx", "contrib"]
            if not frames:
                return pd.DataFrame(columns=cols)
            return pd.concat(frames, ignore_index=True)[cols]

        contribs = self.each_segment(
            run_seg,
            "term string, conv_id string, turn_idx int, contrib double",
            or_spec,
        )
        scored = (
            contribs.join(F.broadcast(src_map), "term")
            .filter(
                ~((F.col("conv_id") == F.col("src_conv_id"))
                  & (F.col("turn_idx") == F.col("src_turn_idx")))
            )
            .groupBy("src_conv_id", "src_turn_idx", "conv_id", "turn_idx")
            .agg(F.sum(F.col("contrib") * F.col("boost")).alias("score"))
        )
        if round_to is not None:
            scored = scored.withColumn("score", F.round("score", round_to))
        w = Window.partitionBy("src_conv_id", "src_turn_idx").orderBy(
            F.desc("score"), F.asc("conv_id"), F.asc("turn_idx")
        )
        return (
            scored.withColumn("sim_rank", F.row_number().over(w).cast("long"))
            .filter(F.col("sim_rank") <= k)
            .select(
                F.col("src_conv_id").alias("conv_id"),
                F.col("src_turn_idx").alias("turn_idx"),
                F.col("conv_id").alias("sim_conv_id"),
                F.col("turn_idx").alias("sim_turn_idx"),
                "score", "sim_rank",
            )
            .orderBy("conv_id", "turn_idx", "sim_rank")
        )

    # -- debugQuery explain --------------------------------------------
    def explain(
        self,
        spec: BooleanSpec,
        conv_id: str,
        turn_idx: int,
        round_to: int | None = None,
    ) -> DataFrame:
        """debugQuery Explanation analog: the per-term BM25 breakdown
        (tf, df, idf, contrib) for ONE doc — the row-level audit trail
        behind a score. Physical: one pruned docmap probe locates the
        doc's (segment, ord, norm); one task decodes ONLY the query
        terms' postings blocks of THAT segment for that single ord
        (block skip list → one block per term). Nothing corpus-sized
        moves. Matching clauses only (Lucene explain omits absent
        terms); per-term boosts fold into contrib like scoring.

        ref: lucene/core/src/java/org/apache/lucene/search/
             IndexSearcher.java#explain, BM25Similarity.java#explain"""
        import numpy as np

        from lucene_solr_spark.query.model import B, K1
        from lucene_solr_spark.query.scorer import TermPostings, _phrase_freqs

        if spec.needs_rewrite:
            spec = self.rewrite(spec)
        terms = list(spec.scoring_terms)
        pf_terms = [t for ph in spec.pf_phrases for t in ph]
        scan_terms = list(dict.fromkeys(terms + pf_terms))
        schema = "term string, tf long, df long, idf double, contrib double"
        loc = (
            self.docmap()
            .filter(
                (F.col("conv_id") == conv_id)
                & (F.col("turn_idx") == turn_idx)
            )
            .select("seg_id", "doc_ord", "doc_len")
            .collect()
        )
        if not loc or not terms:
            return self.spark.createDataFrame([], schema)
        seg_id, doc_ord, doc_len = (
            int(loc[0].seg_id), int(loc[0].doc_ord), float(loc[0].doc_len)
        )
        dfs = self.global_df(scan_terms)
        n, avgdl = self.manifest.n_docs, self.manifest.avgdl
        bm = spec.boost_map
        pf_phrases, pf_boost = spec.pf_phrases, spec.pf_boost
        # stride for the phrase matcher: positions are < the doc's own
        # length; other candidate docs are pruned before key-building,
        # but their positions flow through — bound by the segment max
        seg_max_dl = int(doc_len)
        if pf_phrases:
            # the manifest's committed per-segment stats carry max_dl
            # (no extra Spark job); pre-max_dl manifests fall back to
            # the docmap scan
            mdl = self.manifest.seg_max_dl(seg_id)
            seg_max_dl = (
                int(mdl)
                if mdl is not None
                else int(
                    self.docmap()
                    .filter(F.col("seg_id") == seg_id)
                    .agg(F.max("doc_len"))
                    .collect()[0][0]
                )
            )

        def run(_seg_id, term_rows):
            import pandas as pd

            rows = []
            for t in term_rows:
                if t not in terms:
                    continue  # pf-only terms never score alone
                p = TermPostings(term_rows[t], 0.0)
                blocks = p.blocks_for_docs(np.array([doc_ord]))
                d, tf = p.decode_blocks(blocks)
                m = d == doc_ord
                if m.any():
                    rows.append((t, int(tf[m][0])))
            for ph in pf_phrases:
                # optional PhraseQuery clause (edismax pf): explain it
                # like Lucene does — label, phrase freq
                tps = [
                    TermPostings(term_rows[t], 0.0)
                    if t in term_rows else None
                    for t in ph
                ]
                pdocs, ptf = _phrase_freqs(tps, seg_max_dl)
                m = pdocs == doc_ord
                if m.any():
                    rows.append(('"' + " ".join(ph) + '"', int(ptf[m][0])))
            return pd.DataFrame(rows, columns=["term", "tf"])

        tfdf = self.each_segment(
            run, "term string, tf long", spec, terms=scan_terms,
            seg_ids=[seg_id],
        )

        def _idf(t: str) -> float:
            return math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))

        meta_rows = [
            (t, dfs[t], float(bm.get(t, 1.0)), _idf(t)) for t in terms
        ]
        for ph in pf_phrases:
            # phrase idf = Σ term idfs (duplicates counted, boosts
            # folded), weighted by pf_boost; df column carries 0 (the
            # phrase has no dictionary df — Lucene explain shows the
            # per-term stats inside the nested explanation instead)
            isum = sum(_idf(t) * float(bm.get(t, 1.0)) for t in ph)
            meta_rows.append(
                ('"' + " ".join(ph) + '"', 0, float(pf_boost), isum)
            )
        meta = self.spark.createDataFrame(
            meta_rows, "term string, df long, boost double, idf double"
        )
        norm = K1 * (1 - B + B * doc_len / avgdl)
        contrib = (
            F.col("boost") * F.col("idf")
            * (F.col("tf") * (K1 + 1)) / (F.col("tf") + norm)
        )
        out = (
            tfdf.join(F.broadcast(meta), "term")
            .withColumn("contrib", contrib)
            .select("term", "tf", "df", "idf", "contrib")
        )
        if round_to is not None:
            out = out.withColumn("idf", F.round("idf", round_to)).withColumn(
                "contrib", F.round("contrib", round_to)
            )
        return out.orderBy("term")

    def explain_batch(
        self,
        spec: BooleanSpec,
        keys: list[tuple[str, int]],
        round_to: int | None = None,
    ) -> DataFrame:
        """debugQuery for a PAGE of docs in ONE pass — the /select
        ``debug=true`` leg (Solr's DebugComponent attaches an
        Explanation per doclist doc; :meth:`explain` launches a
        per-doc probe, so a 10-row page would cost 10 jobs): one
        bounded docmap probe locates every page doc's (segment, ord,
        norm), then one per-segment Arrow pass decodes ONLY the
        scoring terms' postings blocks covering those ords (block
        skip list — nothing corpus-sized moves), and the per-term
        meta (df, idf, boost) broadcasts onto the (doc, term, tf)
        rows. Same per-row contract as :meth:`explain`: matching
        clauses only, contribs sum to the ranker's score. pf specs
        route to the per-doc surface (the phrase bonus needs the
        position machinery).

        ref: solr/core/src/java/org/apache/solr/handler/component/
             DebugComponent.java (explain per doclist doc),
             lucene/core/.../IndexSearcher.java#explain"""
        import numpy as np

        from lucene_solr_spark.query.model import B, K1
        from lucene_solr_spark.query.scorer import TermPostings

        if spec.needs_rewrite:
            spec = self.rewrite(spec)
        if spec.pf_phrases:
            raise ValueError(
                "explain_batch covers term scoring; pf specs need the "
                "per-doc explain surface")
        terms = list(spec.scoring_terms)
        schema = (
            "conv_id string, turn_idx int, term string, tf long, "
            "df long, idf double, contrib double"
        )
        if not keys or not terms:
            return self.spark.createDataFrame([], schema)
        keys_df = self.spark.createDataFrame(
            list(keys), "conv_id string, turn_idx int"
        )
        loc = (
            self.docmap()
            .join(F.broadcast(keys_df), ["conv_id", "turn_idx"])
            .select("seg_id", "doc_ord", "doc_len", "conv_id", "turn_idx")
            .collect()  # bounded: ≤ |page| rows
        )
        if not loc:
            return self.spark.createDataFrame([], schema)
        by_seg: dict[int, list] = {}
        for r in loc:
            by_seg.setdefault(int(r.seg_id), []).append(
                (int(r.doc_ord), r.conv_id, int(r.turn_idx))
            )
        dfs = self.global_df(terms)
        n, avgdl = self.manifest.n_docs, self.manifest.avgdl
        bm = spec.boost_map
        seg_ids = sorted(by_seg)

        def run_seg(seg_id, term_rows):
            import pandas as pd

            want = by_seg[seg_id]
            ords = np.array([w[0] for w in want], dtype=np.int64)
            order = np.argsort(ords)
            s_ords = ords[order]
            rows = []
            for t, row in term_rows.items():
                p = TermPostings(row, 0.0)
                blocks = p.blocks_for_docs(s_ords)
                d, tf = p.decode_blocks(blocks)
                m = np.isin(d, s_ords)
                for ord_v, tf_v in zip(d[m], tf[m]):
                    i = int(np.searchsorted(s_ords, ord_v))
                    _, cid, tid = want[order[i]]
                    rows.append((cid, tid, t, int(tf_v)))
            return pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "term", "tf"]
            )

        tfdf = self.each_segment(
            run_seg, "conv_id string, turn_idx int, term string, tf long",
            spec, terms=terms, seg_ids=seg_ids,
        )

        def _idf(t: str) -> float:
            return math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))

        meta = self.spark.createDataFrame(
            [(t, dfs[t], float(bm.get(t, 1.0)), _idf(t)) for t in terms],
            "term string, df long, boost double, idf double",
        )
        lens = self.spark.createDataFrame(
            [(r.conv_id, int(r.turn_idx), float(r.doc_len)) for r in loc],
            "conv_id string, turn_idx int, doc_len double",
        )
        norm = K1 * (1 - B + B * F.col("doc_len") / avgdl)
        out = (
            tfdf.join(F.broadcast(meta), "term")
            .join(F.broadcast(lens), ["conv_id", "turn_idx"])
            .withColumn(
                "contrib",
                F.col("boost") * F.col("idf")
                * (F.col("tf") * (K1 + 1)) / (F.col("tf") + norm),
            )
            .select(
                "conv_id", "turn_idx", "term", "tf", "df", "idf", "contrib"
            )
        )
        if round_to is not None:
            out = out.withColumn("idf", F.round("idf", round_to)).withColumn(
                "contrib", F.round("contrib", round_to)
            )
        return out.orderBy("conv_id", "turn_idx", "term")

    # -- significant terms ---------------------------------------------
    def significant_terms(
        self,
        spec: BooleanSpec,
        min_fg: int = 5,
        limit: int = 20,
    ) -> DataFrame:
        """significantTerms THROUGH the index (SignificantTermsQParserPlugin):
        terms over-represented in the query's hit set vs the corpus,
        scored fg_df²/bg_df (the battery op's pinned formula).

        Physical — zero shuffle until the tiny term aggregation: one
        each_segment pass visits every segment; each task reads
        its OWN postings file, computes the segment's hit DocSet once
        (match_segment), then counts |postings(term) ∩ hits| per term
        with doc-level decodes only (no position bytes). Per-segment
        (term, fg, df) partials sum exactly (a doc lives in one
        segment). At real scale the candidate enumeration would be
        bounded by a field/prefix or df band exactly like Solr's term
        enum — the per-task loop is vocabulary-bounded, never
        corpus-bounded.

        ref: solr/core/src/java/org/apache/solr/search/
             SignificantTermsQParserPlugin.java"""
        import numpy as np

        from lucene_solr_spark.query.scorer import TermPostings

        if spec.needs_rewrite:
            spec = self.rewrite(spec)
        seg_dirs = self.seg_dir_by_id
        cols = postings_task_columns(spec)
        dom = SegmentDomain(self, spec, [])

        def run_seg(seg_id, _term_rows):
            import pandas as pd
            import pyarrow.parquet as pq

            # candidate enumeration reads the segment's WHOLE postings
            post = pq.read_table(
                f"{seg_dirs[seg_id]}/postings.parquet", columns=cols
            ).to_pandas()
            term_rows = {r["term"]: r for _, r in post.iterrows()}
            _dm, hits = dom.read(seg_id, term_rows)
            if len(hits) == 0:
                return pd.DataFrame(columns=["term", "fg", "df"])
            out_t, out_f, out_d = [], [], []
            for t, row in term_rows.items():
                d = TermPostings(row, 0.0).decode_all()[0]
                fg = int(np.isin(d, hits, assume_unique=True).sum())
                if fg or row["df"]:
                    out_t.append(t)
                    out_f.append(fg)
                    out_d.append(int(row["df"]))
            return pd.DataFrame({"term": out_t, "fg": out_f, "df": out_d})

        partials = self.each_segment(run_seg, "term string, fg long, df long")
        agg = partials.groupBy("term").agg(
            F.sum("fg").alias("fg_df"), F.sum("df").alias("bg_df")
        )
        return (
            agg.filter(F.col("fg_df") >= min_fg)
            .select(
                "term", "fg_df", "bg_df",
                F.round(
                    F.col("fg_df").cast("double")
                    * F.col("fg_df") / F.col("bg_df"),
                    4,
                ).alias("score"),
            )
            .orderBy(F.desc("score"), "term")
            .limit(limit)
        )

    # -- block join: conversation-level search -------------------------
    def search_conversations(
        self,
        spec: BooleanSpec,
        k: int = 10,
        score_mode: str = "max",
        round_to: int | None = None,
    ) -> DataFrame:
        """ToParentBlockJoinQuery over the conv↔turn block model
        (SURVEY §2.3 J4): rank conversations by their matching turns'
        BM25 scores aggregated with a Lucene ScoreMode (`max`/`total`/
        `avg`), plus the matching-turn count.

        Physical: the per-segment scorer emits ALL matching turns with
        scores via :meth:`score_hits` (UNSORTED — no global sort below
        the aggregation; conversations never span segments in the
        hash-partitioned build, so the parent aggregation needs no
        extra care), then one groupBy(conv_id) agg + TakeOrdered."""
        agg_fn = {"max": F.max, "total": F.sum, "avg": F.avg}[score_mode]
        turn_hits = self.score_hits(spec, k=None)
        out = (
            turn_hits.groupBy("conv_id")
            .agg(
                agg_fn("score").alias("score"),
                F.count("*").alias("n_turns"),
            )
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        return out.orderBy(F.desc("score"), "conv_id").limit(k)

    # -- early-terminating sorted collection (W6) -----------------------
    def early_topk(
        self,
        k: int = 10,
        fields: tuple[str, ...] = ("role",),
        cursor: tuple[str, int] | None = None,
    ) -> DataFrame:
        """Early-terminating collection when the request sort MATCHES
        the index sort (conv_id, turn_idx): each segment task streams
        its docmap Parquet in batches and STOPS after k live rows —
        the Lucene ``EarlyTerminatingSortingCollector`` /
        index-time-sort contract (W6). Only n_segments × k candidate
        rows reach the final TakeOrdered merge; a segment never
        materializes more than ceil(k / batch) batches regardless of
        its size, which is what makes a sorted first-page query O(k)
        per segment at any corpus scale.

        ``cursor`` is the cursorMark over the INDEX sort: the
        (conv_id, turn_idx) of the previous page's last row. Each
        segment SKIPS whole Parquet row groups whose conv_id max
        statistic sits at or before the mark (the sorted-segment seek),
        then masks the boundary batch — page cost stays O(k) per
        segment at any depth, the CursorMark-over-ExportHandler
        contract.

        ref: lucene/core/src/java/org/apache/lucene/search/
             EarlyTerminatingSortingCollector.java (pre-8.x; folded
             into TopFieldCollector when the index sort matches),
             lucene/core/src/java/org/apache/lucene/index/IndexWriterConfig.java
             (setIndexSort); solr/core/src/java/org/apache/solr/search/
             CursorMark.java (keyset paging on the request sort)"""
        # the reader streams the docmap in index order, liveDocs masked
        dom = SegmentDomain(self, None, [])
        cols = ["conv_id", "turn_idx", *fields]
        schema = ", ".join(
            ["conv_id string", "turn_idx int"]
            + [f"{f} string" for f in fields]
        )
        kk = int(k)

        def run_seg(seg_id, _term_rows):
            got: list[pd.DataFrame] = []
            n = 0
            # docmap is written in index-sort order, so streaming the
            # head IS the segment's sorted top-k; deletes are masked
            # batch-by-batch before counting toward k.
            for dm in dom.stream(seg_id, cols, max(kk, 1024), cursor):
                got.append(dm.head(kk - n))
                n += len(got[-1])
                if n >= kk:
                    break
            if not got:
                return pd.DataFrame(columns=cols)
            return pd.concat(got, ignore_index=True)[cols]

        cands = self.each_segment(run_seg, schema)
        return cands.orderBy("conv_id", "turn_idx").limit(kk)

    # -- per-segment fan-out -------------------------------------------
    def each_segment(
        self,
        fn,
        schema: str,
        spec: BooleanSpec | None = None,
        terms=None,
        visit_all: bool | None = None,
        seg_ids=None,
    ) -> DataFrame:
        """Run ``fn(seg_id, term_rows) -> pandas.DataFrame`` once per
        segment and union the frames — the ``IndexSearcher#search``
        leaf loop. Every per-segment pass in the engine goes through
        here; nothing shuffles to reach its segment.

        Physical: ``spark.range(n_segs).mapInPandas`` — one stage, no
        exchange, one task per segment up to the cluster's core count
        (past that a task serves several segments in turn: at 192
        segments on local[32] that is 6× less task overhead, and on a
        1000-executor cluster it still spreads one segment per core).
        Each task reads its OWN segment's postings rows for ``terms``
        straight from Parquet (row-group pruned on the term-sorted
        file; position columns only when ``spec`` needs them, see
        postings_task_columns) and hands ``fn`` a ``{term: row}`` map.

        ``terms`` defaults to ``spec.lookup_terms``. A segment holding
        none of them is skipped unless ``visit_all`` — the default
        when the domain has no scoring terms (MatchAll, pure-negative
        or filter-only specs), whose term-free segments still match.
        ``seg_ids`` restricts the pass to those segments."""
        if terms is None:
            terms = spec.lookup_terms if spec is not None else ()
        terms = sorted(set(terms))
        if visit_all is None:
            visit_all = not (
                spec.scoring_terms if spec is not None else terms
            )
        ids = sorted(self.seg_dir_by_id if seg_ids is None else seg_ids)
        seg_dirs = self.seg_dir_by_id
        cols = postings_task_columns(spec)
        n_parts = max(
            1, min(len(ids), self.spark.sparkContext.defaultParallelism)
        )

        def run(batches):
            for batch in batches:
                for i in batch["id"].tolist():
                    seg_id = ids[i]
                    term_rows = {}
                    if terms:
                        term_rows = segment_postings(
                            seg_dirs[seg_id], terms, cols
                        )
                        if not term_rows and not visit_all:
                            continue
                    out = fn(seg_id, term_rows)
                    if len(out):
                        yield out

        return self.spark.range(0, len(ids), 1, n_parts).mapInPandas(
            run, schema
        )

    # -- DocSet (all matches, no scoring) ------------------------------
    def docset(self, spec: BooleanSpec) -> DataFrame:
        """ALL matching (conv_id, turn_idx) — ``getDocSet`` analog,
        used by filter queries, exports, and MultiTermQuery rewrites.

        One :meth:`each_segment` pass: each task reads its own
        segment's postings for the spec's terms straight from Parquet
        (term-pruned by row-group stats). Specs WITHOUT positive terms
        (pure-negative ``-stream`` / filter-only ``role:assistant``)
        visit every segment so term-free segments still contribute
        (Solr wraps these as MatchAllDocs minus exclusions,
        ``QueryUtils#makeQueryable``)."""
        if spec.needs_rewrite:
            spec = self.rewrite(spec)
        if spec.min_should_match > len(spec.should):
            # unsatisfiable mm (e.g. empty multiterm rewrite): zero
            # docs — NOT MatchAll, and NOT the filter-only fallback
            return self.spark.createDataFrame(
                [], "conv_id string, turn_idx int"
            )
        # a queryResultCache hit serves keys straight off the cached
        # hit bits: no postings read, no fq evaluation, docmap read
        # pruned to the two key columns (liveDocs baked into the bits)
        dom = SegmentDomain(self, spec, ["conv_id", "turn_idx"])

        def run_seg(seg_id, term_rows):
            return _take_keys(*dom.read(seg_id, term_rows))

        return self.each_segment(
            run_seg, "conv_id string, turn_idx int", dom.postings_spec
        )

    def payload_score(
        self,
        term: str,
        func: str = "sum",
        filters: tuple = (),
        k: int = 10,
        round_to: int | None = None,
    ) -> DataFrame:
        """``{!payload_score f=text func=... includeSpanScore=false}``
        analog: score each matching doc by a PayloadFunction (min / max
        / sum / average) over the payloads at the term's matched
        positions, replacing the span score entirely
        (includeSpanScore=false — the Lucene default).

        Payload encoding is a PINNED position rule, ``pay(p) = 1.0 +
        (p mod 4)`` — the DelimitedPayloadTokenFilter analog where the
        per-occurrence payload is derived at analysis time by a
        deterministic rule all three engines share (a stored-payload
        variant would add a payload stream to postings and bump
        ``format_version``; derivation keeps v2 readable). The decode
        path is the REAL one: per-segment position-stream varint decode
        (the same stream the phrase scorer reads), per-posting
        ``reduceat`` aggregation, deletes + filter mask applied before
        any payload math.

        ref: lucene/queries/src/java/org/apache/lucene/queries/payloads/
        PayloadScoreQuery.java, MaxPayloadFunction/MinPayloadFunction/
        SumPayloadFunction/AveragePayloadFunction.java
        """
        if func not in ("min", "max", "sum", "avg"):
            raise ValueError(f"unknown payload function: {func}")
        spec = BooleanSpec(must=(term,), filters=tuple(filters), k=k)
        dom = SegmentDomain(self, spec, ["conv_id", "turn_idx"])
        lfunc = func

        def run_seg(seg_id, term_rows):
            from lucene_solr_spark.query.scorer import TermPostings

            dm, allowed = dom.allowed(seg_id)
            tp = TermPostings(term_rows[term], 0.0)
            d, tf, pos = tp.positions(np.arange(tp.n_blocks))
            if allowed is not None:
                keep = allowed[d]
                occ_keep = np.repeat(keep, tf)
                d, tf, pos = d[keep], tf[keep], pos[occ_keep]
            if len(d) == 0:
                return pd.DataFrame(columns=["conv_id", "turn_idx", "score"])
            pay = 1.0 + (pos % 4).astype(np.float64)
            starts = np.cumsum(tf) - tf
            if lfunc == "sum":
                s = np.add.reduceat(pay, starts)
            elif lfunc == "max":
                s = np.maximum.reduceat(pay, starts)
            elif lfunc == "min":
                s = np.minimum.reduceat(pay, starts)
            else:  # avg
                s = np.add.reduceat(pay, starts) / tf.astype(np.float64)
            return _take_keys(dm, d, score=s)

        # the payload decode reads the position stream: all columns
        hits = self.each_segment(run_seg, RESULT_SCHEMA, terms=(term,))
        if round_to is not None:
            hits = hits.withColumn("score", F.round("score", round_to))
        return hits.orderBy(
            F.desc("score"), "conv_id", "turn_idx"
        ).limit(k)

    def termfreq(self, term: str) -> DataFrame:
        """``termfreq(field, term)`` relevance ValueSource: the per-doc
        RAW term frequency straight off the postings blocks — no idf,
        no length norm (the function-query building block under
        docfreq()/totaltermfreq()/idf(), whose values are dictionary
        stats — see :meth:`global_df` / the term dictionary's ``cf``).

        Term-pruned: only the one term's postings rows move; the
        decode is the same vectorized block decode the scorer uses.
        A docmap read site — the tombstone mask applies.

        ref: lucene/queries/src/java/org/apache/lucene/queries/function/
             valuesource/TermFreqValueSource.java (and
             DocFreqValueSource / TotalTermFreqValueSource for the
             constant-per-term stats); solr/core/src/java/org/apache/
             solr/search/ValueSourceParser.java (termfreq/docfreq/
             totaltermfreq registrations)
        """
        spec = BooleanSpec(must=(term,))
        dom = SegmentDomain(self, spec, ["conv_id", "turn_idx"])

        def run_seg(seg_id, term_rows):
            from lucene_solr_spark.query.scorer import TermPostings

            dm, allowed = dom.allowed(seg_id)
            d, tf = TermPostings(term_rows[term], 0.0).decode_all()
            if allowed is not None:
                keep = allowed[d]
                d, tf = d[keep], tf[keep]
            return _take_keys(dm, d, tf=tf.astype(np.int64))

        return self.each_segment(
            run_seg, "conv_id string, turn_idx int, tf long", spec
        )

    def payload_check(
        self,
        terms: tuple[str, ...],
        payloads: tuple[float, ...],
        k: int = 10,
        round_to: int | None = None,
    ) -> DataFrame:
        """``SpanPayloadCheckQuery`` analog: exact-adjacency phrase
        occurrences whose per-position payloads equal ``payloads``
        slot-for-slot, payloads from the pinned derivation rule
        ``pay(p) = 1.0 + (p mod 4)``. The check is POSITIONAL — it
        narrows which occurrences count, so the matched DocSet can be
        a strict subset of the plain phrase's (a doc whose only
        occurrence starts at the wrong residue drops out entirely).
        Score = the count of payload-valid occurrences (span freq;
        the spans themselves carry no BM25 weight here, mirroring the
        payload_score family replacing the span score). An
        unsatisfiable payload sequence (one that contradicts the
        derivation rule) matches nothing rather than erroring —
        Lucene's behavior for a payload no indexed span carries.

        Physical: per-segment position-stream decode (the phrase
        scorer's two-phase matcher), residue mask over the surviving
        start keys, deletes + docmap mask applied before counting —
        a docmap read site like every other.

        ref: lucene/queries/src/java/org/apache/lucene/queries/
        payloads/SpanPayloadCheckQuery.java
        """
        if len(payloads) != len(terms):
            raise ValueError(
                f"payloads/terms length mismatch: {len(payloads)} vs "
                f"{len(terms)}"
            )
        if any(p not in (1.0, 2.0, 3.0, 4.0) for p in payloads):
            raise ValueError(f"payloads outside pay(p) range: {payloads}")
        spec = BooleanSpec(phrases=(tuple(terms),), k=k)
        dom = SegmentDomain(self, spec, ["conv_id", "turn_idx"])
        terms_t, pays = tuple(terms), tuple(payloads)

        def run_seg(seg_id, term_rows):
            from lucene_solr_spark.query.scorer import (
                TermPostings,
                _phrase_start_keys,
            )

            empty = pd.DataFrame(columns=["conv_id", "turn_idx", "score"])
            tps = [
                TermPostings(term_rows[t], 0.0) if t in term_rows else None
                for t in terms_t
            ]
            dm, allowed = dom.allowed(seg_id)
            seg_max = dom.max_doclen(seg_id, dm)
            keys = _phrase_start_keys(tps, seg_max)
            if len(keys) == 0:
                return empty
            stride = seg_max + 2
            p = keys % stride
            m = np.ones(len(keys), bool)
            for i, pv in enumerate(pays):
                m &= (1.0 + ((p + i) % 4).astype(np.float64)) == pv
            docs = keys[m] // stride
            if allowed is not None:
                docs = docs[allowed[docs]]
            if len(docs) == 0:
                return empty
            d, c = np.unique(docs, return_counts=True)
            return _take_keys(dm, d, score=c.astype(np.float64))

        hits = self.each_segment(run_seg, RESULT_SCHEMA, spec)
        if round_to is not None:
            hits = hits.withColumn("score", F.round("score", round_to))
        return hits.orderBy(
            F.desc("score"), "conv_id", "turn_idx"
        ).limit(k)

    # -- MultiTermQuery rewrite (dictionary scan → OR expansion) -------
    def expand_terms(self, predicate, max_expansions: int = 1024) -> list[str]:
        """Dictionary scan: terms of the text field matching a Column
        predicate over ``term`` (PrefixQuery/WildcardQuery/FuzzyQuery
        rewrite, ``MultiTermQuery#RewriteMethod``).

        Bounded like Lucene's TopTermsRewrite: when the automaton
        matches more than ``max_expansions`` terms (think ``.*``-ish
        wildcards over a 100M-term dictionary), only the highest-df
        terms survive, (df desc, term asc) — never an unbounded
        driver collect."""
        rows = (
            self.postings()
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .filter(predicate)
            .orderBy(F.desc("df"), "term")
            .limit(max_expansions)
            .collect()
        )
        return sorted(r.term for r in rows)

    @staticmethod
    def wildcard_predicate(pattern: str):
        """Lucene wildcard pattern → Column predicate over ``term``
        (``*`` any sequence, ``?`` one char, ``\\`` escapes), compiled
        to SQL LIKE so the dictionary scan stays JVM-side with the
        leading-literal prefix still pushable to the Parquet reader.

        ref: lucene/core/src/java/org/apache/lucene/search/WildcardQuery.java
        """
        out: list[str] = []
        i, n = 0, len(pattern)
        while i < n:
            c = pattern[i]
            if c == "\\" and i + 1 < n:  # escaped wildcard char
                i += 1
                c = pattern[i]
                out.append("\\" + c if c in "%_\\" else c)
            elif c == "*":
                out.append("%")
            elif c == "?":
                out.append("_")
            elif c in "%_\\":  # literal LIKE metachar
                out.append("\\" + c)
            else:
                out.append(c)
            i += 1
        return F.col("term").like("".join(out))

    @staticmethod
    def regexp_predicate(pattern: str):
        """Lucene RegexpQuery semantics: the pattern must match the
        WHOLE term (the automaton is anchored), so wrap with ^(?:...)$
        before handing to Java regex.

        ref: lucene/core/src/java/org/apache/lucene/search/RegexpQuery.java,
             lucene/core/src/java/org/apache/lucene/util/automaton/RegExp.java
        """
        return F.col("term").rlike(f"^(?:{pattern})$")

    @staticmethod
    def fuzzy_predicate(text: str, max_edits: int = 2):
        """FuzzyQuery rewrite predicate: the LevenshteinAutomata-∩-FST
        dictionary walk re-expressed as a BANDED dictionary filter. A
        cheap length-band prune short-circuits ahead of the edit
        distance — |len(term) − len(q)| is a lower bound on it, so the
        band never drops a true match — and the distance itself uses
        Spark's thresholded 3-arg ``levenshtein`` (banded DP, returns
        −1 past the threshold; never the full O(n·m) matrix). At a
        billion-term dictionary the band factor is what keeps the
        fuzzy front door from a full-dict edit-distance scan
        (VERDICT r4 item 5).

        ref: lucene/core/src/java/org/apache/lucene/search/FuzzyQuery.java,
             lucene/core/src/java/org/apache/lucene/util/automaton/
             LevenshteinAutomata.java"""
        band = F.abs(F.length("term") - F.lit(len(text))) <= F.lit(max_edits)
        return band & (
            F.levenshtein(F.col("term"), F.lit(text), max_edits) >= 0
        )

    def expand_wildcard(self, pattern: str, max_expansions: int = 1024):
        """WildcardQuery rewrite: dictionary scan → bounded term set."""
        return self.expand_terms(
            self.wildcard_predicate(pattern), max_expansions
        )

    def expand_regexp(self, pattern: str, max_expansions: int = 1024):
        """RegexpQuery rewrite: dictionary scan → bounded term set."""
        return self.expand_terms(
            self.regexp_predicate(pattern), max_expansions
        )

    def rewrite(self, spec: BooleanSpec, max_expansions: int = 1024) -> BooleanSpec:
        """MultiTermQuery rewrite phase (``IndexSearcher#rewrite``):
        expand the parser's wildcard/regexp nodes against the term
        dictionary into SHOULD TermQuery clauses (scoring boolean
        rewrite; each expanded term scores with its own idf). The
        search/docset/facet entry points call this automatically, so
        ``search(parse("data s?a*"))`` just works; a pattern matching
        nothing contributes no clauses (Lucene: empty rewrite). Each
        pattern's dictionary scan runs once per searcher: a searcher is
        pinned to one snapshot, so its expansion never goes stale."""
        if not spec.needs_rewrite:
            return spec
        from dataclasses import replace

        extra: list[str] = []
        for kind, pats, expand in (
            ("wildcard", spec.wildcards, self.expand_wildcard),
            ("regexp", spec.regexps, self.expand_regexp),
        ):
            for pat in pats:
                key = (kind, pat, max_expansions)
                if key not in self._expansions:
                    self._expansions[key] = expand(pat, max_expansions)
                extra.extend(self._expansions[key])
        seen = set(spec.should)
        extra = tuple(t for t in dict.fromkeys(extra) if t not in seen)
        return replace(
            spec, wildcards=(), regexps=(), should=spec.should + extra
        )

    # -- faceting ------------------------------------------------------
    def facet(
        self,
        field: str,
        spec: BooleanSpec | None = None,
        limit: int = 10,
        mincount: int = 1,
        refine: bool = True,
        sort: str = "count",
        prefix: str | None = None,
        contains: str | None = None,
        contains_ignore_case: bool = False,
        matches: str | None = None,
        exclude_terms: tuple[str, ...] = (),
        missing: bool = False,
        exclude_fields: tuple[str, ...] = (),
        group_by: str | None = None,
        method: str = "auto",
        offset: int = 0,
    ) -> DataFrame:
        """SOLR-5894-style facet counts over the query domain
        (two-phase merge-and-refine; see query/facets.py). sort /
        prefix / missing mirror facet.sort / facet.prefix /
        facet.missing.

        ``exclude_fields`` is the multi-select faceting analog of
        Solr's ``fq={!tag=t}f:v`` + ``facet.field={!ex=t}f``
        (ref: solr/core/src/java/org/apache/solr/request/SimpleFacets.java
        computeDocSet / QueryParsing `ex` local param): every fq-side
        constraint on a listed field (`filters`, `not_filters`,
        `range_filters`) is dropped from THIS facet's domain, while
        the hit list and every other facet keep honoring it. Tags are
        request-plumbing in Solr; field names are the natural handle
        in this API.

        ``group_by="conv_id"`` is group.facet=true (each conversation
        counts once per bucket — see FacetRequest.group_by for why
        only the segment-local block key is allowed)."""
        from lucene_solr_spark.query.facets import FacetRequest, facet_field

        if spec is not None and exclude_fields:
            # fq-side only: the domain's multiterm rewrite is unaffected
            spec = _exclude_filter_fields(spec, exclude_fields)

        return facet_field(
            self,
            FacetRequest(
                field=field, limit=limit, mincount=mincount,
                sort=sort, prefix=prefix, contains=contains,
                contains_ignore_case=contains_ignore_case,
                matches=matches,
                exclude_terms=tuple(exclude_terms),
                missing=missing, group_by=group_by, offset=offset,
            ),
            spec=spec, refine=refine, method=method,
        )
