"""SOLR-5894-style high-cardinality faceting (SURVEY §2.4 A1-A3, §3.3).

The fork's signature path, re-expressed Spark-first:

- **Sparse per-segment ordinal counting** (``SparseDocValuesFacets`` /
  ``SparseCounterPool`` in the fork's ``solr/core/src/java/org/apache/
  solr/request/sparse/``): each segment counts facet ordinals over ONLY
  the docs matching the query domain — ``np.unique(ords[hits],
  return_counts=True)`` touches exactly the hit ordinals, never
  allocating or iterating a dense O(#unique-terms) counter. This is the
  vectorized analog of the sparse counter + touched-list.
- **Two-phase distributed merge-and-refine** (``FacetComponent`` /
  ``DistribFieldFacet``): phase 1 takes each segment's top
  ``limit*1.5+10`` candidate ordinals (the reference's over-request
  factor), merges them into a global candidate term set; phase 2
  "refines" by summing each candidate's exact count from every
  segment's partial counts. Only candidate terms and per-segment tops
  cross the shuffle — never the full term cardinality, which is what
  makes the plan survive a 100x scale-up of facet cardinality.

Matching, counting and the ord→term lookup happen in ONE per-segment
pass (``IndexSearcher.each_segment``): each task reads its own
segment's postings rows, its docmap ordinal column through
``executor.SegmentDomain`` (the segment reader: hit ords with the fq
and liveDocs masks applied, the multiterm rewrite done once for every
facet function) and its dictionary, so the hit DocSet never leaves the
executor and nothing shuffles to reach a segment; what leaves is the
named ``(seg_id, term, cnt)`` partials (tiny).

Physical plan of ``facet_field``::

    spark.range(n_segs).mapInPandas, one task per segment:
        own postings(term ∈ domain terms) + docmap(<field>_ord)
        → sparse count → ord→term from own dicts.parquet
    exact (use_refine False): ONE collect of the partials
      → driver merge (merge_partials: filters, sum, mincount, sort,
        offset, limit, missing) → pandas-built LocalRelation
    refine (high-cardinality fields):
      → phase 1: Window per seg, rank ≤ 1.5k+10 → candidate terms
      → phase 2: semi-join candidates → groupBy(term).sum(cnt)
      → orderBy(cnt desc, term) limit k

``/select`` folds the exact path into the page's own pass
(``IndexSearcher.doc_list_and_set``): the same ``count_partials`` body
runs in the scoring task and the same ``merge_partials`` on the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucene_solr_spark.query.executor import SegmentDomain, local_frame
from lucene_solr_spark.query.model import BooleanSpec

PARTIAL_SCHEMA = "seg_id int, term string, cnt long"
FACET_SCHEMA = "facet_value string, cnt long"


def _ord_terms(seg_dir: str, *fields: str) -> list[np.ndarray]:
    """TASK-side ``lookupOrd``: the segment's ord → term table of each
    of ``fields``, from ONE read of its own ``dicts.parquet`` —
    partials leave the counting task already named, so no plan joins
    the dictionaries."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{seg_dir}/dicts.parquet", columns=["field", "term_ord", "term"],
        filters=[("field", "in", list(fields))],
    )
    luts = []
    for f in fields:
        sub = t.filter(pc.equal(t.column("field"), f))
        ords = sub.column("term_ord").to_numpy()
        lut = np.empty(int(ords.max()) + 1 if len(ords) else 0, dtype=object)
        lut[ords] = sub.column("term").to_numpy()
        luts.append(lut)
    return luts


def _named(lut: np.ndarray, ords: np.ndarray) -> np.ndarray:
    """Terms for ``ords``; a negative ord (missing value) stays NULL."""
    out = np.full(len(ords), None, dtype=object)
    ok = ords >= 0
    out[ok] = lut[ords[ok]]
    return out


@dataclass(frozen=True)
class FacetRequest:
    """facet.field request (``SimpleFacets#getFacetFieldCounts`` params:
    facet.limit / facet.mincount / facet.sort / facet.prefix /
    facet.missing)."""

    field: str  # one of the docvalues-like ordinal fields (role/tool/ftok)
    limit: int = 10
    mincount: int = 1
    #: facet.sort: "count" (count desc, value asc — default) or
    #: "index" (value asc, the ordinal/index order)
    sort: str = "count"
    #: facet.prefix: only values starting with this prefix
    prefix: str | None = None
    #: facet.contains: only values containing this substring
    #: (case-sensitive, like the reference default)
    contains: str | None = None
    #: facet.contains.ignoreCase: case-fold BOTH sides of the
    #: contains test (SimpleFacets' SubstringBytesRefFilter ignoreCase)
    contains_ignore_case: bool = False
    #: facet.matches: only values whose WHOLE value matches this regex
    #: (SimpleFacets' RegexBytesRefFilter — Pattern.matches, not find;
    #: pattern must stay in the Java∩python∩RE2 dialect so all three
    #: engines agree)
    matches: str | None = None
    #: facet.excludeTerms: drop these exact values from the buckets
    #: BEFORE ranking/limit (SimpleFacets' excludeTerms list) — the
    #: negative-membership sibling of prefix/contains
    exclude_terms: tuple[str, ...] = ()
    #: facet.missing: append a NULL-valued row counting domain docs
    #: with no value for the field (ord == -1)
    missing: bool = False
    #: facet.offset: skip the first N buckets of the ranked list
    #: (facet paging); the phase-1 over-request window widens to
    #: offset+limit so refine stays exact through the skipped head
    offset: int = 0
    #: group.facet=true analog (SimpleFacets#getGroupedCounts): count
    #: each GROUP once per bucket instead of each doc. Only the
    #: segment-local block key (conv_id) is supported — conversations
    #: never span segments (hash-partitioned build), so per-segment
    #: distinct-group counts SUM to the exact global distinct count
    #: with no extra shuffle (the same locality block joins rely on).
    group_by: str | None = None

    def __post_init__(self) -> None:
        if self.group_by not in (None, "conv_id"):
            # only the segment-local block key sums correctly; anything
            # else would need a global distinct shuffle — refuse rather
            # than silently overcount.
            raise ValueError(f"group_by={self.group_by!r}: only conv_id "
                             "is segment-local")


def _overrequest(limit: int) -> int:
    """Phase-1 per-shard over-request: the reference's limit*1.5+10
    (``FacetComponent.DistribFieldFacet``)."""
    return int(limit * 1.5) + 10


def count_partials(dm, hits, req: FacetRequest, lut: np.ndarray) -> pd.DataFrame:
    """TASK-side sparse counts of one facet.field request over one
    segment's hit docs: named ``(term, cnt)`` rows, plus one NULL-term
    row with the segment's missing count under facet.missing. ``dm``
    is the segment's docmap read (``<field>_ord``, and conv_id for
    group.facet), ``hits`` its hit ords (None: every doc), ``lut`` the
    field's ord → term table (:func:`_ord_terms`)."""
    ords = SegmentDomain.ints(dm, f"{req.field}_ord")
    groups = dm.column("conv_id").to_numpy() if req.group_by else None
    if hits is not None:
        ords = ords[hits]
        if groups is not None:
            groups = groups[hits]
    neg = ords < 0
    if groups is None:
        n_missing = int(neg.sum())
        uniq, cnt = np.unique(ords[~neg], return_counts=True)  # sparse
    else:
        # group.facet: one count per DISTINCT (ord, group) pair —
        # factorize group ids once, dedupe composite keys, count per
        # ord. Segment-local groups make the cross-segment sum exact
        # (FacetRequest.group_by).
        codes = pd.factorize(groups)[0].astype(np.int64)
        n_missing = int(len(np.unique(codes[neg]))) if neg.any() else 0
        vals, gcodes = ords[~neg].astype(np.int64), codes[~neg]
        if len(vals):
            stride = int(codes.max()) + 1
            uk = np.unique(vals * stride + gcodes)
            uniq, cnt = np.unique(uk // stride, return_counts=True)
        else:
            uniq = np.empty(0, np.int64)
            cnt = np.empty(0, np.int64)
    if req.missing and n_missing:
        # facet.missing: one extra partial per segment, ord -1
        uniq = np.append(uniq, -1)
        cnt = np.append(cnt, n_missing)
    return pd.DataFrame({"term": _named(lut, uniq), "cnt": cnt.astype(np.int64)})


def segment_partials(searcher, req: FacetRequest, spec: BooleanSpec | None) -> DataFrame:
    """Per-segment sparse counts, named in the task: (seg_id, term,
    cnt); facet.missing adds one NULL-term row per segment.

    One :meth:`IndexSearcher.each_segment` pass: each counting task
    reads its OWN segment's ordinal column straight from the segment
    Parquet (the per-segment docvalues access of
    ``DocValuesFacets#getCounts``), its own postings rows for the
    domain's terms, and its own dictionary for ``lookupOrd``.
    """
    dom = SegmentDomain(
        searcher, spec,
        [f"{req.field}_ord"] + (["conv_id"] if req.group_by else []),
    )

    def count(seg_id: int, term_rows) -> pd.DataFrame:
        dm, hits = dom.read(seg_id, term_rows)
        lut = _ord_terms(dom.seg_dirs[seg_id], req.field)[0]
        out = count_partials(dm, hits, req, lut)
        out.insert(0, "seg_id", np.int32(seg_id))
        return out

    return searcher.each_segment(count, PARTIAL_SCHEMA, dom.postings_spec)


def merge_partials(parts: pd.DataFrame, req: FacetRequest) -> pd.DataFrame:
    """The exact facet.field merge, on the driver: every segment's
    named ``(term, cnt)`` partials (NULL term: facet.missing counts)
    → the request's ``(facet_value, cnt)`` buckets. Applies prefix,
    contains, matches and excludeTerms before the sum, then mincount,
    sort (count: cnt desc, value asc; index: value asc), offset and
    limit, and appends the facet.missing row last. The partials are at
    most #segments × #buckets rows, so a pandas merge costs less than
    one Spark job (``global_df``'s reasoning)."""
    named = parts["term"].notna().to_numpy()
    terms = parts["term"][named].astype(str)
    keep = np.ones(len(terms), bool)
    if req.prefix is not None:
        keep &= terms.str.startswith(req.prefix).to_numpy(bool)
    if req.contains is not None:
        hay = terms.str.lower() if req.contains_ignore_case else terms
        needle = (req.contains.lower() if req.contains_ignore_case
                  else req.contains)
        keep &= hay.str.contains(needle, regex=False).to_numpy(bool)
    if req.matches is not None:
        # whole-value match (Pattern.matches)
        keep &= terms.str.fullmatch(req.matches).to_numpy(bool)
    if req.exclude_terms:
        keep &= ~terms.isin(req.exclude_terms).to_numpy(bool)
    cnt = (
        parts["cnt"][named][keep].astype(np.int64)
        .groupby(terms[keep]).sum()
    )
    out = pd.DataFrame({
        "facet_value": cnt.index.to_numpy(object),
        "cnt": cnt.to_numpy(np.int64),
    })
    out = out[out["cnt"] >= req.mincount]
    if req.sort == "count":
        out = out.sort_values(["cnt", "facet_value"], ascending=[False, True])
    else:
        out = out.sort_values("facet_value")
    out = out.iloc[req.offset:req.offset + req.limit]
    if req.missing:
        miss = int(parts["cnt"][~named].sum())
        out = pd.concat([out, pd.DataFrame({
            "facet_value": np.array([None], object),
            "cnt": np.array([miss], np.int64),
        })])
    return out.reset_index(drop=True)


_METRIC_KINDS = (
    "sum", "avg", "min", "max",          # SumAgg / AvgAgg / MinMaxAgg
    "sumsq", "stddev", "variance",       # SumsqAgg / StddevAgg / VarianceAgg
    "missing", "countvals",              # MissingAgg / CountValsAgg
    "unique",                            # UniqueAgg (exact, dict-bounded)
)
#: kinds whose column must be numeric (read as float64; NULL-aware —
#: missing values are EXCLUDED from the aggregate, the Solr contract)
_NUM_KINDS = ("sum", "avg", "min", "max", "sumsq", "stddev", "variance")
#: separator for per-segment UniqueAgg value sets (never appears in
#: docvalues strings)
_USEP = "\x1f"


def facet_metrics(
    searcher,
    field: str,
    metric: str = "doc_len",
    spec: BooleanSpec | None = None,
    limit: int = 10,
    sort: str = "count",
    aggs: tuple[tuple[str, str], ...] | None = None,
) -> DataFrame:
    """JSON-Facet bucket METRICS through the index engine (FacetModule
    SumAgg/AvgAgg/MinMaxAgg riding the terms facet): per bucket of
    ``field``, count + any number of sum/avg/min/max sub-aggregates
    over numeric docvalues columns of the query domain — computed
    inside the SAME per-segment sparse pass as the counts (np.unique
    inverse + weighted bincount / ufunc.at over hit ordinals only),
    merged as algebraic partials (Σcnt, Σsum → avg; per-segment
    min/max → global min/max). Only (term, cnt, partials) rows ever
    shuffle — one narrow row per (segment, bucket).

    ``aggs`` is a tuple of (kind, column) with kind ∈ sum|avg|min|max|
    sumsq|stddev|variance|missing|countvals|unique; the legacy
    single-metric form (``metric=col``) means ``aggs=(("avg", col),)``.
    Output columns are Solr-keyed ``<kind>_<col>`` (floats rounded 4dp
    — the pinned cross-engine rule; missing/countvals/unique are
    longs). ``sort`` is "count", an output column name (ranked desc on
    the round), or the legacy "metric" (the first agg's column).

    NULL semantics match Solr's FacetModule: missing values are
    EXCLUDED from every numeric aggregate (avg/stddev/variance divide
    by the non-missing count), ``missing`` counts them, ``countvals``
    counts the rest. ``stddev``/``variance`` are the SAMPLE (n-1)
    estimators, 0.0 when fewer than 2 values (AggUtil.stdDev).
    ``unique`` is EXACT via per-segment value SETS (UniqueAgg's
    per-shard set exchange) — right for dict-bounded docvalues fields;
    a high-cardinality column should use the hll/approx path instead
    (q_json_facet_approx).

    ref: solr/core/src/java/org/apache/solr/search/facet/SumAgg.java,
         AvgAgg.java, MinMaxAgg.java, SumsqAgg.java, StddevAgg.java,
         VarianceAgg.java, MissingAgg.java, CountValsAgg.java,
         UniqueAgg.java, FacetFieldProcessor (metrics-per-bucket).
    """
    if aggs is None:
        aggs = (("avg", metric),)
    for kind, _col in aggs:
        if kind not in _METRIC_KINDS:
            raise ValueError(f"unknown facet metric kind: {kind!r}")
    #: per-segment partial columns needed: Σx per sum/avg/stddev/
    #: variance column, Σx² per sumsq/stddev/variance column, one
    #: min/max per respective column, non-null + null counts where
    #: the kind needs them, one packed value set per unique column
    sum_cols = tuple(dict.fromkeys(
        c for k, c in aggs
        if k in ("sum", "avg", "stddev", "variance")))
    sq_cols = tuple(dict.fromkeys(
        c for k, c in aggs if k in ("sumsq", "stddev", "variance")))
    min_cols = tuple(dict.fromkeys(c for k, c in aggs if k == "min"))
    max_cols = tuple(dict.fromkeys(c for k, c in aggs if k == "max"))
    nv_cols = tuple(dict.fromkeys(
        c for k, c in aggs
        if k in ("avg", "stddev", "variance", "countvals")))
    ms_cols = tuple(dict.fromkeys(c for k, c in aggs if k == "missing"))
    uq_cols = tuple(dict.fromkeys(c for k, c in aggs if k == "unique"))
    num_cols = tuple(dict.fromkeys(
        c for k, c in aggs if k in _NUM_KINDS))
    metric_cols = tuple(dict.fromkeys(c for _, c in aggs))
    partial_cols = (
        [(f"s_{c}", "double") for c in sum_cols]
        + [(f"ss_{c}", "double") for c in sq_cols]
        + [(f"mn_{c}", "double") for c in min_cols]
        + [(f"mx_{c}", "double") for c in max_cols]
        + [(f"nv_{c}", "long") for c in nv_cols]
        + [(f"ms_{c}", "long") for c in ms_cols]
        + [(f"u_{c}", "string") for c in uq_cols]
    )
    partial_schema = "term string, cnt long, " + ", ".join(
        f"{p} {t}" for p, t in partial_cols
    )
    ord_col = f"{field}_ord"
    dom = SegmentDomain(searcher, spec, [ord_col, *metric_cols])

    def run_seg(seg_id: int, term_rows) -> pd.DataFrame:
        dm, hits = dom.read(seg_id, term_rows)
        ords = dom.ints(dm, ord_col)
        mv = dm.select(list(metric_cols)).to_pandas()
        # numeric kinds read float64 (nulls → NaN, masked out below);
        # missing/countvals/unique read the raw values + a null mask
        vals = {c: mv[c].to_numpy(np.float64) for c in num_cols}
        nulls = {c: mv[c].isna().to_numpy() for c in metric_cols}
        objs = {c: mv[c].to_numpy(object) for c in uq_cols}
        if hits is not None:
            ords = ords[hits]
            vals = {c: v[hits] for c, v in vals.items()}
            nulls = {c: v[hits] for c, v in nulls.items()}
            objs = {c: v[hits] for c, v in objs.items()}
        else:
            nulls, objs = dict(nulls), dict(objs)
        keep = ords >= 0
        ords = ords[keep]
        vals = {c: v[keep] for c, v in vals.items()}
        nulls = {c: v[keep] for c, v in nulls.items()}
        objs = {c: v[keep] for c, v in objs.items()}
        uniq, inv = np.unique(ords, return_inverse=True)
        data = {
            "term": _ord_terms(dom.seg_dirs[seg_id], field)[0][uniq],
            "cnt": np.bincount(inv).astype(np.int64),
        }
        nb = len(uniq)

        def _clean(c, fill):
            # null-excluding numeric view (Solr aggs skip missing vals)
            return np.where(nulls[c], fill, np.nan_to_num(vals[c]))

        for c in sum_cols:
            data[f"s_{c}"] = np.bincount(
                inv, weights=_clean(c, 0.0), minlength=nb)
        for c in sq_cols:
            v = _clean(c, 0.0)
            data[f"ss_{c}"] = np.bincount(inv, weights=v * v, minlength=nb)
        for c in min_cols:
            arr = np.full(nb, np.inf)
            np.minimum.at(arr, inv, _clean(c, np.inf))
            data[f"mn_{c}"] = arr
        for c in max_cols:
            arr = np.full(nb, -np.inf)
            np.maximum.at(arr, inv, _clean(c, -np.inf))
            data[f"mx_{c}"] = arr
        for c in nv_cols:
            data[f"nv_{c}"] = np.bincount(
                inv, weights=~nulls[c], minlength=nb).astype(np.int64)
        for c in ms_cols:
            data[f"ms_{c}"] = np.bincount(
                inv, weights=nulls[c], minlength=nb).astype(np.int64)
        for c in uq_cols:
            # UniqueAgg per-shard value SET, packed one string per
            # bucket (dict-bounded docvalues cardinality)
            sets = [set() for _ in range(nb)]
            nn = ~nulls[c]
            for i, v in zip(inv[nn], objs[c][nn]):
                sets[i].add(str(v))
            data[f"u_{c}"] = [_USEP.join(sorted(s)) for s in sets]
        return pd.DataFrame(data)

    parts = searcher.each_segment(run_seg, partial_schema, dom.postings_spec)
    merge_aggs = [F.sum("cnt").alias("cnt")]
    merge_aggs += [F.sum(f"s_{c}").alias(f"s_{c}") for c in sum_cols]
    merge_aggs += [F.sum(f"ss_{c}").alias(f"ss_{c}") for c in sq_cols]
    merge_aggs += [F.min(f"mn_{c}").alias(f"mn_{c}") for c in min_cols]
    merge_aggs += [F.max(f"mx_{c}").alias(f"mx_{c}") for c in max_cols]
    merge_aggs += [F.sum(f"nv_{c}").alias(f"nv_{c}") for c in nv_cols]
    merge_aggs += [F.sum(f"ms_{c}").alias(f"ms_{c}") for c in ms_cols]
    # UniqueAgg merge: union of the per-segment value sets
    merge_aggs += [
        F.collect_list(f"u_{c}").alias(f"ul_{c}") for c in uq_cols
    ]
    out_cols = [F.col("term").alias("facet_value"), F.col("cnt")]

    def _var(c):
        # sample variance from algebraic partials (Σx, Σx², n);
        # 0.0 below 2 values — the AggUtil.stdDev contract
        n, s, ss = F.col(f"nv_{c}"), F.col(f"s_{c}"), F.col(f"ss_{c}")
        return F.when(
            n > 1, (ss - s * s / n) / (n - 1)
        ).otherwise(F.lit(0.0))

    for kind, c in aggs:
        if kind == "unique":
            merged = F.array_distinct(F.filter(
                F.flatten(F.transform(
                    F.col(f"ul_{c}"), lambda x: F.split(x, _USEP)
                )),
                lambda v: v != F.lit(""),
            ))
            out_cols.append(
                F.size(merged).cast("long").alias(f"unique_{c}"))
            continue
        if kind in ("missing", "countvals"):
            src = F.col(f"ms_{c}" if kind == "missing" else f"nv_{c}")
            out_cols.append(src.cast("long").alias(f"{kind}_{c}"))
            continue
        src = {
            "sum": F.col(f"s_{c}"),
            "avg": F.when(
                F.col(f"nv_{c}") > 0,
                F.col(f"s_{c}") / F.col(f"nv_{c}")),
            "min": F.col(f"mn_{c}"),
            "max": F.col(f"mx_{c}"),
            "sumsq": F.col(f"ss_{c}"),
            "variance": _var(c),
            "stddev": F.sqrt(_var(c)),
        }[kind]
        out_cols.append(F.round(src, 4).alias(f"{kind}_{c}"))
    out = parts.groupBy("term").agg(*merge_aggs).select(*out_cols)
    # JSON Facet `sort` by a bucket metric (FacetFieldProcessor
    # sortVariable): rank on the ROUNDED value so the limit boundary
    # is engine-independent, facet_value tiebreak. "metric" is the
    # legacy spelling of the first agg's output column.
    sort_col = (
        f"{aggs[0][0]}_{aggs[0][1]}" if sort == "metric" else sort
    )
    if sort_col != "count" and sort_col not in out.columns:
        raise ValueError(f"unknown facet sort column: {sort!r}")
    order = (
        [F.desc(sort_col), F.asc("facet_value")]
        if sort_col != "count"
        else [F.desc("cnt"), F.asc("facet_value")]
    )
    return out.orderBy(*order).limit(limit)


def facet_pivot(
    searcher,
    fields: tuple[str, ...],
    spec: BooleanSpec | None = None,
    *,
    limits: tuple[int, ...],
) -> DataFrame:
    """Hierarchical pivot facet over the index docvalues
    (``facet.pivot=f1,f2,...`` — ``PivotFacetProcessor``), any depth:
    level 1 keeps the top ``limits[0]`` values of ``fields[0]``, and
    each deeper level keeps the top ``limits[i]`` children of every
    surviving parent, all ranked by (total desc, value asc). Rows are
    ``(v1, …, vN, cnt)`` ordered count desc, value asc at every level
    (Solr's ``facet.sort=count``).

    Per-segment sparse tuple counting: one ``np.unique`` over the hit
    docs' (ord1, …, ordN) rows, named in the task from ONE read of the
    segment's dictionary — only touched tuples leave the executor, so
    shuffle width is bounded by distinct co-occurring tuples, never
    the cardinality product. Docs missing any of the values (ord -1)
    are excluded, Lucene missing semantics.

    ref: solr/core/src/java/org/apache/solr/handler/component/
    PivotFacetProcessor.java (doPivots recursion)."""
    fields, limits = tuple(fields), tuple(limits)
    n = len(fields)
    if len(limits) != n:
        raise ValueError(f"facet_pivot: {n} fields but {len(limits)} limits")
    ord_cols = [f"{f}_ord" for f in fields]
    vs = [f"v{i + 1}" for i in range(n)]
    ts = [f"t{i + 1}" for i in range(n)]
    dom = SegmentDomain(searcher, spec, ord_cols)

    def count_tuples(seg_id: int, term_rows) -> pd.DataFrame:
        dm, hits = dom.read(seg_id, term_rows)
        ords = np.stack([dom.ints(dm, c) for c in ord_cols], axis=1)
        if hits is not None:
            ords = ords[hits]
        ords = ords[(ords >= 0).all(axis=1)]
        uniq, cnt = np.unique(ords, axis=0, return_counts=True)
        luts = _ord_terms(dom.seg_dirs[seg_id], *fields)
        out = {v: lut[uniq[:, i]] for i, (v, lut) in enumerate(zip(vs, luts))}
        return pd.DataFrame({**out, "cnt": cnt.astype(np.int64)})

    named = (
        searcher.each_segment(
            count_tuples,
            ", ".join(f"{v} string" for v in vs) + ", cnt long",
            dom.postings_spec,
        )
        .groupBy(*vs).agg(F.sum("cnt").alias("cnt"))
    )
    # level by level (PivotFacet's per-parent recursion): totals of
    # the surviving parents' children, top limits[i] per parent; the
    # parents' totals ride along for the output order
    top = None
    for i, lim in enumerate(limits):
        src = named if top is None else named.join(F.broadcast(top), vs[:i])
        tot = src.groupBy(*vs[: i + 1], *ts[:i]).agg(
            F.sum("cnt").alias(ts[i])
        )
        if i == 0:
            top = tot.orderBy(F.desc(ts[0]), vs[0]).limit(lim)
            continue
        w = Window.partitionBy(*vs[:i]).orderBy(F.desc(ts[i]), F.asc(vs[i]))
        top = (
            tot.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= lim)
            .drop("rk")
        )
    order = [c for t, v in zip(ts, vs) for c in (F.desc(t), F.asc(v))]
    return top.orderBy(*order).select(*vs, F.col(ts[-1]).alias("cnt"))


def facet_nested(
    searcher,
    f1: str,
    f2: str,
    spec: BooleanSpec | None = None,
    limit1: int = 3,
    limit2: int = 2,
) -> DataFrame:
    """One level of JSON-Facet sub-faceting with metrics
    (``solr/core/src/java/org/apache/solr/search/facet/FacetModule.java``
    nested-bucket shape): top `limit1` f1 buckets by domain count,
    inside each the top `limit2` f2 sub-buckets, each sub-bucket
    carrying count + avg(doc_len) (an ``AggValueSource`` metric riding
    the same partial rows).

    Physical: per-segment sparse (ord1, ord2) pair counting like a
    2-level :func:`facet_pivot`, but (a) docs missing f2 still count
    toward their f1 bucket (ord2 = -1 partials survive as a NULL v2,
    Lucene bucket-count semantics: the sub-facet only narrows its own
    sub-domain), and (b) each partial carries Σ doc_len so any
    algebraic metric merges associatively — only touched (pair, cnt,
    sum) rows shuffle."""
    o1, o2 = f"{f1}_ord", f"{f2}_ord"
    dom = SegmentDomain(searcher, spec, ["doc_len", o1, o2])

    def count_pairs(seg_id: int, term_rows) -> pd.DataFrame:
        dm, hits = dom.read(seg_id, term_rows)
        a, b, dl = (dom.ints(dm, c) for c in (o1, o2, "doc_len"))
        if hits is not None:
            a, b, dl = a[hits], b[hits], dl[hits]
        m = a >= 0  # keep ord2 == -1: counts toward the parent bucket
        a, b, dl = a[m], b[m], dl[m]
        key = a * (1 << 31) + (b + 1)  # -1 → 0
        order = np.argsort(key, kind="stable")
        key_s, dl_s = key[order], dl[order]
        starts = (
            np.nonzero(np.diff(key_s, prepend=key_s[0] - 1))[0]
            if len(key_s) else np.empty(0, np.int64)
        )
        uniq = key_s[starts]
        cnt = np.diff(np.append(starts, len(key_s)))
        sums = (
            np.add.reduceat(dl_s, starts) if len(key_s)
            else np.empty(0, np.int64)
        )
        lut1, lut2 = _ord_terms(dom.seg_dirs[seg_id], f1, f2)
        return pd.DataFrame({
            "v1": lut1[uniq >> 31],
            "v2": _named(lut2, (uniq & ((1 << 31) - 1)) - 1),
            "cnt": cnt.astype(np.int64),
            "sum_dl": sums.astype(np.int64),
        })

    named = searcher.each_segment(
        count_pairs, "v1 string, v2 string, cnt long, sum_dl long",
        dom.postings_spec,
    )
    top1 = (
        named.groupBy("v1").agg(F.sum("cnt").alias("cnt1"))
        .orderBy(F.desc("cnt1"), "v1").limit(limit1)
    )
    sub = (
        named.filter(F.col("v2").isNotNull())
        .groupBy("v1", "v2")
        .agg(F.sum("cnt").alias("cnt2"), F.sum("sum_dl").alias("sum_dl"))
    )
    w = Window.partitionBy("v1").orderBy(F.desc("cnt2"), F.asc("v2"))
    return (
        sub.join(F.broadcast(top1), "v1")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= limit2)
        .select(
            "v1", "cnt1", "v2", "cnt2",
            F.round(F.col("sum_dl") / F.col("cnt2"), 4).alias("avg_dl"),
        )
        .orderBy(F.desc("cnt1"), "v1", F.desc("cnt2"), "v2")
    )


def use_refine(searcher, req: FacetRequest, refine: bool, method: str) -> bool:
    """The facet method choice (SimpleFacets' enum/fc heuristic
    analog). refine=False or mincount>1 always means the exact
    driver-merge path (mincount exactness: ADVICE r2). Under
    method='auto', low-cardinality fields also route exact: when the
    field's whole dictionary fits in HALF the phase-1 over-request
    window, every term is a phase-1 candidate anyway, so the persist +
    per-segment ranking is pure overhead (measured 1.30 s → 0.73 s on
    the role facet at sf0.1). method='refine' forces the two-phase
    path (tests pin refine ≡ exact on every field with it)."""
    if not refine or req.mincount > 1:
        return False
    if method == "refine":
        return True
    return (searcher.field_cardinality(req.field) * 2
            > _overrequest(req.offset + req.limit))


def facet_field(
    searcher,
    req: FacetRequest,
    spec: BooleanSpec | None = None,
    refine: bool = True,
    method: str = "auto",
) -> DataFrame:
    """Distributed facet counts: (facet_value, cnt), top `limit`.

    The exact path (refine=False, mincount>1, or a low-cardinality
    field under method='auto' — :func:`use_refine`) collects the
    per-segment partials once and merges them on the driver
    (:func:`merge_partials`, the same merge ``/select``'s fused pass
    uses). refine=True on a high-cardinality field runs the
    reference's two-phase merge-and-refine (A3) in Spark: phase-1
    over-request ranks per segment, phase 2 sums the candidates' exact
    counts. With mincount>1 phase-1's per-segment ranking could let
    sub-mincount singletons crowd qualifying buckets out of the
    over-request window (ADVICE r2), so mincount>1 requests are
    routed exact.

    facet.sort honors count (default) vs index order — phase-1
    over-request ranks per segment in the SAME order, Solr's refine
    contract; facet.prefix narrows before ranking; facet.missing
    appends a trailing NULL bucket (never subject to limit/sort).
    Either way the bounded result comes back as a pandas-built
    LocalRelation (no job on collect).
    """
    # MatchAll-domain partials are snapshot-stable → served from the
    # searcher's UnInvertedField-style cache (one tiny persisted
    # (seg_id, term, cnt) frame per field; a new snapshot means a
    # new searcher, so staleness is impossible). Query-domain partials
    # are computed per call as before.
    cache_key = (
        (req.field, req.group_by, req.missing) if spec is None else None
    )
    raw = searcher._facet_cache.get(cache_key) if cache_key else None
    if raw is None:
        raw = segment_partials(searcher, req, spec)
        if cache_key is not None:
            raw = raw.persist()  # cache-owned: lives with the searcher
            # concurrent serving threads may race the population;
            # setdefault keeps exactly one persisted frame alive
            prior = searcher._facet_cache.setdefault(cache_key, raw)
            if prior is not raw:
                raw.unpersist()
                raw = prior
    if not use_refine(searcher, req, refine, method):
        return local_frame(
            searcher.spark, merge_partials(raw.toPandas(), req), FACET_SCHEMA
        )
    # phase 1 (per-segment top ranking) and phase 2 (exact counts for
    # candidates) both consume the partials; persisting them runs the
    # sparse counting pass ONCE instead of twice (~40% off MatchAll
    # high-cardinality facet latency). The cached rows are tiny —
    # (seg_id, term, cnt) partials only.
    cached: list[DataFrame] = []  # call-owned persisted frames to free
    if cache_key is None and req.missing:
        raw = raw.persist()  # both the buckets and the miss row
        cached.append(raw)
    # missing-value partials carry a NULL term: never a bucket
    parts = raw.filter(F.col("term").isNotNull())
    if req.prefix is not None:
        parts = parts.filter(F.col("term").startswith(req.prefix))
    if req.contains is not None:
        if req.contains_ignore_case:
            parts = parts.filter(
                F.lower(F.col("term")).contains(req.contains.lower()))
        else:
            parts = parts.filter(F.col("term").contains(req.contains))
    if req.matches is not None:
        # whole-value match (Pattern.matches): anchor explicitly —
        # Catalyst rlike is a find/substring match
        parts = parts.filter(F.col("term").rlike(f"^(?:{req.matches})$"))
    if req.exclude_terms:
        parts = parts.filter(~F.col("term").isin(*req.exclude_terms))
    rank_order = (
        [F.desc("cnt"), F.asc("term")] if req.sort == "count" else [F.asc("term")]
    )
    parts = parts.persist()
    cached.append(parts)
    over = _overrequest(req.offset + req.limit)
    w = Window.partitionBy("seg_id").orderBy(*rank_order)
    cands = (
        parts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= over)
        .select("term")
        .distinct()
    )
    # Phase 2 refinement: exact counts for candidate terms only.
    refined = parts.join(F.broadcast(cands), "term", "left_semi")
    agg = refined.groupBy("term").agg(F.sum("cnt").alias("cnt"))
    out_order = (
        [F.desc("cnt"), F.asc("facet_value")] if req.sort == "count"
        else [F.asc("facet_value")]
    )
    out = agg.filter(F.col("cnt") >= req.mincount).select(
        F.col("term").alias("facet_value"), "cnt"
    ).orderBy(*out_order)
    if req.offset:
        out = out.offset(req.offset)
    out = out.limit(req.limit)
    if req.missing:
        miss = (
            raw.filter(F.col("term").isNull())
            .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("cnt"))
            .select(F.lit(None).cast("string").alias("facet_value"), "cnt")
        )
        out = out.unionByName(miss)
    # The facet result is bounded (<= limit+1 rows); materialize it now
    # so the persisted partials can be freed immediately — a long-lived
    # serving searcher must not accumulate cached partial frames across
    # facet calls (ADVICE r2).
    pdf = out.toPandas()
    for df in cached:
        df.unpersist()
    return local_frame(searcher.spark, pdf, FACET_SCHEMA)


RELATEDNESS_PARTIAL_SCHEMA = "term string, fg long, bg long"


def facet_relatedness(
    searcher,
    field: str,
    fg_spec: BooleanSpec,
    limit: int = 10,
    min_fg: int = 0,
) -> DataFrame:
    """JSON Facet ``relatedness()`` — the Semantic Knowledge Graph
    aggregate: per bucket of ``field``, how related the bucket is to a
    FOREGROUND query domain vs the BACKGROUND corpus.

    Pinned formula (the fork's z-approximation; both popularities are
    normalized by the BACKGROUND size, which is intentional there)::

        fg_pop      = fg_count / bg_size
        bg_pop      = bg_count / bg_size
        relatedness = (fg_pop - bg_pop) / sqrt(fg_pop + bg_pop)
                      (0.0 when fg_pop + bg_pop == 0)

    The score is bounded in [-1, 1]. Buckets rank by the ROUNDED
    relatedness (engine-independent limit boundary), bucket value
    tiebreak.

    Physical — ONE per-segment pass visiting EVERY segment, like
    significant_terms: each task reads its OWN docmap (and only the fg
    spec's term-pruned postings rows), computes the fg hit DocSet
    once, then counts bucket ordinals over BOTH domains in the same
    vectorized pass. Only (term, fg, bg) partials plus one sizes row
    (NULL term) per segment ever shuffle — bucket cardinality bounds
    the shuffle, never corpus size. Visiting every segment is
    load-bearing: segments with zero fg matches still contribute
    background counts.

    ref: solr/core/src/java/org/apache/solr/search/facet/RelatednessAgg.java
         (computeRelatedness; fg/bg set comparison per bucket)
    """
    ord_col = f"{field}_ord"
    dom = SegmentDomain(searcher, fg_spec, [ord_col])

    def run_seg(seg_id: int, term_rows) -> pd.DataFrame:
        leaf = dom.open(seg_id, term_rows)
        ords = dom.ints(leaf.dm, ord_col)
        live = leaf.live
        if live is None:
            bg_ords, bg_size = ords, len(ords)
        else:
            bg_ords, bg_size = ords[live], int(live.sum())
        fg_ords = ords[leaf.hits]
        # one sparse pass over each domain's touched ordinals
        bg_u, bg_c = np.unique(bg_ords[bg_ords >= 0], return_counts=True)
        fg_u, fg_c = np.unique(fg_ords[fg_ords >= 0], return_counts=True)
        # fg ords ⊆ bg ords (fg hits are masked to the live domain), so
        # one searchsorted scatter aligns the columns — vectorized,
        # never a python loop over bucket cardinality
        fg_col = np.zeros(len(bg_u), np.int64)
        if len(fg_u):
            fg_col[np.searchsorted(bg_u, fg_u)] = fg_c
        # sizes row: a NULL term carries (fg_size, bg_size)
        terms = np.append(
            _ord_terms(dom.seg_dirs[seg_id], field)[0][bg_u], None
        )
        return pd.DataFrame(
            {
                "term": terms,
                "fg": np.append(fg_col, len(leaf.hits)).astype(np.int64),
                "bg": np.append(bg_c, bg_size).astype(np.int64),
            }
        )

    partials = searcher.each_segment(
        run_seg, RELATEDNESS_PARTIAL_SCHEMA, dom.postings_spec,
        visit_all=True,
    ).persist()
    sizes = (
        partials.filter(F.col("term").isNull())
        .agg(F.sum("bg").alias("bg_size"))
    )
    agg = partials.filter(F.col("term").isNotNull()).groupBy("term").agg(
        F.sum("fg").alias("fg_count"), F.sum("bg").alias("bg_count")
    )
    fg_pop = F.col("fg_count") / F.col("bg_size")
    bg_pop = F.col("bg_count") / F.col("bg_size")
    rel = F.when(
        F.col("fg_count") + F.col("bg_count") == 0, F.lit(0.0)
    ).otherwise((fg_pop - bg_pop) / F.sqrt(fg_pop + bg_pop))
    out = (
        agg.join(F.broadcast(sizes))
        .filter(F.col("fg_count") >= min_fg)
        .select(
            F.col("term").alias("facet_value"),
            "fg_count",
            "bg_count",
            F.round(rel, 4).alias("relatedness"),
        )
        .orderBy(F.desc("relatedness"), F.asc("facet_value"))
        .limit(limit)
    )
    # bounded result (<= limit rows): materialize so the persisted
    # partials free immediately (same discipline as facet_field)
    pdf = out.toPandas()
    partials.unpersist()
    return local_frame(searcher.spark, pdf, out.schema)


def _bucket_counts(partials: DataFrame, limit: int) -> DataFrame:
    """(facet_value, cnt) top ``limit`` by (cnt desc, value asc) over
    named (term, cnt) partials."""
    return (
        partials.groupBy("term")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.col("term").alias("facet_value"), "cnt")
        .orderBy(F.desc("cnt"), F.asc("facet_value"))
        .limit(limit)
    )


def facet_block_domain(
    searcher,
    field: str,
    spec: BooleanSpec,
    limit: int = 10,
) -> DataFrame:
    """JSON Facet ``domain: {blockChildren: ...}`` widening: facet over
    ALL turns of every conversation that contains a matching turn —
    the child-domain broadening of the block-join domain changes.

    Segment-local exactness: conversations never span segments
    (hash-partitioned build), so each segment task widens its OWN hit
    set to full conv blocks with one vectorized isin — no cross-segment
    conv-id shuffle, no join. Only bucket-count partials leave the
    executor.

    ref: solr/core/src/java/org/apache/solr/search/facet/FacetRequest.java
         (Domain.toChildren / BlockJoinChildQParser domain changes)
    """
    ord_col = f"{field}_ord"
    dom = SegmentDomain(searcher, spec, [ord_col, "conv_id"])

    def run_seg(seg_id: int, term_rows) -> pd.DataFrame:
        leaf = dom.open(seg_id, term_rows)
        convs = leaf.dm.column("conv_id").to_numpy()
        # widen: every live doc whose conversation contains a hit
        in_block = np.isin(convs, np.unique(convs[leaf.hits]))
        if leaf.live is not None:
            in_block &= leaf.live
        ords = dom.ints(leaf.dm, ord_col)[in_block]
        uniq, cnt = np.unique(ords[ords >= 0], return_counts=True)
        return pd.DataFrame({
            "term": _ord_terms(dom.seg_dirs[seg_id], field)[0][uniq],
            "cnt": cnt.astype(np.int64),
        })

    return _bucket_counts(searcher.each_segment(
        run_seg, "term string, cnt long", dom.postings_spec
    ), limit)


UNIQUE_BLOCK_PARTIAL_SCHEMA = "term string, cnt long, uniq long"


def facet_unique_block(
    searcher,
    field: str,
    spec: BooleanSpec | None = None,
    limit: int = 10,
) -> DataFrame:
    """JSON Facet ``uniqueBlock(_root_)`` — child-domain buckets each
    carrying the number of DISTINCT PARENT blocks (conversations)
    alongside the child doc count.

    Exactness without a distinct shuffle: conversations never span
    segments (hash-partitioned build), so per-segment distinct-conv
    counts SUM to the exact global distinct — the same block locality
    `q_idx_grouped_facet` and the conv block joins rely on. Each
    segment's pass counts docs AND unique conv blocks per bucket
    ordinal in one vectorized composite-key np.unique; only
    (term, cnt, uniq) rows shuffle.

    ref: solr/core/src/java/org/apache/solr/search/facet/UniqueBlockAgg.java
         (unique parent counting riding the child-domain terms facet)
    """
    ord_col = f"{field}_ord"
    dom = SegmentDomain(searcher, spec, [ord_col, "conv_id"])

    def run_seg(seg_id: int, term_rows) -> pd.DataFrame:
        dm, hits = dom.read(seg_id, term_rows)
        ords = dom.ints(dm, ord_col)
        convs = dm.column("conv_id").to_numpy()
        if hits is not None:
            ords, convs = ords[hits], convs[hits]
        keep = ords >= 0
        ords, convs = ords[keep], convs[keep]
        uniq_o, inv = np.unique(ords, return_inverse=True)
        cnt = np.bincount(inv, minlength=len(uniq_o))
        # distinct (ord, conv) pairs -> per-ord unique block count
        codes = pd.factorize(convs)[0].astype(np.int64)
        stride = int(codes.max()) + 1 if len(codes) else 1
        pair_ords = np.unique(ords * stride + codes) // stride
        ub = np.bincount(
            np.searchsorted(uniq_o, pair_ords), minlength=len(uniq_o)
        )
        return pd.DataFrame(
            {
                "term": _ord_terms(dom.seg_dirs[seg_id], field)[0][uniq_o],
                "cnt": cnt.astype(np.int64),
                "uniq": ub.astype(np.int64),
            }
        )

    partials = searcher.each_segment(
        run_seg, UNIQUE_BLOCK_PARTIAL_SCHEMA, dom.postings_spec
    )
    return (
        partials.groupBy("term")
        .agg(F.sum("cnt").alias("cnt"), F.sum("uniq").alias("unique_convs"))
        .select(F.col("term").alias("facet_value"), "cnt", "unique_convs")
        .orderBy(F.desc("cnt"), F.asc("facet_value"))
        .limit(limit)
    )


def facet_block_parent(
    searcher,
    field: str,
    spec: BooleanSpec,
    limit: int = 10,
) -> DataFrame:
    """JSON Facet ``domain: {blockParent: ...}`` narrowing: map every
    CHILD hit to its parent block document and facet the PARENTS — one
    count per matching conversation, bucketed by the parent row's
    field value. In the (conv_id, turn_idx)-sorted block model the
    parent document is the conversation root, ``turn_idx == 0``.

    Segment-local exactness, same invariant as blockChildren /
    uniqueBlock: conversations never span segments (hash-partitioned
    build), so each segment task maps its OWN hits to parent rows with
    one vectorized isin — no conv-id shuffle, no join; only
    (term, cnt) partials leave the executor. A tombstoned parent row
    drops its conversation from the domain (liveDocs parity with
    ToParentBlockJoinQuery: deleted parents are never returned).

    ref: solr/core/src/java/org/apache/solr/search/facet/FacetRequest.java
         (Domain.toParent / BlockJoinParentQParser domain changes)
    """
    ord_col = f"{field}_ord"
    dom = SegmentDomain(searcher, spec, [ord_col, "conv_id", "turn_idx"])

    def run_seg(seg_id: int, term_rows) -> pd.DataFrame:
        leaf = dom.open(seg_id, term_rows)
        convs = leaf.dm.column("conv_id").to_numpy()
        # toParent: parent rows (turn 0, live) of conversations with a hit
        parents = dom.ints(leaf.dm, "turn_idx") == 0
        if leaf.live is not None:
            parents &= leaf.live
        parents &= np.isin(convs, np.unique(convs[leaf.hits]))
        ords = dom.ints(leaf.dm, ord_col)[parents]
        uniq, cnt = np.unique(ords[ords >= 0], return_counts=True)
        return pd.DataFrame({
            "term": _ord_terms(dom.seg_dirs[seg_id], field)[0][uniq],
            "cnt": cnt.astype(np.int64),
        })

    return _bucket_counts(searcher.each_segment(
        run_seg, "term string, cnt long", dom.postings_spec
    ), limit)
