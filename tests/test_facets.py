"""SOLR-5894 faceting regression tests (SURVEY §5, fork's
sparse-vs-stock equivalence suite re-expressed):

- two-phase merge-and-refine == exact single-shuffle groupBy,
- index facet path == plain DataFrame GROUP BY over the same domain,
- missing values (ord -1) are excluded, mincount honored,
- MatchAllDocs high-cardinality domain (first-token field).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.analyzer import tokens_col
from lucene_solr_spark.index.build import build_index
from lucene_solr_spark.query.executor import IndexSearcher
from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.transcripts import transcripts_from_documents


@pytest.fixture(scope="module")
def searcher(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fidx"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    return IndexSearcher(spark, root), t


def control_counts(t, field_col, domain_filter, limit):
    """Stock faceting control: plain Catalyst GROUP BY over the domain."""
    return (
        t.withColumn("toks", tokens_col("text"))
        .filter(domain_filter)
        .withColumn("facet_value", field_col)
        .filter(F.col("facet_value").isNotNull())
        .groupBy("facet_value")
        .count()
        .withColumnRenamed("count", "cnt")
        .orderBy(F.desc("cnt"), F.asc("facet_value"))
        .limit(limit)
        .toPandas()
    )


CASES = [
    ("role", lambda: F.col("role"), BooleanSpec(must=("merge",)),
     lambda: F.array_contains(F.col("toks"), "merge"), 10),
    ("tool", lambda: F.col("tool"), BooleanSpec(must=("data",)),
     lambda: F.array_contains(F.col("toks"), "data"), 10),
    ("ftok", lambda: F.element_at(F.col("toks"), 1), None,
     lambda: F.size("toks") > 0, 20),
]


@pytest.mark.parametrize("field,fcol,spec,dfilter,limit", CASES,
                         ids=[c[0] for c in CASES])
def test_facet_matches_control(searcher, field, fcol, spec, dfilter, limit):
    s, t = searcher
    got = s.facet(field, spec=spec, limit=limit).toPandas()
    want = control_counts(t, fcol(), dfilter(), limit)
    assert list(zip(got.facet_value, got.cnt)) == list(zip(want.facet_value, want.cnt))


@pytest.mark.parametrize("field,spec", [
    ("role", BooleanSpec(must=("merge",))),
    ("ftok", None),
], ids=["role", "ftok-hc"])
def test_refine_equals_exact(searcher, field, spec):
    """Two-phase merge-and-refine must equal the exact aggregation
    (the fork's sparse-vs-stock regression invariant). method='refine'
    FORCES the two-phase path — without it the auto facet.method
    heuristic would route low-cardinality fields exact and this duel
    would compare exact against itself."""
    s, _ = searcher
    a = s.facet(field, spec=spec, limit=15, method="refine").toPandas()
    b = s.facet(field, spec=spec, limit=15, refine=False).toPandas()
    assert list(zip(a.facet_value, a.cnt)) == list(zip(b.facet_value, b.cnt))


def test_facet_method_routing(searcher):
    """The auto method heuristic (SimpleFacets enum/fc analog): a
    4-value field whose dictionary fits in half the over-request
    window routes exact; a dictionary wider than the window keeps the
    SOLR-5894 two-phase refine; mincount>1 and refine=False are
    always exact; method='refine' overrides the heuristic."""
    from lucene_solr_spark.query.facets import FacetRequest, use_refine

    s, _ = searcher
    role = FacetRequest(field="role", limit=15)
    ftok = FacetRequest(field="ftok", limit=15)
    assert not use_refine(s, role, refine=True, method="auto")
    assert use_refine(s, ftok, refine=True, method="auto")
    assert use_refine(s, role, refine=True, method="refine")
    assert not use_refine(s, ftok, refine=False, method="auto")
    assert not use_refine(
        s, FacetRequest(field="ftok", limit=15, mincount=3),
        refine=True, method="auto",
    )


def test_mincount_filters(searcher):
    s, _ = searcher
    got = s.facet("ftok", spec=None, limit=1000, mincount=3).toPandas()
    assert (got.cnt >= 3).all()


def test_filtered_domain(searcher):
    """fq-restricted facet domain (FILTER clause, non-scoring)."""
    s, t = searcher
    spec = BooleanSpec(must=("query",), filters=(("role", "assistant"),))
    got = s.facet("role", spec=spec, limit=10).toPandas()
    assert set(got.facet_value) <= {"assistant"}
    want = control_counts(
        t, F.col("role"),
        F.array_contains(F.col("toks"), "query") & (F.col("role") == "assistant"),
        10,
    )
    assert list(zip(got.facet_value, got.cnt)) == list(zip(want.facet_value, want.cnt))


def test_multiselect_exclusion(searcher):
    """Multi-select faceting ({!tag}/{!ex} analog): excluding the
    role fq from the role facet's domain yields the UNfiltered q-only
    counts; a facet on another field keeps honoring the fq."""
    s, t = searcher
    spec = BooleanSpec(must=("query",), filters=(("role", "assistant"),))
    got = s.facet(
        "role", spec=spec, limit=10, exclude_fields=("role",)
    ).toPandas()
    want = control_counts(
        t, F.col("role"), F.array_contains(F.col("toks"), "query"), 10
    )
    assert list(zip(got.facet_value, got.cnt)) == list(zip(want.facet_value, want.cnt))
    assert len(got) > 1  # the excluded filter really widened the domain
    # non-excluded facet on the same request still sees the fq domain
    tool = s.facet("tool", spec=spec, limit=10).toPandas()
    want_tool = control_counts(
        t, F.col("tool"),
        F.array_contains(F.col("toks"), "query") & (F.col("role") == "assistant"),
        10,
    )
    assert list(zip(tool.facet_value, tool.cnt)) == list(
        zip(want_tool.facet_value, want_tool.cnt)
    )


def test_multiselect_fq_only_widens_to_matchall(searcher):
    """Filter-only request + exclusion of its only filter ==
    MatchAllDocs facet (unchecking the single active checkbox)."""
    s, t = searcher
    spec = BooleanSpec(filters=(("role", "user"),))
    got = s.facet(
        "role", spec=spec, limit=10, exclude_fields=("role",)
    ).toPandas()
    want = control_counts(t, F.col("role"), F.lit(True), 10)
    assert list(zip(got.facet_value, got.cnt)) == list(zip(want.facet_value, want.cnt))


def test_grouped_facet_counts_each_conv_once(searcher):
    """group.facet analog: per-bucket counts equal COUNT(DISTINCT
    conv_id) over the domain (each conversation once per bucket, no
    matter how many matching turns it has)."""
    s, t = searcher
    spec = BooleanSpec(must=("merge",))
    got = s.facet("role", spec=spec, limit=10, group_by="conv_id").toPandas()
    want = (
        t.withColumn("toks", tokens_col("text"))
        .filter(F.array_contains(F.col("toks"), "merge"))
        .groupBy(F.col("role").alias("facet_value"))
        .agg(F.countDistinct("conv_id").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("facet_value"))
        .limit(10)
        .toPandas()
    )
    assert list(zip(got.facet_value, got.cnt)) == list(
        zip(want.facet_value, want.cnt)
    )
    # grouped counts must be strictly below doc counts somewhere
    # (conversations have several matching turns) — the discriminator
    plain = s.facet("role", spec=spec, limit=10).toPandas()
    plain_map = dict(zip(plain.facet_value, plain.cnt))
    assert any(plain_map[v] > c for v, c in zip(got.facet_value, got.cnt))


def test_facet_metrics_match_control(searcher):
    """Bucket metrics (cnt + avg doc_len) from the sparse segment pass
    equal a plain Catalyst GROUP BY over the same domain — for a
    filtered domain too."""
    from lucene_solr_spark.query.facets import facet_metrics

    s, t = searcher
    spec = BooleanSpec(must=("query",), filters=(("role", "assistant"),))
    got = facet_metrics(s, "role", metric="doc_len", spec=spec).toPandas()
    want = (
        t.withColumn("toks", tokens_col("text"))
        .filter(
            F.array_contains(F.col("toks"), "query")
            & (F.col("role") == "assistant")
        )
        .groupBy(F.col("role").alias("facet_value"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg(F.size("toks")), 4).alias("avg_doc_len"),
        )
        .orderBy(F.desc("cnt"), "facet_value")
        .toPandas()
    )
    assert list(map(tuple, got.values)) == list(map(tuple, want.values))


def test_grouped_facet_rejects_non_segment_local_key(searcher):
    s, _t = searcher
    with pytest.raises(ValueError):
        s.facet("role", spec=None, group_by="tool").collect()


def test_nested_and_pivot_merge_invariant(spark, sf_dir, tmp_path_factory):
    """facet_nested + facet_pivot are segment-layout-invariant: a
    merged (compacted) index — new seg ids, re-derived ordinal
    dictionaries (OrdinalMap analog) — must produce identical buckets
    and metrics."""
    import shutil

    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.index.merge import merge_segments
    from lucene_solr_spark.query.executor import IndexSearcher
    from lucene_solr_spark.query.facets import facet_nested, facet_pivot
    from lucene_solr_spark.transcripts import transcripts_from_documents

    root = str(tmp_path_factory.mktemp("fmi"))
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=4, lineage_source=sf_dir)
    mroot = root + "_m"
    shutil.copytree(root, mroot)
    merge_segments(spark, mroot, merge_factor=2)
    s, sm = IndexSearcher(spark, root), IndexSearcher(spark, mroot)

    spec = BooleanSpec(must=("data",))
    a = facet_nested(s, "role", "tool", spec=spec, limit1=3, limit2=2).toPandas()
    b = facet_nested(sm, "role", "tool", spec=spec, limit1=3, limit2=2).toPandas()
    assert a.equals(b), (a, b)

    c = facet_pivot(s, ("role", "tool"), spec=spec, limits=(3, 2)).toPandas()
    d = facet_pivot(sm, ("role", "tool"), spec=spec, limits=(3, 2)).toPandas()
    assert c.equals(d), (c, d)

    # grouped facet + bucket metrics: merging unions disjoint conv
    # sets, so segment-local distinct counting and algebraic metric
    # partials must survive compaction unchanged
    from lucene_solr_spark.query.facets import facet_metrics

    e = s.facet("role", spec=spec, group_by="conv_id").toPandas()
    f = sm.facet("role", spec=spec, group_by="conv_id").toPandas()
    assert e.equals(f), (e, f)
    g = facet_metrics(s, "role", metric="doc_len", spec=spec).toPandas()
    h = facet_metrics(sm, "role", metric="doc_len", spec=spec).toPandas()
    assert g.equals(h), (g, h)


def test_refine_mincount_routes_exact(searcher):
    """ADVICE r2: mincount>1 must be exact even under refine=True
    (routed through the single-shuffle path — phase-1 over-request has
    no mincount awareness). sort=index is the adversarial order."""
    s, _ = searcher
    for sort in ("count", "index"):
        ref = s.facet("ftok", limit=15, mincount=3, refine=True,
                      sort=sort).toPandas()
        ex = s.facet("ftok", limit=15, mincount=3, refine=False,
                     sort=sort).toPandas()
        assert ref.values.tolist() == ex.values.tolist()


def test_facet_unpersists_cached_partials(searcher, spark):
    """ADVICE r2: a long-lived searcher must not accumulate persisted
    partial frames across facet calls."""
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    s, _ = searcher
    s.facet("role", spec=BooleanSpec(must=("merge",)), limit=5,
            missing=True).collect()
    s.facet("ftok", limit=10, refine=True).collect()
    assert sc._jsc.getPersistentRDDs().size() == before


def test_filter_only_spec_facets_over_fq_domain(searcher):
    """ADVICE r2 (query_job guard): faceting with a term-free spec must
    count over the fq domain, not MatchAll."""
    s, t = searcher
    spec = BooleanSpec(filters=(("role", "assistant"),))
    got = s.facet("tool", spec=spec, limit=10).toPandas()
    want = control_counts(
        t, F.col("tool"), F.col("role") == "assistant", 10
    )
    assert got.values.tolist() == want.values.tolist()


# --- blockChildren domain widening (r4) -------------------------------

def test_block_domain_widens_counts(searcher):
    """The blockChildren-widened domain is a SUPERSET of the plain
    query domain: every bucket count must be >= the plain facet's, and
    the widened total equals the turn count of matching conversations."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.query.facets import facet_block_domain
    from lucene_solr_spark.query.model import BooleanSpec

    searcher, _t = searcher
    spec = BooleanSpec(must=("merge",))
    plain = {
        r.facet_value: r.cnt
        for r in searcher.facet("role", spec=spec, limit=20).collect()
    }
    wide = {
        r.facet_value: r.cnt
        for r in facet_block_domain(searcher, "role", spec, limit=20).collect()
    }
    assert all(wide.get(k, 0) >= v for k, v in plain.items())
    convs = searcher.docset(spec).select("conv_id").distinct()
    total = (
        searcher.docmap()
        .join(F.broadcast(convs), "conv_id", "left_semi")
        .count()
    )
    assert sum(wide.values()) == total


def test_matchall_facet_cache_is_snapshot_safe(spark, sf_dir, tmp_path):
    """UnInvertedField-cache analog: repeated MatchAll facets on one
    searcher reuse the cached partials and stay identical; a delete
    produces a NEW searcher whose fresh cache reflects the mask —
    staleness is structurally impossible (cache lives on the
    snapshot-pinned instance)."""
    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.index.deletes import delete_by_query
    from lucene_solr_spark.query.executor import IndexSearcher
    from lucene_solr_spark.transcripts import transcripts_from_documents

    root = str(tmp_path / "fc")
    t = transcripts_from_documents(spark, sf_dir)
    build_index(spark, t, root, num_parts=2, lineage_source=sf_dir)
    s = IndexSearcher(spark, root)
    a = [tuple(r) for r in s.facet("role", spec=None, limit=10).collect()]
    assert ("role", None, False) in s._facet_cache  # populated
    b = [tuple(r) for r in s.facet("role", spec=None, limit=10).collect()]
    assert a == b
    # a query-domain facet never touches the MatchAll cache
    s.facet("role", spec=BooleanSpec(must=("merge",)), limit=10).collect()
    assert len(s._facet_cache) == 1

    delete_by_query(spark, root, BooleanSpec(filters=(("role", "user"),)))
    s2 = IndexSearcher(spark, root)  # new snapshot → new cache
    c = {r.facet_value: r.cnt
         for r in s2.facet("role", spec=None, limit=10).collect()}
    assert "user" not in c
    assert dict((k, v) for k, v in a) != c


# --- facet.offset paging (r4) -----------------------------------------

def test_facet_offset_pages_consistently(searcher):
    """offset paging invariant: page1(limit 5) + page2(offset 5,
    limit 10) == the head-15 list, on BOTH the refine and exact
    paths (the widened over-request keeps refine exact through the
    skipped head)."""
    s, _t = searcher

    def rows(**kw):
        return [(r.facet_value, r.cnt)
                for r in s.facet("ftok", spec=None, **kw).collect()]

    for kw in ({"method": "refine"}, {"refine": False}):
        head15 = rows(limit=15, **kw)
        p1 = rows(limit=5, **kw)
        p2 = rows(limit=10, offset=5, **kw)
        assert p1 + p2 == head15, kw
    # refine path == exact path at every page
    assert rows(limit=10, offset=5, method="refine") == rows(
        limit=10, offset=5, refine=False
    )


def test_multiselect_excludes_exists_filter(searcher):
    """exists/missing fq clauses ride the multi-select exclusion like
    filters/in_filters (working-notes invariant): excluding 'tool'
    drops the tool:* constraint from THIS facet's domain; with it as
    the only constraint the domain widens to MatchAll."""
    s, t = searcher
    spec = BooleanSpec(exists_filters=("tool",))
    # honoring the constraint: only tool-bearing docs counted
    kept = s.facet("role", spec=spec, limit=10).toPandas()
    want_kept = control_counts(
        t, F.col("role"), F.col("tool").isNotNull(), 10
    )
    assert list(zip(kept.facet_value, kept.cnt)) == list(
        zip(want_kept.facet_value, want_kept.cnt)
    )
    # excluding it: MatchAll domain
    got = s.facet(
        "role", spec=spec, limit=10, exclude_fields=("tool",)
    ).toPandas()
    want = control_counts(t, F.col("role"), F.lit(True), 10)
    assert list(zip(got.facet_value, got.cnt)) == list(
        zip(want.facet_value, want.cnt)
    )


def test_facet_metrics_multi_aggs_match_control(searcher):
    """Multiple scalar sub-aggs (sum/avg/min/max, mixed columns) from
    the one sparse segment pass equal a plain Catalyst GROUP BY; rank
    by a chosen metric column."""
    from lucene_solr_spark.query.facets import facet_metrics

    s, t = searcher
    spec = BooleanSpec(must=("data",))
    got = facet_metrics(
        s, "role", spec=spec, limit=5, sort="avg_doc_len",
        aggs=(("sum", "doc_len"), ("avg", "doc_len"),
              ("min", "turn_idx"), ("max", "turn_idx")),
    ).toPandas()
    want = (
        t.withColumn("toks", tokens_col("text"))
        .filter(F.array_contains(F.col("toks"), "data"))
        .groupBy(F.col("role").alias("facet_value"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.size("toks")).cast("double"), 4)
            .alias("sum_doc_len"),
            F.round(F.avg(F.size("toks")), 4).alias("avg_doc_len"),
            F.round(F.min("turn_idx").cast("double"), 4)
            .alias("min_turn_idx"),
            F.round(F.max("turn_idx").cast("double"), 4)
            .alias("max_turn_idx"),
        )
        .orderBy(F.desc("avg_doc_len"), "facet_value")
        .limit(5)
        .toPandas()
    )
    assert list(map(tuple, got.values)) == list(map(tuple, want.values))
    with pytest.raises(ValueError, match="unknown facet metric kind"):
        facet_metrics(s, "role", spec=spec, aggs=(("median", "doc_len"),))
    with pytest.raises(ValueError, match="unknown facet sort"):
        facet_metrics(s, "role", spec=spec, sort="avg_nope",
                      aggs=(("avg", "doc_len"),)).collect()
