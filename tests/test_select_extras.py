"""/select param extras: group.offset, facet.exists, {!boost}."""
from __future__ import annotations

import pytest

from lucene_solr_spark.handler import parse_select_params, select
from lucene_solr_spark.registry import cached_searcher


def test_group_offset_slices_within_doclists(spark, sf_dir):
    """group.offset=N drops each group's first N docs: the offset run
    equals the wider run's doclists with the head rows removed, and
    doc_rank rebases to 1."""
    s = cached_searcher(spark, sf_dir)
    base = {"q": "merge data", "rows": 4,
            "group": True, "group.field": "role", "group.limit": 3}
    wide = select(s, base)["grouped"].collect()
    off = select(s, {**base, "group.limit": 2, "group.offset": 1})[
        "grouped"].collect()
    expect = [
        (r.group_value, r.conv_id, r.turn_idx, r.doc_rank - 1)
        for r in wide if r.doc_rank >= 2
    ]
    got = [(r.group_value, r.conv_id, r.turn_idx, r.doc_rank) for r in off]
    assert got == expect and got


def test_group_offset_validation(spark, sf_dir):
    with pytest.raises(ValueError, match="group.offset"):
        parse_select_params({"q": "m", "group": True,
                             "group.field": "role", "group.offset": -1})
    with pytest.raises(ValueError, match="need group=true"):
        parse_select_params({"q": "m", "group.offset": 1})


def test_facet_exists_caps_counts(spark, sf_dir):
    """facet.exists=true: same buckets as the index-sorted facet,
    every count exactly 1."""
    s = cached_searcher(spark, sf_dir)
    base = {"q": "merge", "rows": 0, "facet.field": "role",
            "facet.sort": "index"}
    plain = select(s, base)["facet_counts"]["role"].collect()
    exists = select(s, {**base, "facet.exists": True})[
        "facet_counts"]["role"].collect()
    assert [r.facet_value for r in exists] == [r.facet_value for r in plain]
    assert all(r.cnt == 1 for r in exists)
    assert any(r.cnt > 1 for r in plain)  # the cap did something
    with pytest.raises(ValueError, match="mincount"):
        parse_select_params({**base, "facet.exists": True,
                             "facet.mincount": 2})
    with pytest.raises(ValueError, match="facet.sort=index"):
        parse_select_params({"q": "m", "facet.field": "role",
                             "facet.exists": True})


def test_boost_qparser_contracts(spark, sf_dir):
    """{!boost}: multiplicative — row set can reorder vs the plain
    query but the boosted scores re-derive from (plain score ×
    function); grammar violations raise."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.registry import parse_boost_qparser

    s = cached_searcher(spark, sf_dir)
    spec, (col_fn, _) = parse_boost_qparser(
        "{!boost b=recip(turn_idx,1,8,8)}merge data")
    plain = {
        (r.conv_id, r.turn_idx): r.score
        for r in s.score_hits(spec, k=None)
        .withColumn("score", F.round("score", 4)).collect()
    }
    from lucene_solr_spark.registry import QUERIES

    boosted = QUERIES["q_boost_qparser"](spark, sf_dir).collect()
    assert len(boosted) == spec.k
    for r in boosted:
        base = plain[(r.conv_id, r.turn_idx)]
        assert abs(r.score - round(base * 8.0 / (r.turn_idx + 8), 4)) < 1e-9
    for bad, msg in [
        ("{!boost b=exp(doc_len)}merge", "unsupported boost function"),
        ("{!boost b=log(text)}merge", "unsupported boost function"),
        ("{!boost b=log(doc_len)}role:user", "SCORING"),
        ("plain query", "not a"),
    ]:
        with pytest.raises(ValueError, match=msg):
            parse_boost_qparser(bad)


def test_switch_qparser_routing():
    from lucene_solr_spark.registry import parse_switch_qparser as sw

    q = "{!switch case.a=role:user case=tool:* default=text:x}"
    assert sw(q + "a") == "role:user"
    assert sw(q + "") == "tool:*"          # bare case = empty input
    assert sw(q + "zzz") == "text:x"       # default
    with pytest.raises(ValueError, match="no case matches"):
        sw("{!switch case.a=role:user}b")
    with pytest.raises(ValueError, match="unknown"):
        sw("{!switch shuffle=x}a")
    with pytest.raises(ValueError, match="not a"):
        sw("{!term f=role}x")


def test_json_facet_domain_query_replaces_domain(spark, sf_dir):
    """domain.query buckets over the STANDALONE query's match set —
    equal to faceting that query directly, regardless of the main q;
    combining with filter/excludeTags raises."""
    from lucene_solr_spark.query.parser import parse

    s = cached_searcher(spark, sf_dir)
    resp = select(s, {
        "q": "merge", "rows": 0,
        "json.facet": {"dq": {
            "type": "terms", "field": "role", "limit": 5,
            "domain": {"query": "data scan"},
        }},
    })
    got = {(r.facet_value, r.cnt) for r in resp["facets"]["dq"].collect()}
    direct = s.facet("role", spec=parse("data scan", default_op="AND"),
                     limit=5)
    expect = {(r.facet_value, r.cnt) for r in direct.collect()}
    assert got == expect and got
    for bad, msg in [
        ({"query": "x", "filter": "role:user"}, "cannot combine"),
        ({"query": ""}, "query wants a"),
        ({"query": "+ |"}, "empty domain.query"),
    ]:
        with pytest.raises(ValueError, match=msg):
            select(s, {"q": "merge", "rows": 0,
                       "json.facet": {"d": {"type": "terms",
                                            "field": "role",
                                            "domain": bad}}})


def test_select_facet_pivot3_leg(spark, sf_dir):
    """facet.pivot=f1,f2,f3 through /select equals the 3-level engine
    directly, ordered count desc / value asc at every level; >3 or
    duplicate fields raise."""
    from collections import Counter

    from lucene_solr_spark.query.facets import facet_pivot

    s = cached_searcher(spark, sf_dir)
    resp = select(s, {"q": "data", "rows": 0, "facet.limit": 2,
                      "facet.pivot": "role,tool,ftok"})
    got = [tuple(r) for r in
           resp["facet_pivots"]["role,tool,ftok"].collect()]
    spec, _ = parse_select_params({"q": "data"})
    direct = [tuple(r) for r in facet_pivot(
        s, ("role", "tool", "ftok"), spec=spec,
        limits=(2, 2, 2)).collect()]
    assert got == direct and got
    # one output order at every depth: (total desc, value asc) per level
    every = facet_pivot(s, ("role", "tool", "ftok"), spec=spec,
                        limits=(10**6,) * 3).collect()
    t1, t2 = Counter(), Counter()
    for v1, v2, _, cnt in every:
        t1[v1] += cnt
        t2[(v1, v2)] += cnt
    assert got == sorted(got, key=lambda r: (
        -t1[r[0]], r[0], -t2[r[:2]], r[1], -r[3], r[2]))
    # every (v1,v2) parent keeps <= 2 children; counts positive
    kids = Counter((v1, v2) for v1, v2, _, _ in got)
    assert all(c <= 2 for c in kids.values())
    assert all(cnt >= 1 for _, _, _, cnt in got)
    with pytest.raises(ValueError, match="must differ"):
        parse_select_params({"q": "x", "facet.pivot": "role,tool,role"})
    with pytest.raises(ValueError, match="two or three"):
        parse_select_params({"q": "x", "facet.pivot": "role"})


def test_select_collapse_and_expand_contracts(spark, sf_dir):
    """{!collapse} fq: one head per key, numFound = group count;
    expand=true returns the PAGE's groups' next docs; incompatible
    params raise."""
    s = cached_searcher(spark, sf_dir)
    out = select(s, {"q": "merge", "rows": 8,
                     "fq": "{!collapse field=conv_id}",
                     "expand": True, "expand.rows": 2})
    page = out["response"].collect()
    assert len({r.conv_id for r in page}) == len(page)  # one per group
    # numFound = distinct matching conversations
    from lucene_solr_spark.query.model import BooleanSpec

    hits = s.score_hits(BooleanSpec(must=("merge",)), k=None)
    assert out["numFound"] == hits.select("conv_id").distinct().count()
    exp = out["expanded"].collect()
    page_convs = {r.conv_id for r in page}
    assert {r.group_value for r in exp} <= page_convs
    assert all(1 <= r.expand_rank <= 2 for r in exp)
    # expanded rows never repeat the heads
    heads = {(r.conv_id, r.turn_idx) for r in page}
    assert not ({(r.conv_id, r.turn_idx) for r in exp} & heads)
    for bad, msg in [
        ({"q": "m", "fq": "{!collapse field=conv_id}",
          "facet.field": "role"}, "plain collapsed doclist"),
        ({"q": "m", "fq": "{!collapse field=conv_id}",
          "sort": "ts desc"}, "score-ranked head"),
        ({"q": "m", "fq": "{!collapse field=text}"}, "field must be"),
        ({"q": "m", "expand": True}, "needs an fq"),
        ({"q": "m", "fq": ["{!collapse field=conv_id}",
                           "{!collapse field=role}"]}, "at most one"),
        ({"q": "m", "fq": "{!collapse field=conv_id}",
          "expand.rows": 2}, "expand.rows needs"),
    ]:
        with pytest.raises(ValueError, match=msg):
            parse_select_params(bad)


def test_select_collapse_on_role_key(spark, sf_dir):
    """Collapse on a non-key docvalues field joins the pruned column
    and still yields one head per value."""
    s = cached_searcher(spark, sf_dir)
    out = select(s, {"q": "merge data", "rows": 10,
                     "fq": "{!collapse field=role}"})
    page = out["response"].collect()
    assert out["numFound"] == len(page) <= 4  # role cardinality


def test_select_elevation_leg(spark, sf_dir):
    """elevateIds pin slots 1..n in list order (null score when not
    matching), excludeIds vanish, [elevated] marks the pinned rows,
    numFound counts organic hits + elevated rows; validation raises."""
    s = cached_searcher(spark, sf_dir)
    out = select(s, {
        "q": "merge", "rows": 6,
        "elevateIds": "conv00000007#3,conv00000012#0",
        "excludeIds": "conv00000003#2",
        "fl": ["conv_id", "turn_idx", "score", "slot", "[elevated]"],
    })
    page = out["response"].collect()
    assert [(r.conv_id, r.turn_idx) for r in page[:2]] == [
        ("conv00000007", 3), ("conv00000012", 0)]
    assert [r.slot for r in page] == list(range(1, 7))
    assert [r.elevated for r in page] == [True, True] + [False] * 4
    assert ("conv00000003", 2) not in {
        (r.conv_id, r.turn_idx) for r in page}
    # numFound = organic (post-exclusion, anti-elevated) + elevated
    from lucene_solr_spark.query.model import BooleanSpec

    hits = {(r.conv_id, r.turn_idx)
            for r in s.score_hits(BooleanSpec(must=("merge",)),
                                  k=None).collect()}
    organic = hits - {("conv00000003", 2), ("conv00000007", 3),
                      ("conv00000012", 0)}
    assert out["numFound"] == len(organic) + 2
    for bad, msg in [
        ({"q": "m", "excludeIds": "a#1"}, "excludeIds needs"),
        ({"q": "m", "elevateIds": "a#1", "excludeIds": "a#1"},
         "both elevated and excluded"),
        ({"q": "m", "elevateIds": "nohash"}, "wants '<conv_id>#"),
        ({"q": "m", "elevateIds": "a#1", "sort": "ts desc"},
         "score-ranked order"),
        ({"q": "m", "elevateIds": "a#1", "group": True,
          "group.field": "role"}, "plain doclist order"),
        ({"q": "m", "elevateIds": "a#1",
          "fq": "{!collapse field=conv_id}"}, "cannot combine"),
        ({"q": "m", "fl": ["[elevated]"]}, "needs elevateIds"),
        ({"q": "m", "elevateIds": "a#1", "fl": ["[explain]"]},
         "organic scores"),
    ]:
        with pytest.raises(ValueError, match=msg):
            parse_select_params(bad)


def test_collapse_selectors_and_null_policy(spark, sf_dir):
    """min=/max= selectors pick the head by the docvalues order; the
    tool field's nulls follow nullPolicy (ignore default, collapse =
    one null group, expand = each null doc its own head)."""
    from pyspark.sql import functions as F

    s = cached_searcher(spark, sf_dir)
    # max=doc_len: each conversation's head is its longest hit
    out = select(s, {"q": "merge", "rows": 50,
                     "fq": "{!collapse field=conv_id max=doc_len}"})
    heads = out["response"].collect()
    from lucene_solr_spark.query.model import BooleanSpec

    hits = (s.score_hits(BooleanSpec(must=("merge",)), k=None)
            .join(s.docmap().select("conv_id", "turn_idx", "doc_len"),
                  ["conv_id", "turn_idx"]).collect())
    best = {}
    for r in hits:
        cur = best.get(r.conv_id)
        key = (-r.doc_len, -round(r.score, 4), r.turn_idx)
        if cur is None or key < cur[0]:
            best[r.conv_id] = (key, r.turn_idx)
    for r in heads:
        assert best[r.conv_id][1] == r.turn_idx
    # nullPolicy on the nullable tool field
    base = {"q": "merge data", "rows": 60}
    n_ign = select(s, {**base,
                       "fq": "{!collapse field=tool}"})["numFound"]
    n_col = select(s, {**base,
                       "fq": "{!collapse field=tool nullPolicy=collapse}"}
                   )["numFound"]
    n_exp = select(s, {**base,
                       "fq": "{!collapse field=tool nullPolicy=expand}"}
                   )["numFound"]
    n_null = (s.score_hits(BooleanSpec(should=("merge", "data"),
                                       min_should_match=1), k=None)
              .join(s.docmap().select("conv_id", "turn_idx", "tool"),
                    ["conv_id", "turn_idx"])
              .filter(F.col("tool").isNull()).count())
    assert n_null > 0
    assert n_col == n_ign + 1          # nulls fold into ONE group
    assert n_exp == n_ign + n_null     # each null doc its own head
    for bad, msg in [
        ("{!collapse field=conv_id max=doc_len min=turn_idx}",
         "at most one of"),
        ("{!collapse field=conv_id max=role}", "numeric docvalues"),
        ("{!collapse field=conv_id nullPolicy=skip}", "nullPolicy"),
        ("{!collapse max=doc_len}", "needs field="),
        ("{!collapse field=conv_id cache=false}", "unknown"),
    ]:
        with pytest.raises(ValueError, match=msg):
            parse_select_params({"q": "m", "fq": bad})


def test_facet_per_field_overrides(spark, sf_dir):
    """f.<field>.facet.<opt> wins over the request-wide facet.<opt>
    for that one field only: the ftok leg matches a request that sets
    the same opts request-wide, the role leg matches the defaults."""
    s = cached_searcher(spark, sf_dir)
    res = select(s, {"q": "data", "rows": 0,
                     "facet.field": ["role", "ftok"],
                     "facet.limit": 10,
                     "f.ftok.facet.limit": 3,
                     "f.ftok.facet.sort": "index",
                     "f.ftok.facet.prefix": "s"})["facet_counts"]
    want_ftok = select(s, {"q": "data", "rows": 0, "facet.field": "ftok",
                           "facet.limit": 3, "facet.sort": "index",
                           "facet.prefix": "s"})["facet_counts"]["ftok"]
    want_role = select(s, {"q": "data", "rows": 0, "facet.field": "role",
                           "facet.limit": 10})["facet_counts"]["role"]
    assert res["ftok"].collect() == want_ftok.collect()
    assert res["role"].collect() == want_role.collect()


def test_facet_per_field_validation():
    # override names a field that isn't faceted
    with pytest.raises(ValueError, match="not in"):
        parse_select_params({"q": "m", "facet.field": "role",
                             "f.ftok.facet.limit": 3})
    # bad per-field sort value
    with pytest.raises(ValueError, match="count|index"):
        parse_select_params({"q": "m", "facet.field": "role",
                             "f.role.facet.sort": "weird"})
    # per-field mincount must satisfy the facet.exists restriction
    with pytest.raises(ValueError, match="per-field"):
        parse_select_params({"q": "m", "facet.field": "role",
                             "facet.sort": "index", "facet.exists": True,
                             "f.role.facet.mincount": 2})
    # an f.-prefixed param outside the pinned opt subset is unknown
    with pytest.raises(ValueError, match="unknown"):
        parse_select_params({"q": "m", "facet.field": "role",
                             "f.role.facet.missing": True})


def test_facet_contains_ignore_case(spark, sf_dir):
    """facet.contains narrows case-sensitively by default; ignoreCase
    folds both sides. 'ER' matches nothing in the lowercase dictionary
    without the fold."""
    s = cached_searcher(spark, sf_dir)
    base = {"q": "data", "rows": 0, "facet.field": "ftok",
            "facet.limit": 8, "facet.sort": "index"}
    cs = select(s, {**base, "facet.contains": "ER"})[
        "facet_counts"]["ftok"].collect()
    assert cs == []
    ci = select(s, {**base, "facet.contains": "ER",
                    "facet.contains.ignoreCase": True})[
        "facet_counts"]["ftok"].collect()
    assert ci and all("er" in r.facet_value for r in ci)
    lower = select(s, {**base, "facet.contains": "er"})[
        "facet_counts"]["ftok"].collect()
    assert ci == lower
    with pytest.raises(ValueError, match="needs facet.contains"):
        parse_select_params({"q": "m", "facet.field": "ftok",
                             "facet.contains.ignoreCase": True})


def test_qalt_browse_contracts(spark, sf_dir):
    """q.alt=*:* with q absent: MatchAll-minus-fq domain serves the
    component legs; the pinned subset rejects scoring params, rows>0,
    non-*:* values, and defType=lucene."""
    s = cached_searcher(spark, sf_dir)
    out = select(s, {"defType": "edismax", "q.alt": "*:*", "rows": 0,
                     "fq": "role:user", "facet.field": "role"})
    fc = out["facet_counts"]["role"].collect()
    assert [(r.facet_value, r.cnt) for r in fc] == [
        ("user", out["numFound"])]
    with pytest.raises(ValueError, match="only '\\*:\\*'"):
        parse_select_params({"defType": "edismax", "q.alt": "merge",
                             "rows": 0})
    with pytest.raises(ValueError, match="rows=0"):
        parse_select_params({"defType": "edismax", "q.alt": "*:*"})
    with pytest.raises(ValueError, match="no scoring params"):
        parse_select_params({"defType": "edismax", "q.alt": "*:*",
                             "rows": 0, "mm": 1})
    with pytest.raises(ValueError, match="need defType=edismax"):
        parse_select_params({"q": "merge", "q.alt": "*:*"})
    # q present: q.alt is the unused fallback (Solr semantics)
    ok = select(s, {"defType": "edismax", "q": "merge", "q.alt": "*:*",
                    "rows": 3})
    assert ok["numFound"] > 0


def test_spellcheck_q_independent_of_main_query(spark, sf_dir):
    """spellcheck.q overrides the spell input; the main q serves the
    doclist and is never collated."""
    s = cached_searcher(spark, sf_dir)
    out = select(s, {"q": "data", "rows": 2, "spellcheck": True,
                     "spellcheck.q": "mrege", "spellcheck.collate": True})
    sugg = out["spellcheck"].collect()
    assert sugg and sugg[0].q == "mrege"
    assert out["spellcheck_collation"]["collationQuery"] == "merge"
    # 'data' is in the dictionary: without spellcheck.q nothing to fix
    base = select(s, {"q": "data", "rows": 2, "spellcheck": True})
    assert base["spellcheck"].collect() == []
    with pytest.raises(ValueError, match="need spellcheck=true"):
        parse_select_params({"q": "m", "spellcheck.q": "mrege"})


def test_group_facet_counts_conversations(spark, sf_dir):
    """group.facet=true: role buckets count DISTINCT conversations in
    the domain (vs turn counts without it); needs group.field=conv_id."""
    s = cached_searcher(spark, sf_dir)
    base = {"q": "merge", "rows": 2, "group": True,
            "group.field": "conv_id", "facet.field": "role",
            "facet.limit": 10}
    grouped = select(s, {**base, "group.facet": True})[
        "facet_counts"]["role"].collect()
    plain = select(s, base)["facet_counts"]["role"].collect()
    g = {r.facet_value: r.cnt for r in grouped}
    p = {r.facet_value: r.cnt for r in plain}
    assert g and all(g[k] <= p[k] for k in g)
    with pytest.raises(ValueError, match="group.field=conv_id"):
        parse_select_params({"q": "m", "group": True,
                             "group.field": "role", "group.facet": True})


def test_facet_range_now_pin_required(spark, sf_dir):
    """DateMath-relative range bounds need the pinned NOW param; the
    pinned request equals the absolute-bounds spelling."""
    s = cached_searcher(spark, sf_dir)
    rel = {"q": "data", "rows": 0, "facet.range": "ts",
           "facet.range.start": "NOW/HOUR-6HOURS",
           "facet.range.end": "NOW/HOUR+1HOUR",
           "facet.range.gap": "+2HOURS"}
    with pytest.raises(ValueError, match="NOW param"):
        select(s, rel)
    got = select(s, {**rel, "NOW": 1704112496789})[
        "facet_ranges"]["ts"].collect()
    absolute = select(s, {**rel,
                          "facet.range.start": "2024-01-01T06:00:00Z",
                          "facet.range.end": "2024-01-01T13:00:00Z"})[
        "facet_ranges"]["ts"].collect()
    assert got == absolute and got


def test_range_facet_multiselect_exclusion(spark, sf_dir):
    """{!ex} on facet.range: the slider's tagged fq drops from the
    range facet's domain only — buckets equal the request without the
    slider fq; the doclist keeps honoring it."""
    s = cached_searcher(spark, sf_dir)
    base = {"q": "data", "rows": 0, "facet.range": "turn_idx",
            "facet.range.start": 0, "facet.range.end": 8,
            "facet.range.gap": 2}
    ex = select(s, {**base, "fq": ["{!tag=tw}turn_idx:[2 TO 4]",
                                   "role:assistant"],
                    "facet.range": "{!ex=tw}turn_idx"})
    no_slider = select(s, {**base, "fq": "role:assistant"})
    assert (ex["facet_ranges"]["turn_idx"].collect()
            == no_slider["facet_ranges"]["turn_idx"].collect())
    # numFound still honors the slider constraint
    with_slider = select(s, {**base, "fq": ["turn_idx:[2 TO 4]",
                                            "role:assistant"]})
    assert ex["numFound"] == with_slider["numFound"] \
        < no_slider["numFound"]
    with pytest.raises(ValueError, match="unknown ex tag"):
        parse_select_params({**base, "facet.range": "{!ex=zz}turn_idx"})


def test_jf_range_date_equals_classic(spark, sf_dir):
    """json.facet ts range == the classic facet.range ts leg (same
    helper, same pinned contract); 'other' rides the date domain too."""
    import json as _json
    s = cached_searcher(spark, sf_dir)
    jf = select(s, {"q": "data", "rows": 0, "json.facet": _json.dumps(
        {"rd": {"type": "range", "field": "ts",
                "start": "2024-01-01T06:00:00Z",
                "end": "2024-01-01T13:00:00Z", "gap": "+2HOURS",
                "other": "all"}})})
    classic = select(s, {"q": "data", "rows": 0, "facet.range": "ts",
                         "facet.range.start": "2024-01-01T06:00:00Z",
                         "facet.range.end": "2024-01-01T13:00:00Z",
                         "facet.range.gap": "+2HOURS"})
    assert (jf["facets"]["rd"].collect()
            == classic["facet_ranges"]["ts"].collect())
    other = jf["facets"]["rd:other"].collect()[0]
    assert other.before >= 0 and other.after >= 0 and other.between > 0
    with pytest.raises(ValueError, match="DateMath step"):
        parse_select_params({"q": "d", "rows": 0, "json.facet": _json.dumps(
            {"rd": {"type": "range", "field": "ts",
                    "start": "2024-01-01T06:00:00Z",
                    "end": "2024-01-01T13:00:00Z", "gap": 2}})})


def test_fl_docvalues_hydration(spark, sf_dir):
    """fl stored/docvalues fields hydrate on the score-sorted page via
    the page-bounded docmap join; order and scores are unchanged, and
    unknown fields raise."""
    s = cached_searcher(spark, sf_dir)
    plain = select(s, {"q": "merge", "rows": 5})["response"].collect()
    fl = select(s, {"q": "merge", "rows": 5,
                    "fl": "conv_id,turn_idx,role,score"})[
        "response"].collect()
    assert [(r.conv_id, r.turn_idx, r.score) for r in fl] \
        == [(r.conv_id, r.turn_idx, r.score) for r in plain]
    assert all(r.role is not None for r in fl)
    with pytest.raises(ValueError, match="unknown fl"):
        select(s, {"q": "merge", "rows": 2, "fl": "conv_id,nope"})


def test_terms_maxcount_band(spark, sf_dir):
    """terms.maxcount caps df; [mincount, maxcount] band composes, -1
    is unbounded, maxcount < mincount raises."""
    from lucene_solr_spark.handler import terms as terms_handler
    s = cached_searcher(spark, sf_dir)
    band = terms_handler(s, {"terms.prefix": "s", "terms.mincount": 2,
                             "terms.maxcount": 400, "terms.limit": 100,
                             "terms.sort": "index"}).collect()
    assert band and all(2 <= r.df <= 400 for r in band)
    unb = terms_handler(s, {"terms.prefix": "s", "terms.mincount": 2,
                            "terms.maxcount": -1, "terms.limit": 100,
                            "terms.sort": "index"}).collect()
    assert len(unb) > len(band)
    assert [r.term for r in band] == [
        r.term for r in unb if r.df <= 400]
    with pytest.raises(ValueError, match="maxcount"):
        terms_handler(s, {"terms.mincount": 5, "terms.maxcount": 2})


def test_fl_function_pseudo_fields(spark, sf_dir):
    """alias:func(...) in fl computes the pinned ValueSource family on
    the hydrated page; bad grammar and alias collisions raise."""
    s = cached_searcher(spark, sf_dir)
    rows = select(s, {"q": "merge", "rows": 4,
                      "fl": "conv_id,turn_idx,"
                            "r:recip(doc_len,1,100,100),score"})[
        "response"].collect()
    assert rows and all(0 < r.r < 1 for r in rows)
    with pytest.raises(ValueError, match="unsupported fl"):
        select(s, {"q": "merge", "rows": 1, "fl": "x:exp(doc_len)"})
    with pytest.raises(ValueError, match="collides"):
        select(s, {"q": "merge", "rows": 1, "fl": "score:sqrt(doc_len)"})
    with pytest.raises(ValueError, match="numeric docvalues"):
        select(s, {"q": "merge", "rows": 1, "fl": "x:sqrt(role)"})


def test_update_json_contracts(spark, sf_dir, tmp_path):
    """/update JSON: commit required, unknown commands raise, bad ids
    raise, adds+deleteById round-trip through a real index."""
    from lucene_solr_spark.handler import update_json
    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.query.executor import IndexSearcher
    from lucene_solr_spark.transcripts import transcripts_from_documents

    root = str(tmp_path / "ujidx")
    t = transcripts_from_documents(spark, sf_dir).limit(40)
    build_index(spark, t, root, num_parts=2, lineage_source=sf_dir)
    n0 = IndexSearcher(spark, root).docmap().count()
    res = update_json(spark, root, {
        "add": {"doc": {"conv_id": "cj", "turn_idx": 0,
                        "text": "xylophone doc"}},
        "commit": {}})
    assert res["adds"] == 1
    s = IndexSearcher(spark, root)
    assert s.docmap().count() == n0 + 1
    update_json(spark, root, {"delete": {"id": "cj#0"}, "commit": {}},
                batch_tag=2)
    assert IndexSearcher(spark, root).docmap().count() == n0
    with pytest.raises(ValueError, match="commit"):
        update_json(spark, root, {"add": []})
    with pytest.raises(ValueError, match="unknown /update"):
        update_json(spark, root, {"optimize": {}, "commit": {}})
    with pytest.raises(ValueError, match="conv_id>#<turn_idx"):
        update_json(spark, root, {"delete": {"id": "nohash"},
                                  "commit": {}})
    with pytest.raises(ValueError, match="required fields"):
        update_json(spark, root, {"add": {"doc": {"conv_id": "x"}},
                                  "commit": {}})


def test_update_json_replace_idiom(spark, sf_dir, tmp_path):
    """Blind add of an existing key raises, and so does adding a
    TOMBSTONED key (the tombstone would mask the appended doc too) —
    in-place replace is routed to the atomic-update path."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.handler import update_json
    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.query.executor import IndexSearcher
    from lucene_solr_spark.transcripts import transcripts_from_documents

    root = str(tmp_path / "ujridx")
    t = transcripts_from_documents(spark, sf_dir).limit(30)
    build_index(spark, t, root, num_parts=2, lineage_source=sf_dir)
    key = t.select("conv_id", "turn_idx").first()
    doc = {"conv_id": key.conv_id, "turn_idx": int(key.turn_idx),
           "role": "user", "text": "replacement body"}
    with pytest.raises(ValueError, match="overwrite existing"):
        update_json(spark, root, {"add": {"doc": doc}, "commit": {}})
    with pytest.raises(ValueError, match="tombstoned"):
        update_json(spark, root, {
            "delete": {"id": f"{key.conv_id}#{key.turn_idx}"},
            "add": {"doc": doc}, "commit": {}}, batch_tag=3)
    # validation runs BEFORE any commit: the rejected request left
    # the index untouched — the original doc is still live
    s = IndexSearcher(spark, root)
    rows = s.docmap().filter(
        (F.col("conv_id") == key.conv_id)
        & (F.col("turn_idx") == int(key.turn_idx))).collect()
    assert len(rows) == 1 and rows[0].role != "user"
    # delete-by-QUERY colliding with an add is rejected the same way
    # (turn_idx:[0 TO 0] covers every conversation's first turn,
    # including the add key)
    with pytest.raises(ValueError, match="tombstoned"):
        update_json(spark, root, {
            "delete": {"query": "turn_idx:[0 TO 0]"},
            "add": {"doc": doc}, "commit": {}}, batch_tag=4)


def test_update_xml_envelope(spark, sf_dir, tmp_path):
    """XML envelope rides the same validated command path: bare <add>
    without commit raises, malformed XML raises, unknown command tags
    raise."""
    from lucene_solr_spark.handler import update_xml
    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.transcripts import transcripts_from_documents

    root = str(tmp_path / "uxidx")
    build_index(spark,
                transcripts_from_documents(spark, sf_dir).limit(20),
                root, num_parts=2, lineage_source=sf_dir)
    with pytest.raises(ValueError, match="commit"):
        update_xml(spark, root,
                   '<add><doc><field name="conv_id">a</field>'
                   '<field name="turn_idx">0</field>'
                   '<field name="text">t</field></doc></add>')
    with pytest.raises(ValueError, match="malformed"):
        update_xml(spark, root, "<update><add>")
    with pytest.raises(ValueError, match="unknown /update XML"):
        update_xml(spark, root, "<update><optimize/><commit/></update>")
    res = update_xml(spark, root, (
        '<update><add><doc><field name="conv_id">a</field>'
        '<field name="turn_idx">0</field>'
        '<field name="text">brand new</field></doc></add>'
        '<commit/></update>'))
    assert res["adds"] == 1


def test_update_csv_contracts(spark, sf_dir, tmp_path):
    """CSV loader: header/row arity mismatch raises, commit param
    required, docs land through the shared command path."""
    from lucene_solr_spark.handler import update_csv
    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.query.executor import IndexSearcher
    from lucene_solr_spark.transcripts import transcripts_from_documents

    root = str(tmp_path / "ucidx")
    build_index(spark,
                transcripts_from_documents(spark, sf_dir).limit(20),
                root, num_parts=2, lineage_source=sf_dir)
    with pytest.raises(ValueError, match="header"):
        update_csv(spark, root, "conv_id,turn_idx,text\n", commit=True)
    with pytest.raises(ValueError, match="row 2 has"):
        update_csv(spark, root,
                   "conv_id,turn_idx,text\na,0\n", commit=True)
    with pytest.raises(ValueError, match="commit"):
        update_csv(spark, root, "conv_id,turn_idx,text\na,0,t\n")
    res = update_csv(spark, root,
                     "conv_id,turn_idx,text\ncnew,0,fresh doc\n",
                     commit=True)
    assert res["adds"] == 1
    assert IndexSearcher(spark, root).docmap().filter(
        "conv_id = 'cnew'").count() == 1


def test_update_json_replay_rejected(spark, sf_dir, tmp_path):
    """Replaying a committed update request (same body, same
    batch_tag) is REJECTED by the add-key probe instead of silently
    double-applying — the crash-replay safety of the loader path."""
    from lucene_solr_spark.handler import update_json
    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.query.executor import IndexSearcher
    from lucene_solr_spark.transcripts import transcripts_from_documents

    root = str(tmp_path / "ujr2idx")
    build_index(spark,
                transcripts_from_documents(spark, sf_dir).limit(20),
                root, num_parts=2, lineage_source=sf_dir)
    body = {"add": {"doc": {"conv_id": "rp", "turn_idx": 0,
                            "text": "replay probe"}}, "commit": {}}
    update_json(spark, root, body, batch_tag=7)
    with pytest.raises(ValueError, match="overwrite existing"):
        update_json(spark, root, body, batch_tag=7)
    assert IndexSearcher(spark, root).docmap().filter(
        "conv_id = 'rp'").count() == 1


def test_facet_limit_unlimited(spark, sf_dir):
    """facet.limit=-1 returns EVERY bucket (resolved via the cached
    dictionary cardinality); invalid limits raise."""
    s = cached_searcher(spark, sf_dir)
    allb = select(s, {"q": "data", "rows": 0, "facet.field": "ftok",
                      "facet.limit": -1, "facet.sort": "index"})[
        "facet_counts"]["ftok"].collect()
    two = select(s, {"q": "data", "rows": 0, "facet.field": "ftok",
                     "facet.limit": 2, "facet.sort": "index"})[
        "facet_counts"]["ftok"].collect()
    assert len(allb) > len(two) == 2
    assert [r.facet_value for r in allb[:2]] == [
        r.facet_value for r in two]
    with pytest.raises(ValueError, match="facet.limit"):
        select(s, {"q": "data", "rows": 0, "facet.field": "ftok",
                   "facet.limit": 0})


def test_facet_key_local_param_grammar():
    """{!key=alias ex=tag}field grammar: key renames the output entry,
    either param order parses, colliding keys raise, unknown local
    params raise."""
    base = {"q": "m", "fq": "{!tag=r}role:user"}
    _, o = parse_select_params({**base, "facet.field": [
        "{!key=a}role", "{!ex=r key=b}role"]})
    assert o["facet_fields"] == [("role", (), "a"), ("role", ("role",), "b")]
    # plain field keeps its own name as the key
    _, o = parse_select_params({**base, "facet.field": "role"})
    assert o["facet_fields"] == [("role", (), "role")]
    with pytest.raises(ValueError, match="keys collide"):
        parse_select_params({**base, "facet.field": ["role",
                                                     "{!ex=r}role"]})
    with pytest.raises(ValueError, match="unknown local param"):
        parse_select_params({**base, "facet.field": "{!tag=x}role"})
    with pytest.raises(ValueError, match="bad key"):
        parse_select_params({**base, "facet.field": "{!key=a-b}role"})


def test_spellcheck_alt_and_accuracy_validation():
    with pytest.raises(ValueError, match="alternativeTermCount"):
        parse_select_params({"q": "m", "spellcheck": True,
                             "spellcheck.alternativeTermCount": -1})
    with pytest.raises(ValueError, match="accuracy"):
        parse_select_params({"q": "m", "spellcheck": True,
                             "spellcheck.accuracy": 1.5})
    with pytest.raises(ValueError, match="outside the"):
        parse_select_params({"q": "m", "spellcheck": True,
                             "spellcheck.collate": True,
                             "spellcheck.alternativeTermCount": 2})
    with pytest.raises(ValueError, match="need spellcheck=true"):
        parse_select_params({"q": "m",
                             "spellcheck.extendedResults": True})


def test_hl_q_and_tv_tfidf_validation():
    with pytest.raises(ValueError, match="hl.q needs hl=true"):
        parse_select_params({"q": "m", "hl.q": "x"})
    with pytest.raises(ValueError, match="tv.tf_idf needs tv.df"):
        parse_select_params({"q": "m", "tv": True, "tv.tf_idf": True})
    with pytest.raises(ValueError, match="facet.matches"):
        parse_select_params({"q": "m", "facet.field": "role",
                             "facet.matches": "(unclosed"})


def test_jf_query_nested_validation():
    """Query buckets: one nested terms sub-facet OR scalar aggs, never
    both / deeper nesting / non-facetable fields."""
    base = {"q": "m", "rows": 0}
    with pytest.raises(ValueError, match="scalar sub-aggs OR one"):
        parse_select_params({**base, "json.facet":
            '{"x": {"type": "query", "q": "role:user", "facet": {'
            '"t": {"type": "terms", "field": "tool"},'
            '"sum_doc_len": "sum(doc_len)"}}}'})
    with pytest.raises(ValueError, match="plain terms bucket"):
        parse_select_params({**base, "json.facet":
            '{"x": {"type": "query", "q": "role:user", "facet": {'
            '"t": {"type": "terms", "field": "tool",'
            ' "mincount": 2}}}}'})
    with pytest.raises(ValueError, match="plain terms bucket"):
        parse_select_params({**base, "json.facet":
            '{"x": {"type": "query", "q": "role:user", "facet": {'
            '"t": {"type": "terms", "field": "doc_len"}}}}'})
    # the good shape parses to the query_terms plan
    _, o = parse_select_params({**base, "json.facet":
        '{"x": {"type": "query", "q": "role:user", "facet": {'
        '"t": {"type": "terms", "field": "tool", "limit": 4}}}}'})
    kind, _fspec, fld, lim = o["json_facets"]["x"]
    assert (kind, fld, lim) == ("query_terms", "tool", 4)


def test_stats_string_field_validation():
    _, o = parse_select_params({"q": "m", "stats": True,
                                "stats.field": "role"})
    assert o["stats_fields"] == ["role"]
    with pytest.raises(ValueError, match="stats.field must be"):
        parse_select_params({"q": "m", "stats": True,
                             "stats.field": "text"})


def test_fl_glob_expansion():
    """fl globs expand against the pinned schema in schema order,
    dedupe against explicit names, and a no-match glob raises."""
    _, o = parse_select_params({"q": "m", "fl": "conv_id,t*,score"})
    assert o["fl"] == ["conv_id", "turn_idx", "tool", "ts", "score"]
    _, o = parse_select_params({"q": "m", "fl": "*"})
    assert o["fl"] == ["conv_id", "turn_idx", "role", "tool",
                       "ftok", "ts", "doc_len"]  # score never implied
    with pytest.raises(ValueError, match="matches no field"):
        parse_select_params({"q": "m", "fl": "zz*"})


def test_pivot_local_params_grammar():
    """facet.pivot local params: key renames the entry, unknown tags/
    params raise, plain specs keep the joined-fields key."""
    base = {"q": "m", "fq": "{!tag=r}role:user"}
    _, o = parse_select_params(
        {**base, "facet.pivot": "{!ex=r key=p}role,tool"})
    assert o["facet_pivot"] == (("role", "tool"), ("role",), "p")
    _, o = parse_select_params({**base, "facet.pivot": "role,tool"})
    assert o["facet_pivot"] == (("role", "tool"), (), "role,tool")
    with pytest.raises(ValueError, match="unknown ex tag"):
        parse_select_params({**base, "facet.pivot": "{!ex=z}role,tool"})
    with pytest.raises(ValueError, match="unknown local param"):
        parse_select_params({**base,
                             "facet.pivot": "{!tag=x}role,tool"})


def test_jf_range_nested_validation():
    base = {"q": "m", "rows": 0}
    rng = ('{"r": {"type": "range", "field": "doc_len", "start": 0,'
           ' "end": 100, "gap": 50,')
    with pytest.raises(ValueError, match="exclusive"):
        parse_select_params({**base, "json.facet": rng +
            ' "other": "all", "facet": {"t": {"type": "terms",'
            ' "field": "role"}}}}'})
    with pytest.raises(ValueError, match="exactly one terms"):
        parse_select_params({**base, "json.facet": rng +
            ' "facet": {"sum_doc_len": "sum(doc_len)"}}}'})
    with pytest.raises(ValueError, match="date ranges"):
        parse_select_params({**base, "json.facet":
            '{"r": {"type": "range", "field": "ts",'
            ' "start": "2024-01-01T00:00:00Z",'
            ' "end": "2024-01-02T00:00:00Z", "gap": "+6HOURS",'
            ' "facet": {"t": {"type": "terms", "field": "role"}}}}'})
    _, o = parse_select_params({**base, "json.facet": rng +
        ' "facet": {"t": {"type": "terms", "field": "role",'
        ' "limit": 3}}}}'})
    assert o["json_facets"]["r"] == (
        "range_terms", "doc_len", 0, 100, 50, "role", 3)


def test_frange_inclusivity_validation():
    # default bounds stay inclusive; float + exclusive bound raises
    _, o = parse_select_params(
        {"q": "m", "fq": "{!frange l=5 u=40}doc_len"})
    assert o is not None
    spec, _ = parse_select_params(
        {"q": "m", "fq": "{!frange l=5 u=40 incl=false}doc_len"})
    assert spec.range_filters == (("doc_len", "6", "40"),)
    with pytest.raises(ValueError, match="integer bound"):
        parse_select_params(
            {"q": "m", "fq": "{!frange l=5.5 incl=false}doc_len"})
