"""/select SearchHandler front door — the request surface a reference
user actually calls: one params dict composing q + q.op + fq list +
start/rows paging + fl projection + facet.field list over the same
components the dedicated operators attest individually.

ref: solr/core/src/java/org/apache/solr/handler/component/
SearchHandler.java (the component pipeline: QueryComponent →
FacetComponent), solr/core/src/java/org/apache/solr/search/
QParser.java (q/fq parsing), SolrReturnFields.java (fl=).

Subset contract (raise on anything outside it, like Solr's 400s on
bad params): ``q`` parses through the classic parser (q.op honored)
or, under ``defType=edismax``, the edismax front door (mm/pf/ps
honored, q.op rejected — mm owns the clause arithmetic); each ``fq``
must parse to a PURE filter (field:value, ranges, IN sets, exists/
missing, negations — a scoring fq would change ranking semantics
silently, so it is rejected); ``sort`` is ``score desc`` (default) or
``<docvalues-field> asc|desc`` with the engine's pinned (conv_id,
turn_idx) tiebreak; ``start``/``rows`` page the ranked doclist;
``facet.field`` fans out to the index facet engine over the SAME
filtered domain as the doclist; ``json.facet`` accepts the JSON
Facet API subset the engine executes (terms buckets with one
``avg(col)`` sub-agg, query buckets as pure filters).
"""

from __future__ import annotations

import re
from dataclasses import replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_solr_spark.query.model import BooleanSpec
from lucene_solr_spark.query.parser import edismax, parse

#: params this handler understands — anything else is a hard error
#: (Solr rejects unknown critical params rather than guessing)
_KNOWN = {
    "q", "q.op", "fq", "sort", "start", "rows", "fl", "cursorMark",
    "wt", "sortMissing", "NOW",
    "facet", "facet.field", "facet.limit", "facet.sort",
    "facet.missing",
    "facet.mincount", "facet.prefix", "facet.offset", "facet.method",
    "facet.excludeTerms", "facet.exists",
    "facet.contains", "facet.contains.ignoreCase", "facet.matches",
    "hl", "hl.fl", "hl.q",
    "hl.snippets", "hl.fragsize", "hl.usePhraseHighlighter",
    "hl.tag.pre", "hl.tag.post",
    "hl.alternateField", "hl.maxAlternateFieldLength",
    "facet.query", "facet.range", "facet.range.start",
    "facet.range.end", "facet.range.gap", "facet.range.other",
    "facet.range.hardend",
    "facet.pivot",
    "facet.interval", "facet.interval.set",
    "stats", "stats.field", "stats.facet", "stats.calcdistinct",
    "tv", "tv.df", "tv.positions", "tv.tf_idf",
    "group", "group.field", "group.limit", "group.offset", "group.main",
    "group.facet",
    "group.format", "group.ngroups", "group.sort", "group.query",
    "group.func",
    "mlt", "mlt.count", "mlt.maxqt", "mlt.mintf", "mlt.mindf",
    "mlt.boost",
    "spellcheck", "spellcheck.count", "spellcheck.collate",
    "spellcheck.maxQueryFrequency", "spellcheck.extendedResults",
    "spellcheck.alternativeTermCount", "spellcheck.accuracy",
    "debug",
    "defType", "mm", "pf", "ps", "bq", "q.alt", "json.facet",
    "spellcheck.q",
    "rq", "rqq",
    "expand", "expand.rows",
    "elevateIds", "excludeIds",
}

#: elevateIds/excludeIds entry — the doc-key addressing format
_DOC_ID_RE = re.compile(r"^(\w+)#(\d+)$")


def _parse_doc_ids(raw, param: str) -> list[tuple[str, int]]:
    """Comma list of ``<conv_id>#<turn_idx>`` doc keys."""
    parts = ([p.strip() for p in raw.split(",")]
             if isinstance(raw, str) else [str(p) for p in raw])
    out = []
    for p in parts:
        m = _DOC_ID_RE.match(p)
        if m is None:
            raise ValueError(
                f"{param} wants '<conv_id>#<turn_idx>' entries, got {p!r}")
        out.append((m.group(1), int(m.group(2))))
    if not out:
        raise ValueError(f"empty {param}")
    return out

#: fq={!collapse field=f [min|max=<numeric docvalues>]
#: [nullPolicy=ignore|collapse|expand]} — CollapsingQParserPlugin
#: local params; head pick defaults to the score order
_COLLAPSE_FQ_RE = re.compile(r"^\{!collapse\s+([^}]+)\}$")

#: numeric docvalues a min/max collapse selector may key on
_COLLAPSE_SELECTABLE = {"doc_len", "turn_idx", "ts"}


def _parse_collapse_fq(raw: str):
    """``{!collapse ...}`` body → (field, selector, null_policy) where
    selector is None (score head) or ("min"|"max", col)."""
    m = _COLLAPSE_FQ_RE.match(raw.strip())
    if m is None:
        return None
    field = selector = None
    null_policy = "ignore"
    for tok in m.group(1).split():
        if "=" not in tok:
            raise ValueError(f"bad {{!collapse}} local param: {tok!r}")
        k, v = tok.split("=", 1)
        if k == "field":
            field = v
        elif k in ("min", "max"):
            if selector is not None:
                raise ValueError("{!collapse} takes at most one of "
                                 "min=/max=")
            if v not in _COLLAPSE_SELECTABLE:
                raise ValueError(
                    f"{{!collapse}} {k}= must name a numeric docvalues "
                    f"field {sorted(_COLLAPSE_SELECTABLE)}, got {v!r}")
            selector = (k, v)
        elif k == "nullPolicy":
            if v not in ("ignore", "collapse", "expand"):
                raise ValueError(
                    f"nullPolicy must be ignore|collapse|expand: {v!r}")
            null_policy = v
        else:
            raise ValueError(f"unknown {{!collapse}} local param: {k!r}")
    if field is None:
        raise ValueError("{!collapse} needs field=")
    if field not in _GROUPABLE:
        raise ValueError(
            f"{{!collapse}} field must be one of {sorted(_GROUPABLE)}, "
            f"got {field!r}")
    return field, selector, null_policy

#: rq local-params shape (ReRankQParserPlugin): the rerank query comes
#: by $-deref like Solr's documented usage; the deref target is pinned
#: to the ``rqq`` param (one rerank query per request).
_RQ_RE = re.compile(
    r"^\{!rerank reRankQuery=\$rqq reRankDocs=(\d+) reRankWeight="
    r"(\d+(?:\.\d+)?)\}$"
)

#: docvalues columns a field sort may key on (SortSpecParsing resolves
#: sort fields against the schema the same way; anything else is a 400)
_SORTABLE = {"conv_id", "turn_idx", "role", "tool", "ftok", "ts", "doc_len"}

#: Never-null docvalues fields a FIELD-sort cursorMark may page on
#: (the keyset predicate has no tri-state null compares)
_CURSOR_FIELDS = {"conv_id", "turn_idx", "role", "ts", "doc_len"}


def _cursor_value(fld: str, raw: str):
    """One field-sort cursor token value, typed by its field."""
    if fld in ("turn_idx", "doc_len"):
        return int(raw)
    if fld == "ts":
        from datetime import datetime

        return datetime.fromisoformat(raw)
    return raw

#: ord-indexed fields the facet engines bucket on / numeric docvalues
#: a JSON-Facet sub-agg may aggregate (schema resolution, 400 outside)
_FACETABLE = {"role", "tool", "ftok"}
_AGG_COLS = {"doc_len", "turn_idx"}

#: fields result grouping may key on — the collapse key plus the
#: low-cardinality docvalues fields (Grouping resolves group.field
#: against the schema's docvalues the same way)
_GROUPABLE = {"conv_id", "role", "tool"}


#: {!tag=...} on an fq / {!ex=...} on a facet.field (QueryParsing
#: local params — the multi-select faceting request plumbing)
_TAG_RE = re.compile(r"^\{!tag=([\w,]+)\}(.+)$")
_EX_RE = re.compile(r"^\{!ex=([\w,]+)\}(\w+)$")
#: general facet.field local params: {!key=alias ex=t1,t2}field in
#: either order (QueryParsing localParams; `key` renames the output
#: entry — CommonParams.OUTPUT_KEY — so ONE field can be faceted
#: twice under different keys/exclusions, the multi-select idiom)
_FACET_LOCAL_RE = re.compile(r"^\{!([^{}]+)\}(\w+)$")
#: {!frange l=L u=U}<numeric docvalues field> — FunctionRangeQParser
#: over a BARE field ValueSource: maps onto the engine's inclusive
#: range-filter fq family (l/u are inclusive, Solr's incl/incu
#: defaults). Non-trivial ValueSources stay in the relational battery
#: (q_frange).
_FRANGE_FQ_RE = re.compile(
    r"^\{!frange(?:\s+l=(-?\d+(?:\.\d+)?))?"
    r"(?:\s+u=(-?\d+(?:\.\d+)?))?"
    r"(?:\s+incl=(true|false))?(?:\s+incu=(true|false))?\}(\w+)$"
)


def _fields_of(f_spec: BooleanSpec) -> set[str]:
    """Every field a pure-filter spec constrains — the handle the
    engine's ``exclude_fields`` multi-select API keys on."""
    return (
        {f for f, _ in f_spec.filters}
        | {f for f, _ in f_spec.not_filters}
        | {f for f, *_ in f_spec.range_filters}
        | {f for f, _ in f_spec.in_filters}
        | set(f_spec.exists_filters)
        | set(f_spec.missing_filters)
    )


def _pure_filter(spec: BooleanSpec, raw: str) -> BooleanSpec:
    """Reject an fq that carries scoring clauses."""
    if (spec.must or spec.should or spec.must_not or spec.phrases
            or spec.must_not_phrases):
        raise ValueError(f"fq must be a pure filter, got scoring: {raw!r}")
    return spec


def _merge_filters(spec: BooleanSpec, f_spec: BooleanSpec) -> BooleanSpec:
    """Fold a pure filter's constraints into ``spec`` (fq semantics)."""
    return replace(
        spec,
        filters=spec.filters + f_spec.filters,
        not_filters=spec.not_filters + f_spec.not_filters,
        range_filters=spec.range_filters + f_spec.range_filters,
        in_filters=spec.in_filters + f_spec.in_filters,
        exists_filters=spec.exists_filters + f_spec.exists_filters,
        missing_filters=spec.missing_filters + f_spec.missing_filters,
    )


def _parse_scalar_aggs(name: str, subs: dict) -> tuple:
    """Scalar sub-aggregates (FacetModule SumAgg/AvgAgg/MinMaxAgg/
    SumsqAgg/StddevAgg/VarianceAgg + MissingAgg/CountValsAgg/
    UniqueAgg): any number per bucket; numeric kinds over the numeric
    docvalues columns, null-counting kinds also over the string
    docvalues fields; the key NAMES the output column and must be
    <kind>_<col>."""
    aggs: list = []
    for agg_name, agg in (subs or {}).items():
        m = re.fullmatch(
            r"(sum|avg|min|max|sumsq|stddev|variance"
            r"|missing|countvals|unique)\((\w+)\)",
            str(agg))
        allowed = (
            _AGG_COLS | _FACETABLE
            if m and m.group(1) in ("missing", "countvals", "unique")
            else _AGG_COLS
        )
        if not m or m.group(2) not in allowed:
            raise ValueError(
                f"json.facet {name!r}: sub-agg must be "
                f"<kind>(<col>) with a numeric col for "
                f"numeric kinds, got {agg!r}")
        kind, col = m.group(1), m.group(2)
        if agg_name != f"{kind}_{col}":
            raise ValueError(
                f"json.facet {name!r}: the sub-agg key names "
                f"the output column — use '{kind}_{col}'")
        aggs.append((kind, col))
    return tuple(aggs)


def _parse_json_facets(jf, tag_fields: dict | None = None) -> dict:
    """Normalize a ``json.facet`` request (JSON string or dict) into
    {name: ("terms", field, limit, ((kind, col), ...), sort)} /
    {name: ("query", filter BooleanSpec)} — the JSON Facet API subset
    the index engine executes: terms buckets with at most one
    ``avg(<numeric docvalues>)`` sub-agg (named ``avg_<col>``, the
    engine's output column), bucket sort by count or that metric, and
    query buckets that must be pure filters. Anything else raises
    like FacetModule's SyntaxErrors.

    ref: solr/core/src/java/org/apache/solr/search/facet/
    FacetRequest.java (parse), FacetFieldProcessor, QueryFacet."""
    if isinstance(jf, str):
        import json

        jf = json.loads(jf)
    if not isinstance(jf, dict):
        raise ValueError("json.facet must be a JSON object")
    out: dict = {}
    for name, req in jf.items():
        if isinstance(req, str):
            # top-level STAT facet (FacetModule's root AggValueSource:
            # {"avg_doc_len": "avg(doc_len)"}) — the scalar computes
            # over the WHOLE q+fq domain; the key names the output
            # column under the same <kind>_<col> rule as bucket
            # sub-aggs. ref: solr/core/src/java/org/apache/solr/
            # search/facet/FacetModule.java (top-level aggregations)
            aggs = _parse_scalar_aggs(name, {name: req})
            out[name] = ("stat", aggs[0])
            continue
        if not isinstance(req, dict) or "type" not in req:
            raise ValueError(f"json.facet {name!r}: object with 'type' "
                             f"required, got {req!r}")
        ftype = req["type"]
        if ftype == "terms":
            unknown = set(req) - {
                "type", "field", "limit", "facet", "sort", "domain",
                "prefix", "mincount", "missing", "offset",
            }
            if unknown:
                raise ValueError(
                    f"json.facet {name!r}: unknown keys {sorted(unknown)}")
            # domain: {excludeTags: "t1,t2"} — the JSON Facet API
            # spelling of multi-select exclusion ({!ex} on the classic
            # side); tags resolve to the fields their fq constrains
            ex: tuple = ()
            dom_filter = None
            dom_query = None
            dom = req.get("domain")
            if dom is not None:
                if (not isinstance(dom, dict) or not dom
                        or not set(dom) <= {"excludeTags", "filter",
                                            "query"}):
                    raise ValueError(
                        f"json.facet {name!r}: domain supports "
                        "excludeTags, filter and/or query only")
                if "query" in dom:
                    # domain.query REPLACES the base domain with a
                    # standalone query's match set (FacetRequest.Domain
                    # "query" — contrast filter, which narrows, and
                    # excludeTags, which widens); combining it with
                    # either is contradictory and raises
                    if set(dom) != {"query"}:
                        raise ValueError(
                            f"json.facet {name!r}: domain.query replaces "
                            "the domain — it cannot combine with "
                            "excludeTags/filter")
                    raw = dom["query"]
                    if not isinstance(raw, str) or not raw:
                        raise ValueError(
                            f"json.facet {name!r}: domain.query wants a "
                            "query string")
                    dom_query = parse(raw, default_op="AND")
                    if dom_query == BooleanSpec(k=dom_query.k):
                        raise ValueError(
                            f"json.facet {name!r}: empty domain.query")
                if "excludeTags" in dom:
                    tags = dom["excludeTags"]
                    tags = (tags.split(",") if isinstance(tags, str)
                            else list(tags))
                    fields: set = set()
                    for tag in tags:
                        if tag not in (tag_fields or {}):
                            raise ValueError(
                                f"json.facet {name!r}: unknown excludeTags "
                                f"tag {tag!r} (declared: "
                                f"{sorted(tag_fields or {})})")
                        fields |= tag_fields[tag]
                    ex = tuple(sorted(fields))
                if "filter" in dom:
                    # domain.filter: NARROW this facet's domain with an
                    # extra non-scoring constraint (the complement of
                    # excludeTags — FacetRequest.Domain filters). Must
                    # be a pure filter like every fq.
                    raw = dom["filter"]
                    if not isinstance(raw, str) or not raw:
                        raise ValueError(
                            f"json.facet {name!r}: domain.filter wants "
                            "a query string")
                    dom_filter = _pure_filter(
                        parse(raw, default_op="AND"), raw)
            fld = req.get("field")
            if fld not in _FACETABLE:
                raise ValueError(f"json.facet {name!r}: field must be one "
                                 f"of {sorted(_FACETABLE)}, got {fld!r}")
            subs = req.get("facet", {})
            if subs and any(isinstance(a, dict) for a in subs.values()):
                # NESTED terms sub-bucket (FacetModule sub-facet):
                # top buckets of this field, top sub-buckets of the
                # child field inside each, every sub-bucket carrying
                # count + avg(doc_len) — the facet_nested engine
                if len(subs) != 1:
                    raise ValueError(f"json.facet {name!r}: a nested "
                                     "sub-facet must be the only "
                                     "sub-aggregation")
                (agg_name, agg), = subs.items()
                if agg.get("type") != "terms":
                    raise ValueError(
                        f"json.facet {name!r}: nested sub-facet "
                        "must be a terms bucket")
                unknown2 = set(agg) - {"type", "field", "limit"}
                if unknown2:
                    raise ValueError(
                        f"json.facet {name!r}: nested sub-facet "
                        f"unknown keys {sorted(unknown2)}")
                f2 = agg.get("field")
                if f2 not in _FACETABLE or f2 == fld:
                    raise ValueError(
                        f"json.facet {name!r}: nested field must be "
                        f"a different one of {sorted(_FACETABLE)}, "
                        f"got {f2!r}")
                if req.get("sort", "count") != "count":
                    raise ValueError(
                        f"json.facet {name!r}: nested buckets sort "
                        "by count")
                if dom_query is not None:
                    raise ValueError(
                        f"json.facet {name!r}: nested sub-facet domains "
                        "support excludeTags/filter only")
                out[name] = (
                    "nested", fld, int(req.get("limit", 10)),
                    f2, int(agg.get("limit", 10)), ex, dom_filter,
                )
                continue
            aggs = _parse_scalar_aggs(name, subs)
            sort = req.get("sort", "count")
            agg_keys = {f"{k}_{c}" for k, c in aggs}
            if sort == "index":
                # sort:"index" (FacetField sort index): buckets in
                # term order — plain terms buckets only, the facet
                # engine's facet.sort=index path
                if aggs:
                    raise ValueError(
                        f"json.facet {name!r}: sort 'index' rides the "
                        "plain terms pass (no scalar sub-aggs)")
            elif sort != "count":
                m = re.fullmatch(r"(\w+) desc", str(sort))
                if not m or m.group(1) not in agg_keys:
                    raise ValueError(f"json.facet {name!r}: sort must be "
                                     f"'count', 'index', or "
                                     f"'<sub-agg name> desc'")
                sort = m.group(1)
            # prefix (FacetFieldProcessor prefix): bucket values must
            # start with it — narrows BEFORE ranking/limit like
            # facet.prefix; plain terms buckets only (the metric pass
            # ranks on sub-agg keys, Solr's processor does the same
            # split)
            jf_prefix = req.get("prefix")
            if jf_prefix is not None:
                if not isinstance(jf_prefix, str) or not jf_prefix:
                    raise ValueError(
                        f"json.facet {name!r}: prefix wants a "
                        "non-empty string")
                if aggs:
                    raise ValueError(
                        f"json.facet {name!r}: prefix rides the plain "
                        "terms pass (no scalar sub-aggs)")
            # mincount (FacetField mincount, default 1): buckets
            # below it drop BEFORE limit; the engine never emits zero
            # buckets, so mincount < 1 raises (the pinned contract —
            # same rule as classic facet.mincount)
            jf_mincount = int(req.get("mincount", 1))
            if jf_mincount < 1:
                raise ValueError(
                    f"json.facet {name!r}: mincount must be >= 1 "
                    "(the engine never emits zero buckets)")
            if jf_mincount > 1 and aggs:
                raise ValueError(
                    f"json.facet {name!r}: mincount > 1 rides the "
                    "plain terms pass (no scalar sub-aggs)")
            # missing (FacetField missing): one extra NULL bucket
            # counting domain docs with no value — plain terms only
            jf_missing = bool(req.get("missing", False))
            if jf_missing and aggs:
                raise ValueError(
                    f"json.facet {name!r}: missing rides the plain "
                    "terms pass (no scalar sub-aggs)")
            # offset (FacetField offset — bucket paging): skip the
            # first N ranked buckets; the classic facet.offset rule
            # (the refine over-request widens to offset+limit). Plain
            # terms only, like prefix/mincount/missing.
            jf_offset = int(req.get("offset", 0))
            if jf_offset < 0:
                raise ValueError(
                    f"json.facet {name!r}: offset must be >= 0")
            if jf_offset and aggs:
                raise ValueError(
                    f"json.facet {name!r}: offset rides the plain "
                    "terms pass (no scalar sub-aggs)")
            out[name] = (
                "terms", fld, int(req.get("limit", 10)), tuple(aggs),
                sort, ex, dom_filter, dom_query, jf_prefix, jf_mincount,
                jf_missing, jf_offset,
            )
        elif ftype == "query":
            unknown = set(req) - {"type", "q", "facet"}
            if unknown:
                raise ValueError(
                    f"json.facet {name!r}: unknown keys {sorted(unknown)}")
            raw = req.get("q")
            if not raw:
                raise ValueError(f"json.facet {name!r}: 'q' required")
            q_subs = req.get("facet", {})
            sub_dicts = {k: v for k, v in q_subs.items()
                         if isinstance(v, dict)}
            if sub_dicts:
                # ONE nested terms sub-facet: the bucket's domain
                # (main ∧ q) faceted by the sub-facet's field —
                # FacetModule's query-facet-with-sub-facet shape.
                # Mixing it with scalar aggs (or nesting deeper)
                # stays outside the subset.
                if len(q_subs) != 1 or len(sub_dicts) != 1:
                    raise ValueError(
                        f"json.facet {name!r}: a query bucket takes "
                        "scalar sub-aggs OR one terms sub-facet")
                (sub_name, sub_req), = sub_dicts.items()
                if sub_req.get("type") != "terms"                         or sub_req.get("field") not in _FACETABLE                         or set(sub_req) - {"type", "field", "limit"}:
                    raise ValueError(
                        f"json.facet {name!r}.{sub_name}: the nested "
                        "sub-facet must be a plain terms bucket "
                        "(type/field/limit) over a facetable field")
                out[name] = (
                    "query_terms",
                    _pure_filter(parse(raw, default_op="AND"), raw),
                    sub_req["field"], int(sub_req.get("limit", 10)),
                )
                continue
            out[name] = (
                "query", _pure_filter(parse(raw, default_op="AND"), raw),
                _parse_scalar_aggs(name, q_subs),
            )
        elif ftype == "range":
            unknown = set(req) - {"type", "field", "start", "end", "gap",
                                  "other", "facet"}
            if unknown:
                raise ValueError(
                    f"json.facet {name!r}: unknown keys {sorted(unknown)}")
            fld = req.get("field")
            if fld not in _AGG_COLS | {"ts"}:
                raise ValueError(f"json.facet {name!r}: range field must "
                                 f"be one of {sorted(_AGG_COLS | {'ts'})},"
                                 f" got {fld!r}")
            if fld == "ts":
                # DATE range (the JSON-API spelling of the classic ts
                # leg): ISO start/end, gap = a +<n><UNIT> DateMath
                # step applied bound-by-bound; pinned hardend=false
                try:
                    start_v = _parse_solr_date(req["start"])
                    end_v = _parse_solr_date(req["end"])
                    gap = str(req["gap"])
                except KeyError:
                    raise ValueError(
                        f"json.facet {name!r}: start/end/gap "
                        "required") from None
                from lucene_solr_spark.query.datemath import (
                    parse as _dm_jf,
                )
                if not re.fullmatch(r"\+\d+[A-Z]+", gap):
                    raise ValueError(
                        f"json.facet {name!r}: gap on ts must be a "
                        f"+<n><UNIT> DateMath step, got {gap!r}")
                if _dm_jf(f"NOW{gap}", now=start_v) <= start_v:
                    raise ValueError(
                        f"json.facet {name!r}: gap must advance time")
                if end_v <= start_v:
                    raise ValueError(
                        f"json.facet {name!r}: need end > start")
            else:
                try:
                    start_v = int(req["start"])
                    end_v = int(req["end"])
                    gap = int(req["gap"])
                except (KeyError, TypeError, ValueError):
                    raise ValueError(f"json.facet {name!r}: integer "
                                     "start/end/gap required") from None
                if gap <= 0 or end_v <= start_v:
                    raise ValueError(f"json.facet {name!r}: need gap > 0 "
                                     "and end > start")
            # other (FacetRange other): before/after/between special
            # rows alongside the buckets — 'all' or a list; the
            # JSON-API spelling of facet.range.other
            raw_o = req.get("other")
            if raw_o is None:
                o_kinds: tuple = ()
            else:
                kinds = (
                    ("before", "after", "between") if raw_o == "all"
                    else tuple(raw_o) if isinstance(raw_o, list)
                    else (str(raw_o),)
                )
                if not kinds or set(kinds) - {"before", "after",
                                              "between"}:
                    raise ValueError(
                        f"json.facet {name!r}: other wants all|before|"
                        f"after|between, got {raw_o!r}")
                o_kinds = kinds
            r_subs = req.get("facet")
            if r_subs is not None:
                # ONE nested terms sub-facet per range bucket (the
                # price-slider-with-brand-facets idiom): numeric
                # ranges only, no 'other' rows (each special row
                # would need its own domain pass), the sub-facet a
                # plain terms bucket like the query-bucket rule
                if fld == "ts":
                    raise ValueError(
                        f"json.facet {name!r}: nested sub-facets on "
                        "date ranges are outside the subset")
                if o_kinds:
                    raise ValueError(
                        f"json.facet {name!r}: 'other' and a nested "
                        "sub-facet are exclusive")
                if len(r_subs) != 1 or not all(
                        isinstance(v, dict) for v in r_subs.values()):
                    raise ValueError(
                        f"json.facet {name!r}: range buckets take "
                        "exactly one terms sub-facet")
                (rs_name, rs_req), = r_subs.items()
                if rs_req.get("type") != "terms" \
                        or rs_req.get("field") not in _FACETABLE \
                        or set(rs_req) - {"type", "field", "limit"}:
                    raise ValueError(
                        f"json.facet {name!r}.{rs_name}: the nested "
                        "sub-facet must be a plain terms bucket "
                        "(type/field/limit) over a facetable field")
                out[name] = (
                    "range_terms", fld, start_v, end_v, gap,
                    rs_req["field"], int(rs_req.get("limit", 10)),
                )
                continue
            out[name] = ("range", fld, start_v, end_v, gap, o_kinds)
        else:
            raise ValueError(
                f"json.facet {name!r}: unsupported type {ftype!r} "
                "(terms | query)")
    return out


#: per-field facet override params — Solr's SolrParams.getFieldParam
#: rule (``f.<field>.facet.<opt>`` wins over the request-wide
#: ``facet.<opt>`` for that one field). Pinned subset: the seven
#: narrowing opts the facet engine takes per-request (contains/
#: matches joined r4-continuation-2; contains.ignoreCase stays
#: request-wide).
#: ref: solr/solrj/src/java/org/apache/solr/common/params/SolrParams.java
#: (getFieldParam) + solr/core/.../request/SimpleFacets.java
_FACET_FIELD_PARAM_RE = re.compile(
    r"^f\.([A-Za-z_]\w*)\.facet\."
    r"(limit|sort|mincount|prefix|offset|contains|matches)$"
)


def _facet_field_overrides(params: dict) -> dict[str, dict]:
    """Extract ``f.<field>.facet.<opt>`` params into {field: {opt: v}},
    validating each value with the same rules as the request-wide
    param. Unmatched ``f.`` params fall through to the unknown check."""
    out: dict[str, dict] = {}
    for key, val in params.items():
        m = _FACET_FIELD_PARAM_RE.match(key)
        if not m:
            continue
        fld, opt = m.group(1), m.group(2)
        if opt in ("limit", "mincount", "offset"):
            val = int(val)
            if opt == "mincount" and val < 1:
                raise ValueError(
                    f"{key} must be >= 1 (the engine's facet contract "
                    "never emits zero buckets)")
            if opt == "offset" and val < 0:
                raise ValueError(f"{key} must be >= 0: {val}")
        elif opt == "sort":
            if val not in ("count", "index"):
                raise ValueError(f"{key} must be count|index: {val!r}")
        elif opt == "matches":
            try:
                re.compile(str(val))
            except re.error as exc:
                raise ValueError(f"{key}: bad regex: {exc}") from exc
        out.setdefault(fld, {})[opt] = val
    return out


def _split_fl(raw: str) -> list[str]:
    """Split an fl string on commas OUTSIDE parentheses (function
    pseudo-fields carry comma-separated args)."""
    parts, depth, cur = [], 0, []
    for ch in str(raw):
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            depth += ch == "("
            depth -= ch == ")"
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


#: fl function pseudo-field grammar — the same pinned ValueSource
#: family as {!boost} and sort-by-function. ref: solr/core/src/java/
#: org/apache/solr/search/SolrReturnFields.java (function parsing via
#: FunctionQParser) + ValueSourceParser (log/sqrt/recip)
_FL_FUNC_RE = re.compile(
    r"^(\w+):(log|sqrt|recip|scale|map)"
    r"\(([a-z_][\w]*)((?:,-?\d+(?:\.\d+)?){0,3})\)$"
)
_FL_FUNC_COLS = {"doc_len", "turn_idx"}


def _scale_bounds(searcher, col: str) -> tuple[float, float]:
    """Corpus-global (min, max) of a numeric docvalues column for
    ``scale()`` — ONE bounded narrow aggregation over the pruned
    column, memoized per searcher (snapshot-pinned, so staleness is
    impossible). Rides ``searcher.docmap()``, so the tombstone mask
    applies (every docmap read site does): bounds are over LIVE docs.
    Pinned deviation from Lucene's ScaleFloatFunction (which sweeps
    0..maxDoc including deleted docs) — masked bounds keep the scaled
    output inside [target_min, target_max] for every doc a query can
    actually return."""
    cache = searcher.__dict__.setdefault("_scale_bounds_cache", {})
    got = cache.get(col)
    if got is None:
        row = searcher.docmap().agg(
            F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
        got = cache[col] = (float(row["lo"]), float(row["hi"]))
    return got


def _parse_fl_func(f: str) -> tuple:
    """``alias:func(col[,args])`` → (alias, col, spark_column_fn);
    the fn takes the searcher (scale() needs corpus-global bounds,
    the scalar kinds ignore it).
    ref: solr/core/src/java/org/apache/solr/search/ValueSourceParser.java
    (log/sqrt/recip/scale/map) + lucene/queries/.../function/valuesource/
    ScaleFloatFunction.java, RangeMapFloatFunction.java."""
    m = _FL_FUNC_RE.match(f)
    if not m:
        raise ValueError(
            f"unsupported fl pseudo-field {f!r} (alias:log(col)|"
            "sqrt(col)|recip(col,m,a,b)|scale(col,min,max)|"
            "map(col,min,max,target) over numeric docvalues)")
    alias, kind, col, args_s = m.groups()
    if col not in _FL_FUNC_COLS:
        raise ValueError(
            f"fl function column must be numeric docvalues "
            f"{sorted(_FL_FUNC_COLS)}, got {col!r}")
    args = [float(a) for a in args_s.lstrip(",").split(",") if a]
    if kind == "log":
        if args:
            raise ValueError(f"log takes no extra args: {f!r}")
        fn = lambda s=None: F.round(  # noqa: E731
            F.log10(F.col(col) + F.lit(0.0)), 4)
    elif kind == "sqrt":
        if args:
            raise ValueError(f"sqrt takes no extra args: {f!r}")
        fn = lambda s=None: F.round(  # noqa: E731
            F.sqrt(F.col(col) + F.lit(0.0)), 4)
    elif kind == "scale":
        # scale(col,target_min,target_max): linear map of the CORPUS
        # value range onto [target_min, target_max]; degenerate range
        # pins to target_min (Lucene would emit NaN — rejected here)
        if len(args) != 2:
            raise ValueError(f"scale wants (col,min,max): {f!r}")
        t_lo, t_hi = args

        def fn(s, _c=col, _lo=t_lo, _hi=t_hi):
            lo, hi = _scale_bounds(s, _c)
            if hi == lo:
                return F.lit(round(_lo, 4))
            return F.round(
                (F.col(_c) - F.lit(lo)) / F.lit(hi - lo)
                * F.lit(_hi - _lo) + F.lit(_lo), 4)
    elif kind == "map":
        # map(col,min,max,target): values inside [min,max] become
        # target, everything else passes through (RangeMapFloatFunction
        # with the default passthrough)
        if len(args) != 3:
            raise ValueError(f"map wants (col,min,max,target): {f!r}")
        m_lo, m_hi, tgt = args
        fn = lambda s=None: F.round(  # noqa: E731
            F.when((F.col(col) >= F.lit(m_lo)) & (F.col(col) <= F.lit(m_hi)),
                   F.lit(tgt)).otherwise(F.col(col) + F.lit(0.0)), 4)
    else:
        if len(args) != 3:
            raise ValueError(f"recip wants (col,m,a,b): {f!r}")
        m_c, a_c, b_c = args
        fn = lambda s=None: F.round(  # noqa: E731
            F.lit(a_c) / (F.lit(m_c) * F.col(col) + F.lit(b_c)), 4)
    return (alias, col, fn)


def parse_select_params(params: dict) -> tuple[BooleanSpec, dict]:
    """params dict → (combined BooleanSpec, normalized options)."""
    facet_overrides = _facet_field_overrides(params)
    known_extra = {
        f"f.{fld}.facet.{opt}"
        for fld, opts_ in facet_overrides.items() for opt in opts_
    }
    unknown = set(params) - _KNOWN - known_extra
    if unknown:
        raise ValueError(f"unknown /select params: {sorted(unknown)}")
    if "q" not in params and not (
            params.get("defType") == "edismax" and "q.alt" in params):
        raise ValueError("missing required param: q")
    # wt= response writer: json (the default — rows stay a typed
    # DataFrame, the Spark-native "format"), xml or javabin route the
    # doclist through the REAL response codecs (sources/xml_source,
    # sources/javabin) as a distributed per-batch encode — an
    # export-scale response never materializes on one node.
    wt = params.get("wt", "json")
    if wt not in ("json", "xml", "javabin", "csv"):
        raise ValueError(f"wt must be json|xml|javabin|csv: {wt!r}")
    start = int(params.get("start", 0))
    rows = int(params.get("rows", 10))
    if start < 0 or rows < 0:
        raise ValueError(f"start/rows must be >= 0: {start}/{rows}")
    sort = params.get("sort", "score desc")
    # sortMissing=last|first — the request-surfaced spelling of the
    # schema's sortMissingLast/sortMissingFirst field attributes
    # (FieldType#setArgs): docs with a NULL sort key land at that end
    # REGARDLESS of asc/desc. Default (absent) keeps Lucene's raw
    # order: missing sorts as the lowest value (nulls first under
    # asc, last under desc).
    sort_missing = params.get("sortMissing")
    if sort_missing is not None and sort_missing not in ("last", "first"):
        raise ValueError(
            f"sortMissing must be last|first: {sort_missing!r}")
    if sort == "score desc":
        if sort_missing is not None:
            raise ValueError("sortMissing needs a field sort (score "
                             "is never missing)")
        sort_key = None  # ranked doclist, the default
    else:
        # multi-clause field sort (SortSpecParsing: comma-separated
        # "<field> asc|desc" clauses, applied left to right; the
        # engine's pinned (conv_id, turn_idx) tiebreak closes the
        # total order after the last clause)
        clauses = []
        seen_sort_fields = set()
        for clause in str(sort).split(","):
            parts = clause.split()
            if (len(parts) != 2 or parts[0] not in _SORTABLE
                    or parts[1] not in ("asc", "desc")):
                raise ValueError(
                    f"unsupported sort: {sort!r} (score desc or "
                    f"comma-separated <docvalues field> asc|desc "
                    f"clauses)")
            if parts[0] in seen_sort_fields:
                raise ValueError(f"duplicate sort field: {parts[0]!r}")
            seen_sort_fields.add(parts[0])
            clauses.append((parts[0], parts[1] == "asc"))
        sort_key = (tuple(clauses), sort_missing)
    # cursorMark deep paging (CursorMarkParams): keyset paging on the
    # pinned total order (score desc, conv_id, turn_idx) — start must
    # be 0 and the sort must be the default (the mark IS the sort
    # position), like Solr's CURSOR_MARK_PARAM constraints. The token
    # is the readable "<score>|<conv_id>|<turn_idx>" of the previous
    # page's last row ("*" opens the cursor). Pages a PLAIN doclist —
    # component legs key on the offset page and raise here.
    cursor_mark = None
    if "cursorMark" in params:
        raw_cm = str(params["cursorMark"])
        if start:
            raise ValueError("cursorMark requires start=0")
        comp = {"facet", "facet.field", "hl", "group", "mlt", "debug",
                "stats", "json.facet", "spellcheck", "rq", "fl",
                "defType"} & set(params)
        if comp:
            raise ValueError(f"cursorMark pages a plain doclist; "
                             f"drop {sorted(comp)}")
        if sort_key is not None:
            # FIELD-sort cursor (r5 — CursorMark over any sort that
            # closes a total order): clause fields must be never-null
            # docvalues (keyset compares have no tri-state), so
            # nullable `tool`/sortMissing are rejected; the mark is
            # the full clause list's values (request clauses + pinned
            # tiebreaks) '|'-joined.
            clauses_cm, sm_cm = sort_key
            if sm_cm is not None:
                raise ValueError("cursorMark with sortMissing is "
                                 "unsupported (nullable keyset)")
            bad = [f for f, _ in clauses_cm
                   if f not in _CURSOR_FIELDS]
            if bad:
                raise ValueError(
                    f"cursorMark sort fields must be never-null "
                    f"docvalues {sorted(_CURSOR_FIELDS)}: {bad}")
            if raw_cm == "*":
                cursor_mark = ("*",)
            else:
                from lucene_solr_spark.query.executor import IndexSearcher

                full_cm = IndexSearcher.cursor_clauses(clauses_cm)
                parts_cm = raw_cm.split("|")
                try:
                    if len(parts_cm) != len(full_cm):
                        raise ValueError
                    cursor_mark = (tuple(
                        _cursor_value(f, raw)
                        for (f, _), raw in zip(full_cm, parts_cm)
                    ),)
                except ValueError:
                    raise ValueError(
                        f"malformed cursorMark: {raw_cm!r} (want "
                        f"{len(full_cm)} '|'-joined sort-key values "
                        "or '*')") from None
        elif raw_cm == "*":
            cursor_mark = ("*",)
        else:
            parts_cm = raw_cm.split("|")
            try:
                if len(parts_cm) != 3:
                    raise ValueError
                cursor_mark = (
                    (float(parts_cm[0]), parts_cm[1], int(parts_cm[2])),
                )
            except ValueError:
                raise ValueError(
                    f"malformed cursorMark: {raw_cm!r} (want "
                    "'<score>|<conv_id>|<turn_idx>' or '*')") from None
    def_type = params.get("defType", "lucene")
    if def_type == "edismax":
        if "q.op" in params:
            raise ValueError("q.op is not a defType=edismax param — "
                             "mm owns the optional-clause arithmetic")
        if "q" not in params:
            # q.alt (DisMaxQParser ALTQ): when q is absent the
            # alternate query defines the match set. Pinned subset:
            # '*:*' (MatchAllDocsQuery — the standard browse idiom);
            # a MatchAll doclist has no score order, so the shape is
            # component-only (rows=0 — facets/stats over everything,
            # exactly how browse UIs use it). fq still narrows the
            # domain through the normal filter path.
            # ref: solr/core/src/java/org/apache/solr/search/
            # DisMaxQParser.java (getAlternateUserQuery)
            if str(params["q.alt"]).strip() != "*:*":
                raise ValueError(
                    "q.alt subset: only '*:*' (MatchAllDocsQuery)")
            if rows != 0:
                raise ValueError(
                    "q.alt serves component-only requests: rows=0 "
                    "(a constant-score MatchAll has no rank order)")
            bad = {"mm", "pf", "ps", "bq", "rq", "sort"} & set(params)
            if bad:
                raise ValueError(
                    f"q.alt MatchAll takes no scoring params: "
                    f"{sorted(bad)}")
            spec = BooleanSpec(k=0)
        else:
            spec = edismax(
                params["q"], k=start + rows,
                mm=params.get("mm", 1),
                pf=bool(params.get("pf", True)),
                ps=int(params.get("ps", 0)),
            )
    elif def_type == "lucene":
        if {"mm", "pf", "ps", "bq", "q.alt"} & set(params):
            raise ValueError("mm/pf/ps/bq/q.alt need defType=edismax")
        spec = parse(
            params["q"], k=start + rows,
            default_op=params.get("q.op", "OR"),
        )
    else:
        raise ValueError(f"unknown defType: {def_type!r}")
    fqs = params.get("fq", [])
    if isinstance(fqs, str):
        fqs = [fqs]
    # fq={!collapse field=f} — CollapsingQParserPlugin: collapses the
    # doclist to one best-scoring head per key BEFORE paging; numFound
    # becomes the group count. The subset keeps the response a plain
    # (possibly expanded) doclist: component legs and non-default
    # sorts raise, exactly the cases where Solr's collapse/facet
    # interplay has its own documented caveats.
    collapse = None
    remaining_fqs = []
    for raw in fqs:
        parsed_c = (_parse_collapse_fq(raw)
                    if raw.strip().startswith("{!collapse") else None)
        if parsed_c is not None:
            if collapse is not None:
                raise ValueError("at most one {!collapse} fq")
            collapse = parsed_c
        else:
            remaining_fqs.append(raw)
    fqs = remaining_fqs
    if collapse is not None:
        comp = {"facet", "facet.field", "facet.query", "facet.range",
                "facet.pivot", "facet.interval", "stats", "group",
                "mlt", "hl", "debug", "spellcheck", "rq", "json.facet",
                "cursorMark"} & set(params)
        if comp:
            raise ValueError(
                f"{{!collapse}} pages a plain collapsed doclist in "
                f"this subset; drop {sorted(comp)}")
        if params.get("sort", "score desc") != "score desc":
            raise ValueError("{!collapse} keeps the score-ranked head "
                             "order (sort must stay score desc)")
    expand = bool(params.get("expand", False))
    expand_rows = int(params.get("expand.rows", 5))
    if expand and collapse is None:
        raise ValueError("expand=true needs an fq={!collapse} to expand")
    if "expand.rows" in params and not expand:
        raise ValueError("expand.rows needs expand=true")
    if expand_rows < 1:
        raise ValueError(f"expand.rows must be >= 1: {expand_rows}")
    # QueryElevationComponent: elevateIds pin docs to the top slots in
    # list order (kept even when they don't match — forceElevation;
    # null score then), excludeIds are removed from the result set
    # entirely. Elevation rewrites the doclist order, so it keeps the
    # plain score-ranked shape: field sorts, collapse, rerank,
    # grouping, cursorMark and debug raise.
    # ref: solr/core/src/java/org/apache/solr/handler/component/
    # QueryElevationComponent.java (elevateIds/excludeIds params)
    elevate = None
    if "elevateIds" in params:
        elev_ids = _parse_doc_ids(params["elevateIds"], "elevateIds")
        excl_ids = (_parse_doc_ids(params["excludeIds"], "excludeIds")
                    if "excludeIds" in params else [])
        overlap = set(elev_ids) & set(excl_ids)
        if overlap:
            raise ValueError(
                f"ids cannot be both elevated and excluded: "
                f"{sorted(overlap)}")
        comp = {"sort", "group", "rq", "cursorMark", "debug"} & set(params)
        if comp and params.get("sort", "score desc") != "score desc":
            raise ValueError("elevateIds keeps the score-ranked order "
                             "(sort must stay score desc)")
        comp -= {"sort"}
        if comp:
            raise ValueError(f"elevateIds pins the plain doclist order; "
                             f"drop {sorted(comp)}")
        if collapse is not None:
            raise ValueError("elevateIds cannot combine with {!collapse}")
        elevate = (tuple(elev_ids), tuple(excl_ids))
    elif "excludeIds" in params:
        raise ValueError("excludeIds needs elevateIds")
    tag_fields: dict[str, set[str]] = {}
    for raw in fqs:
        m = _TAG_RE.match(raw)
        tags, body = (m.group(1).split(","), m.group(2)) if m else ([], raw)
        fr = _FRANGE_FQ_RE.match(body.strip())
        if fr is not None:
            lo, hi, incl, incu, fr_fld = (
                fr.group(1), fr.group(2), fr.group(3), fr.group(4),
                fr.group(5))
            if fr_fld not in _AGG_COLS:
                raise ValueError(
                    f"{{!frange}} fq wants a bare numeric docvalues "
                    f"field ({sorted(_AGG_COLS)}); function "
                    f"ValueSources ride the relational battery: "
                    f"{raw!r}")
            if lo is None and hi is None:
                raise ValueError(f"{{!frange}} needs l= and/or u=: "
                                 f"{raw!r}")
            # incl/incu (FunctionRangeQParser bound inclusivity,
            # default true): the engine's range mask is inclusive, so
            # exclusive bounds normalize ±1 on the INTEGER docvalues
            # fields (the same adjustment the SQL front door's strict
            # operators make); float literals with an exclusive bound
            # are outside the subset
            def _adj(v, flag, step, which):
                if v is None or flag != "false":
                    return v
                if "." in v:
                    raise ValueError(
                        f"{{!frange}} {which}=false needs an integer "
                        f"bound: {raw!r}")
                return str(int(v) + step)
            lo = _adj(lo, incl, 1, "incl")
            hi = _adj(hi, incu, -1, "incu")
            f_spec = BooleanSpec(range_filters=((fr_fld, lo, hi),))
        else:
            f_spec = _pure_filter(parse(body, default_op="AND"), raw)
        for tag in tags:
            tag_fields.setdefault(tag, set()).update(_fields_of(f_spec))
        spec = _merge_filters(spec, f_spec)
    facet_fields_raw = params.get("facet.field", [])
    if isinstance(facet_fields_raw, str):
        facet_fields_raw = [facet_fields_raw]
    if facet_fields_raw and not params.get("facet", True):
        facet_fields_raw = []
    facet_fields = []
    for raw in facet_fields_raw:
        m = _FACET_LOCAL_RE.match(raw)
        if m:
            # {!key=alias ex=tags}field (QueryParsing local params):
            # ex drops the tagged fq-side constraints from THIS
            # facet's domain only (the engine's exclude_fields API
            # keys on FIELD names — exact in the one-fq-per-field
            # multi-select case, see IndexSearcher.facet); key
            # renames the response entry so one field can appear
            # under several keys
            ex: set[str] = set()
            key_alias = None
            for tok in m.group(1).split():
                if "=" not in tok:
                    raise ValueError(
                        f"facet.field {raw!r}: bad local param {tok!r}")
                k, v = tok.split("=", 1)
                if k == "ex":
                    for tag in v.split(","):
                        if tag not in tag_fields:
                            raise ValueError(
                                f"facet.field {raw!r}: unknown ex tag "
                                f"{tag!r} (declared: "
                                f"{sorted(tag_fields)})")
                        ex |= tag_fields[tag]
                elif k == "key":
                    if not re.fullmatch(r"\w+", v):
                        raise ValueError(
                            f"facet.field {raw!r}: bad key {v!r}")
                    key_alias = v
                else:
                    raise ValueError(
                        f"facet.field {raw!r}: unknown local param "
                        f"{k!r} (ex, key)")
            fld = m.group(2)
            facet_fields.append(
                (fld, tuple(sorted(ex)), key_alias or fld))
        else:
            facet_fields.append((raw, (), raw))
    if len({k for _, _, k in facet_fields}) != len(facet_fields):
        raise ValueError("facet.field output keys collide — use "
                         "{!key=alias} to disambiguate")
    hl = bool(params.get("hl", False))
    if hl and params.get("hl.fl", "text") != "text":
        raise ValueError("hl.fl supports the analyzed text field only")
    hl_passages = "hl.snippets" in params or "hl.fragsize" in params
    if hl_passages and not hl:
        raise ValueError("hl.snippets/hl.fragsize need hl=true")
    hl_snippets = int(params.get("hl.snippets", 1))
    hl_fragsize = int(params.get("hl.fragsize", 10))
    if hl_snippets < 1 or hl_fragsize < 1:
        raise ValueError("hl.snippets and hl.fragsize must be >= 1")
    # hl.alternateField (DefaultSolrHighlighter alternateField): when
    # a page doc yields NO snippet (every passage empty — the
    # filter-only-browse case), fall back to the leading
    # hl.maxAlternateFieldLength chars of the named stored field.
    # Passage mode only — the whole-field mode always emits a snippet.
    hl_alternate = params.get("hl.alternateField")
    hl_alt_len = int(params.get("hl.maxAlternateFieldLength", 0))
    if hl_alternate is not None:
        if not hl or not hl_passages:
            raise ValueError("hl.alternateField needs hl=true + the "
                             "passage mode (hl.snippets/hl.fragsize)")
        if hl_alternate not in ("text", "role", "tool"):
            raise ValueError(f"hl.alternateField must be a stored "
                             f"field (text|role|tool), got "
                             f"{hl_alternate!r}")
    elif "hl.maxAlternateFieldLength" in params:
        raise ValueError("hl.maxAlternateFieldLength needs "
                         "hl.alternateField")
    if hl_alt_len < 0:
        raise ValueError(f"hl.maxAlternateFieldLength must be >= 0: "
                         f"{hl_alt_len}")
    # hl.tag.pre/post (the highlighter's marker pair; Solr default
    # <em>/</em>). Quotes and backslashes are rejected — the phrase
    # leg inlines the tags into a SQL lambda, and Solr-side these are
    # markup fragments, not code.
    hl_pre = str(params.get("hl.tag.pre", "<em>"))
    hl_post = str(params.get("hl.tag.post", "</em>"))
    if ("hl.tag.pre" in params or "hl.tag.post" in params) and not hl:
        raise ValueError("hl.tag.pre/hl.tag.post need hl=true")
    for tag in (hl_pre, hl_post):
        if not tag or "'" in tag or "\\" in tag:
            raise ValueError(f"bad hl.tag marker: {tag!r}")
    # hl.q (HighlightParams.Q): highlight against an ALTERNATE query
    # — the marking terms/phrases come from hl.q's parse, the hit
    # list stays the main query's (the classic rq/boost companion).
    # ref: solr/core/src/java/org/apache/solr/highlight/
    # DefaultSolrHighlighter.java (getHighlightQuery)
    hl_q_spec = None
    if "hl.q" in params:
        if not hl:
            raise ValueError("hl.q needs hl=true")
        hl_q_spec = parse(str(params["hl.q"]), default_op="AND")
    hl_phrase = bool(params.get("hl.usePhraseHighlighter", False))
    if hl_phrase:
        if not hl:
            raise ValueError("hl.usePhraseHighlighter needs hl=true")
        if hl_passages:
            raise ValueError("hl.usePhraseHighlighter and passage "
                             "mode are exclusive in this subset")
        eff_hl = hl_q_spec if hl_q_spec is not None else spec
        if eff_hl.phrases and eff_hl.phrase_slop:
            raise ValueError("hl.usePhraseHighlighter marks EXACT "
                             "adjacency occurrences; sloppy phrases "
                             "are outside the subset")
    facet_sort = params.get("facet.sort", "count")
    if facet_sort not in ("count", "index"):
        raise ValueError(f"facet.sort must be count|index: {facet_sort!r}")
    facet_mincount = int(params.get("facet.mincount", 1))
    if facet_mincount < 1:
        raise ValueError("facet.mincount must be >= 1 (the engine's "
                         "facet contract never emits zero buckets)")
    facet_offset = int(params.get("facet.offset", 0))
    if facet_offset < 0:
        raise ValueError(f"facet.offset must be >= 0: {facet_offset}")
    if (params.get("facet.contains.ignoreCase")
            and "facet.contains" not in params):
        raise ValueError("facet.contains.ignoreCase needs facet.contains")
    if "facet.matches" in params:
        # fail fast like Solr's Pattern.compile in RegexBytesRefFilter;
        # the pattern must stay in the Java∩python∩RE2 dialect
        try:
            re.compile(str(params["facet.matches"]))
        except re.error as exc:
            raise ValueError(f"facet.matches: bad regex: {exc}") from exc
    # group.facet=true (SimpleFacets#getGroupedCounts): facet.field
    # legs count each GROUP once per bucket instead of each doc. The
    # engine's grouped counting is exact only for the segment-local
    # block key, so the pinned subset requires grouping by conv_id.
    group_facet = bool(params.get("group.facet", False))
    if group_facet:
        if not params.get("group", False) \
                or params.get("group.field") != "conv_id":
            raise ValueError(
                "group.facet=true needs group=true and group.field="
                "conv_id (grouped facet counts are exact only for the "
                "segment-local block key)")
    # facet.method — Solr's enum/fc/uif pick maps onto this engine's
    # exact-driver-merge vs two-phase-refine choice: auto = the
    # cardinality heuristic (default), refine = force two-phase,
    # exact = force the driver-merge control path
    facet_method = params.get("facet.method", "auto")
    if facet_method not in ("auto", "refine", "exact"):
        raise ValueError(
            f"facet.method must be auto|refine|exact: {facet_method!r}")
    # facet.exists=true (SimpleFacets EXISTS method): bucket counts
    # cap at 1 — presence, not frequency. The engine never emits zero
    # buckets and the capped counts make count order meaningless, so
    # the pinned subset requires mincount=1 and facet.sort=index
    # (Solr documents the same restrictions: exists excludes
    # mincount>1 and is pointless under count sort).
    # ref: solr/core/src/java/org/apache/solr/request/SimpleFacets.java
    # (FacetMethod.EXISTS + the mincount>1 rejection)
    facet_exists = bool(params.get("facet.exists", False))
    if facet_exists:
        if facet_mincount != 1:
            raise ValueError("facet.exists caps counts at 1; "
                             "facet.mincount must stay 1")
        if facet_sort != "index":
            raise ValueError("facet.exists needs facet.sort=index "
                             "(every bucket counts 1 under exists)")
    # f.<field>.facet.* overrides must name a faceted field, and the
    # facet.exists restrictions apply to the EFFECTIVE per-field values
    faceted = {fld for fld, _, _ in facet_fields}
    for fld, ov in facet_overrides.items():
        if fld not in faceted:
            raise ValueError(
                f"f.{fld}.facet.* override but {fld!r} is not in "
                "facet.field")
        if facet_exists and (ov.get("mincount", 1) != 1
                             or ov.get("sort", "index") != "index"):
            raise ValueError(
                f"facet.exists restrictions apply per-field too: "
                f"f.{fld}.facet.* must keep mincount=1, sort=index")
    # classic facet.query values (SimpleFacets getFacetQueryCounts):
    # each is a PURE filter counted against the doclist's domain
    fquery_raw = params.get("facet.query", [])
    if isinstance(fquery_raw, str):
        fquery_raw = [fquery_raw]
    facet_queries = [
        (raw, _pure_filter(parse(raw, default_op="AND"), raw))
        for raw in fquery_raw
    ]
    # classic facet.range param family (RangeFacetProcessor): one
    # numeric docvalues field, integer start/end/gap — the same
    # bucket contract as the json.facet range leg
    facet_range = None
    range_subs = {"facet.range.start", "facet.range.end", "facet.range.gap"}
    if "facet.range" in params:
        raw_rf = str(params["facet.range"])
        # multi-select on the range leg ({!ex=tag}field — the price-
        # slider pattern: the slider's own fq must not narrow its
        # facet): same tag map + field-keyed exclusion as facet.field
        m_rf = _EX_RE.match(raw_rf)
        rf_ex: tuple = ()
        if m_rf:
            ex_rf: set[str] = set()
            for tag in m_rf.group(1).split(","):
                if tag not in tag_fields:
                    raise ValueError(
                        f"facet.range {raw_rf!r}: unknown ex tag "
                        f"{tag!r} (declared: {sorted(tag_fields)})")
                ex_rf |= tag_fields[tag]
            rf_ex = tuple(sorted(ex_rf))
            fld = m_rf.group(2)
        else:
            fld = raw_rf
        if fld not in _AGG_COLS | {"ts"}:
            raise ValueError(f"facet.range field must be one of "
                             f"{sorted(_AGG_COLS | {'ts'})}, got {fld!r}")
        missing_subs = range_subs - set(params)
        if missing_subs:
            raise ValueError(
                f"facet.range needs {sorted(missing_subs)}")
        if fld == "ts":
            # DATE range facet (RangeFacetProcessor date path): ISO
            # start/end, gap = a DateMath step like +1HOUR / +1MONTH
            # applied bound-by-bound (month arithmetic clamps like
            # DateMathParser); hardend=false — the last bucket runs
            # to start+n*gap even past end. Bounds may be DateMath
            # expressions anchored at the NOW param (epoch millis) —
            # Solr's distributed-determinism rule: the coordinator
            # pins NOW and forwards it so every shard computes the
            # SAME boundaries; here the pinned NOW makes the request
            # reproducible across runs and executors, so relative
            # bounds REQUIRE it (a wall-clock default would break
            # the engine's determinism contract).
            # ref: solr/solrj/src/java/org/apache/solr/common/params/
            # CommonParams.java (NOW) + solr/core/.../util/
            # DateMathParser.java
            from lucene_solr_spark.query.datemath import parse as _dm

            def _range_bound(raw, which):
                raw = str(raw)
                if raw.startswith("NOW"):
                    if "NOW" not in params:
                        raise ValueError(
                            f"facet.range.{which} uses DateMath "
                            "relative to NOW: pin it with the NOW "
                            "param (epoch millis), like Solr's "
                            "coordinator does for every shard")
                    import datetime as _dtmod
                    now_dt = _dtmod.datetime.utcfromtimestamp(
                        int(params["NOW"]) / 1000.0)
                    return _dm(raw, now=now_dt)
                return _parse_solr_date(raw)

            r_start = _range_bound(params["facet.range.start"], "start")
            r_end = _range_bound(params["facet.range.end"], "end")
            r_gap = str(params["facet.range.gap"])
            if not re.fullmatch(r"\+\d+[A-Z]+", r_gap):
                raise ValueError(
                    f"facet.range.gap on ts must be a +<n><UNIT> "
                    f"DateMath step, got {r_gap!r}")
            if _dm(f"NOW{r_gap}", now=r_start) <= r_start:
                raise ValueError("facet.range.gap must advance time")
            if r_end <= r_start:
                raise ValueError("facet.range needs end > start")
        else:
            try:
                r_start = int(params["facet.range.start"])
                r_end = int(params["facet.range.end"])
                r_gap = int(params["facet.range.gap"])
            except (TypeError, ValueError):
                raise ValueError(
                    "facet.range.start/end/gap must be integers") from None
            if r_gap <= 0 or r_end <= r_start:
                raise ValueError(
                    "facet.range needs gap > 0 and end > start")
        # facet.range.hardend (RangeFacetRequest): when (end-start)
        # isn't a gap multiple, hardend=false (the Solr default) lets
        # the LAST bucket run its full gap width past end (docs in
        # [end, start+n*gap) count there); hardend=true clips it at
        # end. Numeric path only — the date path stays pinned
        # hardend=false.
        r_hardend = bool(params.get("facet.range.hardend", False))
        if "facet.range.hardend" in params and fld == "ts":
            raise ValueError("facet.range.hardend applies to numeric "
                             "ranges (the date path is pinned "
                             "hardend=false)")
        facet_range = (fld, r_start, r_end, r_gap, r_hardend, rf_ex)
    elif range_subs & set(params):
        raise ValueError("facet.range.start/end/gap need facet.range")
    elif "facet.range.hardend" in params:
        raise ValueError("facet.range.hardend needs facet.range")
    # facet.range.other (FacetRangeOther): the before/after/between
    # special counts alongside the buckets — 'all' or a comma list
    facet_range_other: tuple = ()
    if "facet.range.other" in params:
        if facet_range is None:
            raise ValueError("facet.range.other needs facet.range")
        raw_o = str(params["facet.range.other"])
        kinds = (
            ("before", "after", "between") if raw_o == "all"
            else tuple(k.strip() for k in raw_o.split(",") if k.strip())
        )
        bad = set(kinds) - {"before", "after", "between"}
        if bad or not kinds:
            raise ValueError(
                f"facet.range.other wants all|before|after|between, "
                f"got {raw_o!r}")
        facet_range_other = kinds
    # classic facet.pivot (PivotFacetProcessor): one 2- or 3-level
    # pivot over ord-indexed fields; facet.limit bounds every level
    facet_pivot = None
    if "facet.pivot" in params:
        raw_pivot = str(params["facet.pivot"])
        pivot_ex: tuple = ()
        pivot_key = None
        lm = re.match(r"^(\{![^{}]+\})(.+)$", raw_pivot)
        if lm:
            # {!ex=tags key=alias}f1,f2 — the same QueryParsing local
            # params facet.field takes: ex drops the tagged fq
            # constraints from the pivot leg's own domain (the
            # multi-select pivot), key renames the response entry
            for tok in lm.group(1)[2:-1].split():
                if "=" not in tok:
                    raise ValueError(
                        f"facet.pivot: bad local param {tok!r}")
                k, v = tok.split("=", 1)
                if k == "ex":
                    exs: set[str] = set()
                    for tag in v.split(","):
                        if tag not in tag_fields:
                            raise ValueError(
                                f"facet.pivot: unknown ex tag {tag!r} "
                                f"(declared: {sorted(tag_fields)})")
                        exs |= tag_fields[tag]
                    pivot_ex = tuple(sorted(exs))
                elif k == "key":
                    if not re.fullmatch(r"\w+", v):
                        raise ValueError(f"facet.pivot: bad key {v!r}")
                    pivot_key = v
                else:
                    raise ValueError(
                        f"facet.pivot: unknown local param {k!r} "
                        "(ex, key)")
            raw_pivot = lm.group(2)
        parts = [p.strip() for p in raw_pivot.split(",")]
        if (len(parts) not in (2, 3)
                or not all(p in _FACETABLE for p in parts)):
            raise ValueError(
                f"facet.pivot must name two or three of "
                f"{sorted(_FACETABLE)} comma-separated, got "
                f"{params['facet.pivot']!r}")
        if len(set(parts)) != len(parts):
            raise ValueError("facet.pivot fields must differ")
        facet_pivot = (tuple(parts), pivot_ex,
                       pivot_key or ",".join(parts))
    # classic facet.interval (IntervalFacets): arbitrary, possibly
    # OVERLAPPING inclusive [lo,hi] sets over a numeric docvalues
    # column — a doc counts in EVERY containing interval
    facet_interval = None
    if "facet.interval" in params:
        fld = params["facet.interval"]
        if fld not in _AGG_COLS:
            raise ValueError(f"facet.interval field must be one of "
                             f"{sorted(_AGG_COLS)}, got {fld!r}")
        sets = params.get("facet.interval.set", [])
        if isinstance(sets, str):
            sets = [sets]
        if not sets:
            raise ValueError("facet.interval needs facet.interval.set")
        ivals = []
        for raw in sets:
            m = re.fullmatch(r"\[(-?\d+),(-?\d+)\]", str(raw).strip())
            if not m or int(m.group(1)) > int(m.group(2)):
                raise ValueError(
                    f"facet.interval.set entries must be [lo,hi] with "
                    f"lo <= hi: {raw!r}")
            ivals.append((str(raw).strip(), int(m.group(1)),
                          int(m.group(2))))
        facet_interval = (fld, tuple(ivals))
    elif "facet.interval.set" in params:
        raise ValueError("facet.interval.set needs facet.interval")
    # StatsComponent leg: stats.field lists numeric docvalues columns
    stats_fields = params.get("stats.field", [])
    if isinstance(stats_fields, str):
        stats_fields = [stats_fields]
    if stats_fields and not params.get("stats", False):
        raise ValueError("stats.field needs stats=true")
    if params.get("stats", False) and not stats_fields:
        raise ValueError("stats=true needs at least one stats.field")
    for sf in stats_fields:
        # ts gets the DATE stats shape (StatsValuesFactory
        # DateStatsValues): min/max/count/missing — ordering
        # aggregates only, no sum/mean/stddev arithmetic on instants.
        # String docvalues fields get the StringStatsValues shape:
        # lexicographic min/max + count/missing, same ordering-only
        # family (ref: solr/core/src/java/org/apache/solr/handler/
        # component/StatsValuesFactory.java StringStatsValues)
        if sf not in _AGG_COLS | {"ts"} | _FACETABLE:
            raise ValueError(
                f"stats.field must be one of "
                f"{sorted(_AGG_COLS | {'ts'} | _FACETABLE)}, got {sf!r}")
    # stats.facet: per-facet-value stats sub-blocks (the classic
    # pre-json.facet spelling; single-valued group fields only, like
    # StatsValuesFactory's facet handling)
    stats_facet = params.get("stats.facet")
    # stats.calcdistinct=true (StatsComponent): adds countDistinct to
    # every stats block. The distinctValues LIST half of Solr's param
    # is deliberately omitted — materializing every distinct value in
    # a response is an anti-feature at corpus scale; the count is the
    # algebraic (partial-aggregating) part.
    stats_calcdistinct = bool(params.get("stats.calcdistinct", False))
    if stats_calcdistinct and not stats_fields:
        raise ValueError("stats.calcdistinct needs stats=true + stats.field")
    if stats_facet is not None:
        if not stats_fields:
            raise ValueError("stats.facet needs stats=true + stats.field")
        if stats_facet not in _GROUPABLE:
            raise ValueError(f"stats.facet must be one of "
                             f"{sorted(_GROUPABLE)}, got {stats_facet!r}")
    # result-grouping leg (Grouping, group.field command): the subset
    # pins the score-ranked default (groups ordered by their best
    # doc's score; rows = number of groups, start must be 0)
    group = None
    group_queries: tuple = ()
    group_format = "grouped"
    group_main = False
    if params.get("group", False) and "group.query" in params:
        # Grouping CommandQuery: each group.query value defines ONE
        # group — its doclist is the main result FILTERED to that
        # query's match set, ordered by the main rank; groups present
        # in request order (Solr runs one collector per command).
        # ref: solr/core/src/java/org/apache/solr/search/Grouping.java
        # (CommandQuery)
        if {"group.field", "group.func"} & set(params):
            raise ValueError("group.query and group.field/group.func "
                             "are separate Grouping commands — one per "
                             "request here")
        bad_subs = {"group.offset", "group.main", "group.format",
                    "group.ngroups", "group.sort"} & set(params)
        if bad_subs:
            raise ValueError(f"group.query supports group.limit only "
                             f"(got {sorted(bad_subs)})")
        if sort_key is not None:
            raise ValueError("group=true supports the score-ranked "
                             "default sort only")
        gq_raw = params["group.query"]
        gq_list = [gq_raw] if isinstance(gq_raw, str) else list(gq_raw)
        if not gq_list:
            raise ValueError("group.query needs at least one query")
        gq_limit = int(params.get("group.limit", 1))
        if gq_limit < 1:
            raise ValueError(f"group.limit must be >= 1: {gq_limit}")
        group_queries = tuple(
            (raw, parse(str(raw), default_op="AND")) for raw in gq_list
        )
        group = None
        group_ngroups = False
    elif params.get("group", False):
        g_field = params.get("group.field")
        # group.func (Grouping CommandFunc): groups keyed by a
        # ValueSource over docvalues — the pinned subset is
        # floor(div(<numeric field>, N)), computed once in the scan
        # projection (the same two-pass shape as field grouping).
        # ref: solr/core/src/java/org/apache/solr/search/Grouping.java
        # (CommandFunc)
        g_func = None
        if "group.func" in params:
            if g_field is not None:
                raise ValueError("group.field and group.func are "
                                 "separate Grouping commands — one per "
                                 "request here")
            mf = re.fullmatch(r"floor\(div\((\w+),(\d+)\)\)",
                              str(params["group.func"]))
            if not mf or mf.group(1) not in _AGG_COLS \
                    or int(mf.group(2)) < 1:
                raise ValueError(
                    f"group.func supports floor(div(<numeric docvalues"
                    f" field>, N)): {params['group.func']!r}")
            g_func = (mf.group(1), int(mf.group(2)))
            g_field = "g_func"
        elif g_field not in _GROUPABLE:
            raise ValueError(f"group.field must be one of "
                             f"{sorted(_GROUPABLE)}, got {g_field!r}")
        g_limit = int(params.get("group.limit", 1))
        if g_limit < 1:
            raise ValueError(f"group.limit must be >= 1: {g_limit}")
        # group.offset: skip the first N docs WITHIN each group's
        # doclist (Grouping's groupOffset — orthogonal to start,
        # which offsets the GROUPS)
        g_offset = int(params.get("group.offset", 0))
        if g_offset < 0:
            raise ValueError(f"group.offset must be >= 0: {g_offset}")
        if sort_key is not None:
            raise ValueError("group=true supports the score-ranked "
                             "default sort only")
        # group.sort: the WITHIN-group doclist order (Grouping's
        # withinGroupSort) — orthogonal to `sort`, which orders the
        # GROUPS (pinned score-ranked here, matching the head pick).
        # Default = the main sort (score desc), Solr's default.
        g_sort_raw = params.get("group.sort", "score desc")
        if g_sort_raw == "score desc":
            g_sort = None
        else:
            gparts = str(g_sort_raw).split()
            if (len(gparts) != 2 or gparts[0] not in _SORTABLE
                    or gparts[1] not in ("asc", "desc")):
                raise ValueError(
                    f"unsupported group.sort: {g_sort_raw!r} (score "
                    f"desc or <docvalues field> asc|desc)")
            g_sort = (gparts[0], gparts[1] == "asc")
        # start/rows page the GROUPS in group mode (Grouping's
        # getGroups offset — the doclist-level page has no meaning
        # when the response is a groups list)
        group = (g_field, g_limit, start, g_offset, g_sort, g_func)
        # group.ngroups=true: the total number of matching groups
        # (distinct group values in the DocSet — one narrow
        # partial-aggregating distinct, Grouping's totalGroupCount)
        group_ngroups = bool(params.get("group.ngroups", False))
        # group.format=simple flattens the doclists into ONE list
        # ordered (group rank, doc rank); group.main=true additionally
        # makes that flat list THE response (Solr: main implies the
        # simple format). ref: solr/core/src/java/org/apache/solr/
        # search/Grouping.java (mainResult / Format.simple)
        group_format = params.get("group.format", "grouped")
        if group_format not in ("grouped", "simple"):
            raise ValueError(f"unknown group.format: {group_format!r}")
        group_main = bool(params.get("group.main", False))
        if group_main:
            group_format = "simple"
            if {"hl", "mlt", "debug"} & set(params):
                raise ValueError(
                    "group.main=true replaces the response doclist; "
                    "hl/mlt/debug legs key on the ungrouped page")
    elif {"group.field", "group.limit", "group.offset", "group.main",
          "group.format", "group.ngroups", "group.sort",
          "group.query", "group.func"} & set(params):
        raise ValueError("group.* params need group=true")
    if group is None:
        group_ngroups = False
    # MoreLikeThis component leg
    mlt = None
    if params.get("mlt", False):
        mlt_count = int(params.get("mlt.count", 5))
        mlt_maxqt = int(params.get("mlt.maxqt", 5))
        if mlt_count < 1 or mlt_maxqt < 1:
            raise ValueError("mlt.count and mlt.maxqt must be >= 1")
        # mlt.mintf / mlt.mindf (MoreLikeThis minTermFreq/minDocFreq):
        # source terms below either gate never become interesting
        # terms. Defaults 1/1 keep every term eligible (Solr's own
        # defaults are 2/5 — callers opt in per request).
        mlt_mintf = int(params.get("mlt.mintf", 1))
        mlt_mindf = int(params.get("mlt.mindf", 1))
        if mlt_mintf < 1 or mlt_mindf < 1:
            raise ValueError("mlt.mintf and mlt.mindf must be >= 1")
        mlt = (mlt_count, mlt_maxqt, mlt_mintf, mlt_mindf,
               bool(params.get("mlt.boost", False)))
    elif {"mlt.count", "mlt.maxqt", "mlt.mintf",
          "mlt.mindf", "mlt.boost"} & set(params):
        raise ValueError("mlt.* params need mlt=true")
    # TermVectorComponent leg: tv=true returns (term, tf) vectors
    # for every PAGE doc off the pinned analyzer stream (the tokens
    # column IS the term-vector store — highlighting/MLT/tv read one
    # representation); tv.df adds the index-wide df per term, and
    # tv.positions the 0-based position list.
    # ref: solr/core/src/java/org/apache/solr/handler/component/
    # TermVectorComponent.java
    tv = None
    if params.get("tv", False):
        tv_tfidf = bool(params.get("tv.tf_idf", False))
        if tv_tfidf and not params.get("tv.df", False):
            # Solr's TermVectorComponent computes tf_idf from the df it
            # just fetched — the pinned subset makes that dependency
            # explicit instead of implicitly flipping df on
            raise ValueError("tv.tf_idf needs tv.df=true")
        tv = (bool(params.get("tv.df", False)),
              bool(params.get("tv.positions", False)),
              tv_tfidf)
    elif {"tv.df", "tv.positions", "tv.tf_idf"} & set(params):
        raise ValueError("tv.df/tv.positions/tv.tf_idf need tv=true")
    # SpellCheck component leg
    spellcheck = None
    if params.get("spellcheck", False):
        sc_count = int(params.get("spellcheck.count", 5))
        if sc_count < 1:
            raise ValueError(f"spellcheck.count must be >= 1: {sc_count}")
        # spellcheck.maxQueryFrequency (DirectSolrSpellChecker): a q
        # term is treated as misspelled when its df <= the threshold
        # (absolute count). Default 0 = the strictest gate (suggest
        # only for dictionary-ABSENT terms). Suggestions must be MORE
        # POPULAR than the input term (Lucene DirectSpellChecker's
        # docfreq > termfreq rule) — vacuous at the default.
        sc_maxqf = int(params.get("spellcheck.maxQueryFrequency", 0))
        if sc_maxqf < 0:
            raise ValueError(
                f"spellcheck.maxQueryFrequency must be >= 0: {sc_maxqf}")
        # spellcheck.alternativeTermCount (context-sensitive spell
        # check): PRESENT terms (df above maxQueryFrequency) also get
        # up to this many alternatives; 0 (default) keeps the
        # absent/low-df-only gate. spellcheck.accuracy: minimum
        # normalized similarity 1 - dist/max(|q|,|suggestion|)
        # (org.apache.lucene.search.spell.LevenshteinDistance
        # getDistance); 0.0 (default) keeps every dist<=2 candidate.
        sc_alt = int(params.get("spellcheck.alternativeTermCount", 0))
        if sc_alt < 0:
            raise ValueError(
                f"spellcheck.alternativeTermCount must be >= 0: {sc_alt}")
        sc_acc = float(params.get("spellcheck.accuracy", 0.0))
        if not (0.0 <= sc_acc <= 1.0):
            raise ValueError(
                f"spellcheck.accuracy must be in [0, 1]: {sc_acc}")
        if sc_alt > 0 and params.get("spellcheck.collate", False):
            # the pinned collate contract rewrites MISSPELLED terms
            # only; context-sensitive collation over present-term
            # alternatives is outside the subset
            raise ValueError("spellcheck.collate with "
                             "alternativeTermCount is outside the "
                             "pinned subset")
        spellcheck = (sc_count, bool(params.get("spellcheck.collate", False)),
                      params.get("spellcheck.q"),
                      sc_maxqf,
                      bool(params.get("spellcheck.extendedResults", False)),
                      sc_alt, sc_acc)
    elif {"spellcheck.count", "spellcheck.collate",
          "spellcheck.maxQueryFrequency", "spellcheck.q",
          "spellcheck.extendedResults", "spellcheck.alternativeTermCount",
          "spellcheck.accuracy"} & set(params):
        raise ValueError(
            "spellcheck.count/spellcheck.collate/"
            "spellcheck.maxQueryFrequency/spellcheck.q/"
            "spellcheck.extendedResults/spellcheck.alternativeTermCount/"
            "spellcheck.accuracy "
            "need spellcheck=true")
    # ReRank leg (rq={!rerank ...}): re-scores the score-ranked head
    rerank = None
    if "rq" in params:
        m = _RQ_RE.match(params["rq"])
        if m is None:
            raise ValueError(
                "rq must be {!rerank reRankQuery=$rqq reRankDocs=N "
                "reRankWeight=W}")
        if "rqq" not in params:
            raise ValueError("rq references $rqq but no rqq param given")
        if sort_key is not None:
            raise ValueError("rq re-ranks the score-sorted doclist; "
                             "field sorts cannot combine with rerank")
        if group:
            raise ValueError("rq cannot combine with group=true (the "
                             "group head pick is pinned to main-query rank)")
        rr_spec = parse(params["rqq"], default_op="AND")
        if not rr_spec.scoring_terms:
            raise ValueError("rqq must be a SCORING query (a pure "
                             "filter contributes no rerank score)")
        re_rank_docs = int(m.group(1))
        if re_rank_docs < 1:
            raise ValueError(f"reRankDocs must be >= 1: {re_rank_docs}")
        rerank = (rr_spec, re_rank_docs, float(m.group(2)))
    elif "rqq" in params:
        raise ValueError("rqq needs rq={!rerank ...}")
    debug = bool(params.get("debug", False))
    if debug and rerank:
        raise ValueError("debug=true explains the main ranking; it "
                         "cannot combine with rq (contribs must sum "
                         "to the page scores)")
    if debug and def_type == "edismax":
        # the pf bonus needs the per-doc position machinery
        # (IndexSearcher.explain); the batched debug leg covers the
        # term-scoring contract
        raise ValueError("debug=true supports defType=lucene only")
    # fl= doc transformers (DocTransformers, the [brackets] pseudo-
    # fields): [docid] = the Lucene-internal global doc id (segment
    # docBase + ord — docBases cumulate over segments in seg_id order,
    # exactly SegmentInfos order), [shard] = the owning segment's name
    # (the single-node analog of the shard id Solr injects), [explain]
    # = the per-doc Explanation flattened to "term:contrib" pairs via
    # the BATCHED debug machinery (one pass for the page, never
    # per-doc probes). Plain fl names stay a projection.
    # ref: solr/core/src/java/org/apache/solr/response/transform/
    # DocIdAugmenterFactory.java, ShardAugmenterFactory.java,
    # ExplainAugmenterFactory.java
    fl_raw = params.get("fl")
    fl_entries: list[str] | None = None
    fl_transformers: list[str] = []
    fl_funcs: list[tuple] = []
    if fl_raw is not None:
        parts_fl = (
            _split_fl(fl_raw)
            if isinstance(fl_raw, str) else [str(p) for p in fl_raw]
        )
        #: the pinned stored/docvalues schema a glob may expand to
        #: (SolrReturnFields glob patterns; score stays explicit-only
        #: like Solr's '*' which never implies score)
        _FL_GLOBBABLE = ("conv_id", "turn_idx", "role", "tool",
                         "ftok", "ts", "doc_len")
        fl_entries = []
        for f in parts_fl:
            if f == "*" or (f.endswith("*") and ":" not in f
                            and not f.startswith("[")):
                # fl glob (SolrReturnFields): '*' = every stored/
                # docvalues column of the pinned schema; 'prefix*'
                # narrows by name. A glob matching nothing raises —
                # the engine never silently projects less than asked.
                pre = f[:-1]
                hits = [c for c in _FL_GLOBBABLE if c.startswith(pre)]
                if not hits:
                    raise ValueError(f"fl glob {f!r} matches no field "
                                     f"of {list(_FL_GLOBBABLE)}")
                fl_entries.extend(
                    c for c in hits if c not in fl_entries)
                continue
            if f.startswith("["):
                name = f[1:-1] if f.endswith("]") else ""
                if name not in ("docid", "shard", "explain", "elevated"):
                    raise ValueError(
                        f"unknown fl transformer: {f!r} "
                        "([docid]|[shard]|[explain]|[elevated])")
                fl_transformers.append(name)
                fl_entries.append(name)
            elif ":" in f:
                # function pseudo-field (SolrReturnFields alias:func):
                # the same pinned ValueSource family as {!boost}/sort-
                # by-function — log (log10), sqrt, recip(col,m,a,b)
                # over the numeric docvalues columns, 4dp-rounded
                # (the engine's pinned float rule)
                fl_funcs.append(_parse_fl_func(f))
                fl_entries.append(f.split(":", 1)[0])
            else:
                fl_entries.append(f)
        if "elevated" in fl_transformers and elevate is None:
            raise ValueError("[elevated] needs elevateIds")
        if "explain" in fl_transformers:
            if sort_key is not None:
                raise ValueError("[explain] explains the relevance "
                                 "ranking; it needs the default score "
                                 "sort")
            if rerank is not None or def_type == "edismax":
                raise ValueError("[explain] rides the batched debug "
                                 "machinery: defType=lucene, no rq")
            if elevate is not None:
                raise ValueError("[explain] explains organic scores; "
                                 "elevated pages carry pinned slots")
    # bq (edismax boost query): an ADDITIVE scored SHOULD clause —
    # never changes the match set (the main query stays Occur.MUST in
    # SolrPluginUtils' combined BooleanQuery), score = round(main_4dp
    # + w × bq_4dp, 4dp). ^W on the whole string carries the weight.
    # Incompatible with anything that re-ranks or re-keys the score
    # order downstream (rq, group, collapse, elevate, field sorts) —
    # each pins its own contract to the MAIN-query rank.
    # ref: solr/core/src/java/org/apache/solr/search/DisMaxQParser.java
    # (getBoostQueries) + util/SolrPluginUtils.java (SHOULD clauses)
    bq = None
    if "bq" in params:
        if def_type != "edismax":
            raise ValueError("bq needs defType=edismax")
        for clash, name in ((rerank, "rq"), (group, "group"),
                            (collapse, "{!collapse}"),
                            (elevate, "elevateIds"),
                            (sort_key, "field sort")):
            if clash is not None and clash is not False:
                raise ValueError(f"bq cannot combine with {name} (the "
                                 "downstream contract pins main-query "
                                 "rank)")
        raw_bq = str(params["bq"])
        mw = re.fullmatch(r"(.+?)\^(\d+(?:\.\d+)?)", raw_bq)
        qpart, bq_w = (mw.group(1), float(mw.group(2))) if mw \
            else (raw_bq, 1.0)
        bq_spec = parse(qpart, k=1)
        if not bq_spec.scoring_terms:
            raise ValueError("bq must be a SCORING query (a pure "
                             "filter adds no boost)")
        bq = (bq_spec, bq_w)
    opts = {
        "bq": bq,
        "start": start, "rows": rows,
        "cursor_mark": cursor_mark,
        "wt": wt,
        "fl": fl_entries,
        "fl_transformers": fl_transformers,
        "fl_funcs": fl_funcs,
        "facet_fields": list(facet_fields),
        "facet_limit": int(params.get("facet.limit", 10)),
        "facet_sort": facet_sort,
        "facet_mincount": facet_mincount,
        "facet_prefix": params.get("facet.prefix"),
        "facet_contains": params.get("facet.contains"),
        "facet_contains_ic": bool(
            params.get("facet.contains.ignoreCase", False)),
        "facet_matches": params.get("facet.matches"),
        "facet_missing": bool(params.get("facet.missing", False)),
        "facet_exclude_terms": tuple(
            t.strip()
            for t in str(params.get("facet.excludeTerms", "")).split(",")
            if t.strip()
        ),
        "facet_offset": facet_offset,
        "facet_method": facet_method,
        "facet_exists": facet_exists,
        "facet_overrides": facet_overrides,
        "group_facet": group_facet,
        "collapse": collapse,
        "expand": (expand_rows if expand else None),
        "elevate": elevate,
        "facet_queries": facet_queries,
        "facet_range": facet_range,
        "facet_range_other": facet_range_other,
        "facet_pivot": facet_pivot,
        "facet_interval": facet_interval,
        "stats_fields": list(stats_fields),
        "stats_calcdistinct": stats_calcdistinct,
        "stats_facet": stats_facet,
        "group": group,
        "group_queries": group_queries,
        "group_query_limit": (int(params.get("group.limit", 1))
                              if group_queries else 0),
        "group_format": group_format,
        "group_main": group_main,
        "group_ngroups": group_ngroups,
        "mlt": mlt,
        "tv": tv,
        "spellcheck": spellcheck,
        "debug": debug,
        "rerank": rerank,
        "hl": hl,
        "hl_passages": hl_passages,
        "hl_snippets": hl_snippets,
        "hl_fragsize": hl_fragsize,
        "hl_phrase": hl_phrase,
        "hl_q_spec": hl_q_spec,
        "hl_alternate": hl_alternate,
        "hl_alt_len": hl_alt_len,
        "hl_pre": hl_pre,
        "hl_post": hl_post,
        "sort": sort_key,
        "json_facets": (
            _parse_json_facets(params["json.facet"], tag_fields)
            if "json.facet" in params else {}
        ),
    }
    return spec, opts


def _range_buckets(
    searcher, spec: BooleanSpec, fld: str, start_v: int, end_v: int,
    gap: int, hardend: bool = False,
) -> DataFrame:
    """Numeric range buckets off a docvalues column over the domain
    (RangeFacetProcessor / classic facet.range share this): NON-EMPTY
    buckets only (the engine's pinned range contract), one narrow
    groupBy bounded by (end-start)/gap rows. hardend=false (the Solr
    default) pads the LAST bucket to its full gap width when
    (end-start) isn't a gap multiple; hardend=true clips it at end."""
    c = F.col(fld)
    upper = end_v if hardend else (
        start_v + -(-(end_v - start_v) // gap) * gap
    )
    return (
        searcher.docmap().select("conv_id", "turn_idx", fld)
        .join(searcher.docset(spec), ["conv_id", "turn_idx"])
        .filter((c >= start_v) & (c < upper))
        .groupBy(
            (F.floor((c - start_v) / gap) * gap + start_v)
            .cast("long").alias("bucket_start")
        )
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy("bucket_start")
    )


def _domain_aggs(searcher, spec: BooleanSpec, aggs) -> DataFrame:
    """count + scalar sub-aggs over ONE domain (a query bucket with
    facet sub-aggs): the DocSet keys join the pruned docvalues
    columns and every aggregate runs in a single partial-aggregating
    job. Null semantics match facet_metrics (numeric aggs and unique
    skip missing values; missing/countvals count them)."""
    need = sorted({c for _, c in aggs})
    dom = searcher.docmap().select("conv_id", "turn_idx", *need).join(
        searcher.docset(spec), ["conv_id", "turn_idx"])
    exprs = [F.count(F.lit(1)).cast("long").alias("cnt")]
    for kind, c in aggs:
        col = F.col(c)
        if kind in ("sum", "avg", "min", "max"):
            e = {"sum": F.sum, "avg": F.avg,
                 "min": F.min, "max": F.max}[kind](col)
            e = F.round(e, 4)
        elif kind == "sumsq":
            e = F.round(F.sum(col * col), 4)
        elif kind == "variance":
            e = F.round(F.coalesce(F.var_samp(col), F.lit(0.0)), 4)
        elif kind == "stddev":
            e = F.round(F.coalesce(F.stddev_samp(col), F.lit(0.0)), 4)
        elif kind == "missing":
            e = F.sum(col.isNull().cast("long")).cast("long")
        elif kind == "countvals":
            e = F.count(col).cast("long")
        else:  # unique
            e = F.countDistinct(col).cast("long")
        exprs.append(e.alias(f"{kind}_{c}"))
    return dom.agg(*exprs)


def _range_other(
    searcher, spec: BooleanSpec, fld: str, start_v, end_v, kinds
) -> DataFrame:
    """facet.range.other special counts (FacetRangeOther): before =
    values < start, after = values >= end, between = [start, end) —
    ONE conditional-sum pass over the domain's docvalues column
    (never a rescan per kind); one row, a long column per requested
    kind. ref: solr/core/src/java/org/apache/solr/handler/component/
    RangeFacetProcessor.java (FacetRangeOther)."""
    c = F.col(fld)
    conds = {
        "before": c < F.lit(start_v),
        "after": c >= F.lit(end_v),
        "between": (c >= F.lit(start_v)) & (c < F.lit(end_v)),
    }
    return (
        searcher.docmap().select("conv_id", "turn_idx", fld)
        .join(searcher.docset(spec), ["conv_id", "turn_idx"])
        .agg(*[
            F.sum(conds[k].cast("long")).cast("long").alias(k)
            for k in kinds
        ])
    )


def _parse_solr_date(raw) -> "datetime.datetime":
    """ISO-8601 date literal (Solr's 2024-01-01T00:00:00Z form; the
    space-separated spelling also accepted) → naive UTC datetime."""
    import datetime

    s = str(raw).strip().replace("Z", "+00:00")
    try:
        d = datetime.datetime.fromisoformat(s)
    except ValueError:
        raise ValueError(f"facet.range date must be ISO-8601, "
                         f"got {raw!r}") from None
    if d.tzinfo is not None:
        d = d.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return d


def _date_range_buckets(
    searcher, spec: BooleanSpec, fld: str, start_d, end_d, gap: str
) -> DataFrame:
    """DATE range buckets (RangeFacetProcessor's date path): bucket
    BOUNDS are computed bound-by-bound with the DateMathParser gap —
    exactly Solr's loop, so variable-width +1MONTH gaps clamp
    month-ends correctly — then broadcast as a tiny (lo, hi) frame;
    assignment is one broadcast range join (each doc hits exactly one
    bucket) + a narrow count. NON-EMPTY buckets only (the engine's
    pinned range contract); hardend=false — the last bucket runs to
    start+n*gap. bucket_start is emitted as a STRING (the pinned
    stringify-timestamps rule).
    ref: solr/core/src/java/org/apache/solr/request/
    SimpleFacets.java + facet/FacetRange.java (date gap loop)."""
    from lucene_solr_spark.query.datemath import parse as _dm

    bounds, cur, i = [], start_d, 0
    while cur < end_d:
        nxt = _dm(f"NOW{gap}", now=cur)
        bounds.append((cur, nxt))
        cur = nxt
        i += 1
        if i > 100_000:
            raise ValueError("facet.range on ts: too many buckets")
    bdf = searcher.spark.createDataFrame(
        bounds, "lo timestamp, hi timestamp")
    c = F.col(fld)
    return (
        searcher.docmap().select("conv_id", "turn_idx", fld)
        .join(searcher.docset(spec), ["conv_id", "turn_idx"])
        .join(F.broadcast(bdf), (c >= F.col("lo")) & (c < F.col("hi")))
        .groupBy(F.date_format("lo", "yyyy-MM-dd HH:mm:ss")
                 .alias("bucket_start"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy("bucket_start")
    )


def _encode_wt(page: DataFrame, wt: str) -> DataFrame:
    """Serialize the doclist per ``wt`` (ResponseWriter pick): the
    rows run the real XML / JavaBin codec as a distributed per-batch
    encode; json keeps the typed DataFrame (the Spark-native form)."""
    if wt == "xml":
        from lucene_solr_spark.sources.xml_source import encode_xml
        return encode_xml(page)
    if wt == "javabin":
        from lucene_solr_spark.sources.javabin import encode_rows
        return encode_rows(page)
    if wt == "csv":
        # CSVResponseWriter: one RFC-4180 line per doc in column
        # order (the header IS the column order, known driver-side
        # from the schema — no header row travels with the data);
        # values quote when they contain comma/quote/newline, quotes
        # double, nulls serialize empty. Pure Catalyst — the encode
        # rides the page projection, zero extra passes.
        # ref: solr/core/src/java/org/apache/solr/response/
        # CSVResponseWriter.java
        def _csv_cell(c: str):
            sc = F.col(c).cast("string")
            quoted = F.concat(
                F.lit('"'),
                F.regexp_replace(sc, '"', '""'),
                F.lit('"'),
            )
            return (
                F.when(sc.isNull(), F.lit(""))
                .when(sc.rlike('[",\n]'), quoted)
                .otherwise(sc)
            )

        return page.select(
            F.concat_ws(
                ",", *[_csv_cell(c) for c in page.columns]
            ).alias("csv")
        )
    return page


def select(searcher, params: dict, stored: DataFrame | None = None) -> dict:
    """/select front door. With ``timeAllowed`` (ms) present, the main
    doclist materializes under a Spark job group watched by a cancel
    timer — the ExitableDirectoryReader / SolrIndexSearcher
    timeAllowed contract: a query that exceeds its budget is cut off
    at the scheduler (pending stages cancelled) and the response
    comes back FLAGGED ``partialResults=True`` with an empty doclist
    instead of blocking unboundedly or returning an unflagged wrong
    answer. Inside the budget the response is bit-identical to the
    un-budgeted request (``partialResults=False``). The budget covers
    the main search phase (page + numFound + docset warm), matching
    Solr's collector-level check, and every leg that runs inside
    ``_select_impl``: the facet.field legs fused into the page's pass
    (``IndexSearcher.doc_list_and_set``) and the exact facet.field
    legs, which merge on the driver before returning. Legs returned as
    lazy frames collect outside it.

    ref: lucene/core/src/java/org/apache/lucene/index/
         ExitableDirectoryReader.java,
         solr/core/src/java/org/apache/solr/search/
         SolrIndexSearcher.java (timeAllowed / partialResults)"""
    ta = params.get("timeAllowed")
    if ta is None:
        return _select_impl(searcher, params, stored)
    ta = int(ta)
    if ta <= 0:
        raise ValueError(f"timeAllowed must be a positive ms count: {ta}")
    import threading
    import uuid

    import pandas as pd

    from lucene_solr_spark.query.executor import local_frame

    inner = {k: v for k, v in params.items() if k != "timeAllowed"}
    sc = searcher.spark.sparkContext
    gid = f"timeAllowed-{uuid.uuid4().hex}"
    fired = [False]

    def _cancel():
        fired[0] = True
        sc.cancelJobGroup(gid)

    timer = threading.Timer(ta / 1000.0, _cancel)
    sc.setJobGroup(gid, f"/select timeAllowed={ta}ms")
    timer.start()
    try:
        out = _select_impl(searcher, inner, stored)
        resp = out["response"]
        # materialize the bounded page inside the budget so partiality
        # is decided here, not at some later caller-side collect; the
        # rows come back as a pandas-built table (no job on collect)
        out["response"] = local_frame(
            searcher.spark,
            pd.DataFrame.from_records(resp.collect(), columns=resp.columns),
            resp.schema,
        )
        # cancelJobGroup only aborts ACTIVE jobs — a cancel landing
        # between two jobs lets the rest run to completion. The
        # contract stays honest: budget elapsed ⇒ flagged, even when
        # the late result happens to be complete (Solr flags whenever
        # the timeAllowed check trips, too).
        out["partialResults"] = fired[0]
        return out
    except Exception:
        if not fired[0]:
            raise  # a real error, not the budget
        return {
            "response": searcher.spark.createDataFrame(
                [], "conv_id string, turn_idx int, score double"
            ),
            "numFound": 0,
            "facet_counts": {},
            "partialResults": True,
        }
    finally:
        timer.cancel()
        # detach this thread from the group so a late-firing cancel
        # (or the group id lingering) can never hit a later query
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _ranked_keys(spark, page_keys: DataFrame) -> DataFrame:
    """The page's (conv_id, turn_idx) with their page rank ``rn``,
    collected once (the bounded page Solr materializes too) into a
    driver-side table: legs that join it no longer re-run the page's
    plan, and ``rn`` orders their output."""
    import pandas as pd

    rows = page_keys.collect()
    return spark.createDataFrame(
        pd.DataFrame({
            "conv_id": pd.array([r.conv_id for r in rows], dtype=object),
            "turn_idx": pd.array([r.turn_idx for r in rows], dtype="int32"),
            "rn": pd.array(range(len(rows)), dtype="int64"),
        }),
        "conv_id string, turn_idx int, rn long",
    )


def _facet_field_legs(searcher, o: dict) -> list:
    """The facet.field legs as engine requests: ``(out key,
    FacetRequest, {!ex} fields)`` in request order."""
    from lucene_solr_spark.query.facets import FacetRequest

    legs = []
    for fld, ex_fields, out_key in o["facet_fields"]:
        # f.<field>.facet.<opt> overrides win over the request-wide
        # facet.<opt> for this one field (SolrParams.getFieldParam)
        ov = o.get("facet_overrides", {}).get(fld, {})
        f_lim = ov.get("limit", o["facet_limit"])
        if f_lim == -1:
            # facet.limit=-1 (SimpleFacets UNLIMITED): resolve to the
            # field's dictionary cardinality (a cached driver-side
            # read), so the request stays explicitly bounded instead
            # of an open-ended collect
            f_lim = searcher.field_cardinality(fld)
        elif f_lim < 1:
            raise ValueError(
                f"facet.limit must be >= 1 or -1 (unlimited): {f_lim}")
        legs.append((out_key, FacetRequest(
            field=fld,
            limit=f_lim,
            mincount=ov.get("mincount", o["facet_mincount"]),
            sort=ov.get("sort", o["facet_sort"]),
            missing=o["facet_missing"],
            prefix=ov.get("prefix", o["facet_prefix"]),
            contains=ov.get("contains", o.get("facet_contains")),
            contains_ignore_case=o.get("facet_contains_ic", False),
            matches=ov.get("matches", o.get("facet_matches")),
            group_by="conv_id" if o.get("group_facet") else None,
            offset=ov.get("offset", o["facet_offset"]),
            exclude_terms=tuple(o["facet_exclude_terms"]),
        ), ex_fields))
    return legs


def _select_impl(
    searcher, params: dict, stored: DataFrame | None = None
) -> dict:
    """Run the composed request; returns ``{"response": DataFrame,
    "numFound": int, "facet_counts": {field: DataFrame}}``.

    Paging stays distributed-bounded: the engine retrieves the
    start+rows head (what Solr's distributed merge heap holds), and
    the offset slices it inside the same TakeOrdered (limit start+rows,
    offset start) — never a global sort, never a window; only the tv
    and hl legs collect the ≤ rows page keys, once.
    A field sort orders the match DocSet by index docvalues instead
    of score (keys join the pruned docmap columns, the limit turns
    the order into a distributed TakeOrdered top-k — still never a
    global sort). numFound is the full DocSet count (Solr's
    numFound), one bounded count job over the same masked domain.
    Facets run the index sparse-counting engine over the SAME spec
    (hits + fq), so multi-component responses stay
    one-domain-consistent.

    A score-sorted page with facet.field legs over the request's own
    domain (no ``{!ex}``) whose counts merge exactly
    (``facets.use_refine`` False) is ``getDocListAndSet``: one
    per-segment pass scores the page and counts those legs
    (``IndexSearcher.doc_list_and_set``), the driver merges both, and
    they come back as pandas-built tables — on a cached key that is
    the request's one Spark job, run inside the timeAllowed budget."""
    import pandas as pd

    from lucene_solr_spark.query.executor import (
        RESULT_SCHEMA, _exclude_filter_fields, local_frame,
    )
    from lucene_solr_spark.query.facets import (
        FACET_SCHEMA, facet_field, use_refine,
    )

    spec, o = parse_select_params(params)
    if o["cursor_mark"] is not None:
        # keyset page: one distributed TakeOrdered of rows past the
        # mark (page cost does not grow with depth); the page
        # materializes driver-side (≤ rows rows, the same bounded
        # collect the distributed merge performs) so nextCursorMark
        # serializes without re-running the plan
        (mark,) = o["cursor_mark"]
        if o["sort"] is not None:
            # FIELD-sort cursor (r5): keyset page over the request's
            # clause order + pinned tiebreaks; the mark serializes
            # the full clause list's values
            clauses_c, _ = o["sort"]
            page = searcher.cursor_page_fields(
                spec, clauses_c, k=o["rows"],
                cursor=None if mark == "*" else mark,
            )
            page_rows = page.collect()
            if page_rows:
                last = page_rows[-1]
                full_c = searcher.cursor_clauses(clauses_c)
                next_mark = "|".join(
                    str(getattr(last, f)) for f, _ in full_c
                )
            else:
                next_mark = params["cursorMark"]
            page_df = local_frame(
                searcher.spark,
                pd.DataFrame.from_records(page_rows, columns=page.columns),
                page.schema,
            )
            return {
                "response": _encode_wt(page_df, o["wt"]),
                "numFound": searcher.docset_count(spec),
                "nextCursorMark": next_mark,
            }
        page_rows = searcher.cursor_page(
            spec, k=o["rows"],
            cursor=None if mark == "*" else mark, round_to=4,
        ).collect()
        if page_rows:
            last = page_rows[-1]
            next_mark = f"{last.score}|{last.conv_id}|{last.turn_idx}"
        else:
            # exhausted: Solr signals the end by echoing the request's
            # mark back unchanged
            next_mark = params["cursorMark"]
        page_df = local_frame(
            searcher.spark,
            pd.DataFrame.from_records(
                [(r.conv_id, r.turn_idx, r.score) for r in page_rows],
                columns=["conv_id", "turn_idx", "score"],
            ),
            RESULT_SCHEMA,
        )
        return {
            "response": _encode_wt(page_df, o["wt"]),
            "numFound": searcher.docset_count(spec),
            "nextCursorMark": next_mark,
        }
    if (o["facet_fields"] or o["json_facets"] or o["facet_queries"]
            or o["facet_range"] or o["facet_pivot"] or o["stats_fields"]
            or o["facet_interval"]):
        # multi-component request: ONE getDocSet pass (per-segment hit
        # bitsets) serves numFound as a driver-side popcount and every
        # facet/stats leg's domain — the queryResultCache population
        # Solr does per request (see IndexSearcher.cache_docset)
        searcher.cache_docset(spec)
    ff_legs = _facet_field_legs(searcher, o)
    ff_refine = o["facet_method"] != "exact"
    ff_method = o["facet_method"] if ff_refine else "auto"
    # facet.field legs over the request's own domain (no {!ex}) that
    # merge exactly ride the score-sorted page's per-segment pass
    fusable = [
        (key, req) for key, req, ex in ff_legs
        if not ex and not use_refine(searcher, req, ff_refine, ff_method)
    ]
    fused_counts: dict = {}
    ranked_c = None
    elev_numfound = None
    if o["elevate"] is not None:
        # QueryElevationComponent leg: pinned slots in list order for
        # the PRESENT elevated ids (index view, so tombstoned docs
        # drop out), organic hits (minus exclusions and elevated ids)
        # fill the remaining start+rows slots; the page slices the
        # combined slot order. numFound = organic hit count + elevated
        # rows (Solr counts force-elevated non-matching docs too).
        elev_ids, excl_ids = o["elevate"]
        elev = local_frame(
            searcher.spark,
            pd.DataFrame.from_records(
                [(c, t, i + 1) for i, (c, t) in enumerate(elev_ids)],
                columns=["conv_id", "turn_idx", "slot"],
            ),
            "conv_id string, turn_idx int, slot int",
        )
        e_hits = searcher.score_hits(spec, k=None).withColumn(
            "score", F.round("score", 4)
        )
        if excl_ids:
            excl = local_frame(
                searcher.spark,
                pd.DataFrame.from_records(
                    list(excl_ids), columns=["conv_id", "turn_idx"]),
                "conv_id string, turn_idx int")
            e_hits = e_hits.join(
                F.broadcast(excl), ["conv_id", "turn_idx"], "left_anti")
        elevated = (
            elev.join(searcher.docmap().select("conv_id", "turn_idx"),
                      ["conv_id", "turn_idx"], "left_semi")
            .join(e_hits, ["conv_id", "turn_idx"], "left")
            .select("conv_id", "turn_idx", "score",
                    F.col("slot").cast("long").alias("slot"))
        )
        n_elev = elevated.count()
        organic_pool = e_hits.join(
            F.broadcast(elev.select("conv_id", "turn_idx")),
            ["conv_id", "turn_idx"], "left_anti",
        )
        elev_numfound = organic_pool.count() + n_elev
        ow = Window.orderBy(F.desc("score"), "conv_id", "turn_idx")
        organic = (
            organic_pool
            .orderBy(F.desc("score"), "conv_id", "turn_idx")
            .limit(max(0, o["start"] + o["rows"] - n_elev))
            .select("conv_id", "turn_idx", "score",
                    (F.row_number().over(ow) + n_elev)
                    .cast("long").alias("slot"))
        )
        order = [F.asc("slot")]
        head = elevated.unionByName(organic).orderBy(*order)
    elif o["collapse"] is not None:
        # CollapsingQParser leg: per-key best-scoring head (rounded
        # score desc, doc-key tiebreak — an engine-independent
        # boundary), then the normal paging over the heads. The
        # window partitions BY THE COLLAPSE KEY (parallel across
        # groups, never a single-partition frame) and numFound is the
        # GROUP count, Solr's collapsed numFound.
        key_c, selector_c, null_policy = o["collapse"]
        hits_c = searcher.score_hits(spec, k=None).withColumn(
            "score", F.round("score", 4)
        )
        dm_need = {key_c} | ({selector_c[1]} if selector_c else set())
        dm_need -= {"conv_id", "turn_idx"}
        if dm_need:
            hits_c = hits_c.join(
                searcher.docmap().select(
                    "conv_id", "turn_idx", *sorted(dm_need)),
                ["conv_id", "turn_idx"],
            )
        # nullPolicy (CollapsingQParser): ignore drops null-key docs
        # (Solr's default), collapse groups them as ONE null group
        # (Spark windows already partition nulls together), expand
        # passes each through as its own head
        null_pass = None
        if null_policy == "ignore":
            hits_c = hits_c.filter(F.col(key_c).isNotNull())
        elif null_policy == "expand":
            null_pass = hits_c.filter(F.col(key_c).isNull())
            hits_c = hits_c.filter(F.col(key_c).isNotNull())
        # head pick: score order by default; min/max selectors order
        # by the numeric docvalues first (pinned tiebreak: score desc,
        # doc key — Solr breaks ties by first docid, an index-order
        # artifact this engine replaces with its total order)
        sel_order = []
        if selector_c is not None:
            kind_c, col_c = selector_c
            sel_order = [F.desc(col_c) if kind_c == "max"
                         else F.asc(col_c)]
        cw = Window.partitionBy(key_c).orderBy(
            *sel_order, F.desc("score"),
            F.asc("conv_id"), F.asc("turn_idx")
        )
        ranked_c = hits_c.withColumn("crn", F.row_number().over(cw))
        order = [F.desc("score"), F.asc("conv_id"), F.asc("turn_idx")]
        heads_c = ranked_c.filter(F.col("crn") == 1).select(
            "conv_id", "turn_idx", "score")
        if null_pass is not None:
            heads_c = heads_c.unionByName(
                null_pass.select("conv_id", "turn_idx", "score"))
        coll_numfound = heads_c.count()
        head = heads_c.orderBy(*order).limit(o["start"] + o["rows"])
    elif o["sort"] is None:
        if o["bq"] is not None:
            # bq leg: FULL main hits (k=None — an additive bonus
            # lands after term accumulation, so WAND's term-only
            # upper bounds can't prune, same rule as pf) left-joined
            # to the bq query's hits, one pinned TakeOrdered after
            bq_spec, bq_w = o["bq"]
            main_h = searcher.score_hits(spec, k=None).withColumn(
                "score", F.round("score", 4))
            sub_h = (
                searcher.score_hits(bq_spec, k=None)
                .select("conv_id", "turn_idx",
                        F.round("score", 4).alias("bq_score"))
            )
            head = (
                main_h.join(sub_h, ["conv_id", "turn_idx"], "left")
                .select(
                    "conv_id", "turn_idx",
                    F.round(
                        F.col("score")
                        + bq_w * F.coalesce(F.col("bq_score"),
                                            F.lit(0.0)),
                        4,
                    ).alias("score"),
                )
                .orderBy(F.desc("score"), F.asc("conv_id"),
                         F.asc("turn_idx"))
                .limit(o["start"] + o["rows"])
            )
        elif o["rerank"] is not None:
            # rq leg: the head is the main query's top reRankDocs
            # re-scored (bounded second pass, broadcast join-back);
            # paging slices the COMBINED order, numFound stays the
            # main DocSet count (rerank never changes the match set)
            rr_spec, re_rank_docs, rr_weight = o["rerank"]
            head = searcher.rerank(
                spec, rr_spec, re_rank_docs, rr_weight,
                k=spec.k, round_to=4,
            )
        elif o["rows"] == 0 and not spec.scoring_terms and not spec.phrases:
            # q.alt MatchAll (component-only shape): no scoring
            # clauses exist, so there is no head to rank — the
            # component legs (numFound, facets, stats) run over the
            # spec's DocSet domain below
            head = local_frame(
                searcher.spark,
                pd.DataFrame(columns=["conv_id", "turn_idx", "score"]),
                RESULT_SCHEMA)
        elif fusable:
            # getDocListAndSet: the start+rows head and the fusable
            # facet.field counts from ONE per-segment pass, both merged
            # on the driver into pandas-built tables (no job on collect)
            top, counts = searcher.doc_list_and_set(
                spec, spec.k, 4, [req for _, req in fusable])
            head = local_frame(searcher.spark, top, RESULT_SCHEMA)
            fused_counts = {
                key: local_frame(searcher.spark, c, FACET_SCHEMA)
                for (key, _), c in zip(fusable, counts)
            }
        else:
            head = searcher.search(spec, round_to=4)
        order = [F.desc("score"), F.asc("conv_id"), F.asc("turn_idx")]
    else:
        clauses, missing = o["sort"]
        keys = []
        for fld, asc in clauses:
            if missing == "last":
                keys.append(F.asc_nulls_last(fld) if asc
                            else F.desc_nulls_last(fld))
            elif missing == "first":
                keys.append(F.asc_nulls_first(fld) if asc
                            else F.desc_nulls_first(fld))
            else:
                # Lucene default: missing = lowest value (Spark's
                # default null ordering matches: nulls first asc,
                # last desc)
                keys.append(F.asc(fld) if asc else F.desc(fld))
        order = keys + [F.asc("conv_id"), F.asc("turn_idx")]
        dm_cols = ["conv_id", "turn_idx"] + sorted(
            {fld for fld, _ in clauses} - {"conv_id", "turn_idx"}
        )
        head = (
            searcher.docmap().select(*dm_cols)
            .join(searcher.docset(spec), ["conv_id", "turn_idx"])
            .orderBy(*order)
            .limit(o["start"] + o["rows"])
        )
    # every head above is ordered by `order` (and bounded by start+rows
    # except the elevate union): the page is its slice past `start`,
    # one TakeOrdered with an offset — no window, never a global sort
    page = head.offset(o["start"])
    page_keys = page.select("conv_id", "turn_idx")
    # tv/hl present per-doc rows in page order: they join the page
    # keys ranked once on the driver (≤ rows rows), not in a window
    ranked_keys = (
        _ranked_keys(searcher.spark, page_keys)
        if o["tv"] or o["hl"] else None
    )
    if o["fl_transformers"]:
        aug = page
        if {"docid", "shard"} & set(o["fl_transformers"]):
            # one broadcast of the page keys against the pruned docmap
            # (seg_id, doc_ord) columns; segment metadata (name,
            # docBase) is a tiny manifest-derived frame
            segs = sorted(
                (int(sd["part"]), name, int(sd["n_docs"]))
                for name, sd in searcher.manifest.segments.items()
            )
            bases, acc = [], 0
            for sid, name, nd in segs:
                bases.append((sid, name, acc))
                acc += nd
            seg_meta = F.broadcast(searcher.spark.createDataFrame(
                bases, "seg_id int, shard string, doc_base long"
            ))
            locs = (
                searcher.docmap()
                .select("conv_id", "turn_idx", "seg_id", "doc_ord")
                .join(F.broadcast(page_keys), ["conv_id", "turn_idx"])
                .join(seg_meta, "seg_id")
                .select(
                    "conv_id", "turn_idx", "shard",
                    (F.col("doc_base") + F.col("doc_ord"))
                    .cast("long").alias("docid"),
                )
            )
            aug = aug.join(locs, ["conv_id", "turn_idx"], "left")
        if "elevated" in o["fl_transformers"]:
            # [elevated] augmenter: true iff the doc is one of the
            # request's elevateIds (a literal-set membership — the
            # elevate list is request-bounded)
            elev_ids, _ = o["elevate"]
            keys_lit = [f"{c}#{t}" for c, t in elev_ids]
            aug = aug.withColumn(
                "elevated",
                F.concat_ws(
                    "#", "conv_id", F.col("turn_idx").cast("string")
                ).isin(keys_lit),
            )
        if "explain" in o["fl_transformers"]:
            contribs = searcher.explain_batch(
                spec,
                [(r.conv_id, r.turn_idx) for r in page_keys.collect()],
                round_to=4,
            )
            per_doc = contribs.groupBy("conv_id", "turn_idx").agg(
                F.array_join(
                    F.sort_array(F.collect_list(
                        F.format_string("%s:%.4f", "term", "contrib")
                    )),
                    "; ",
                ).alias("explain")
            )
            aug = aug.join(per_doc, ["conv_id", "turn_idx"], "left")
        page = aug.orderBy(*order)
    if o["fl"]:
        func_aliases = {a for a, _, _ in o.get("fl_funcs", ())}
        bad_alias = func_aliases & set(page.columns)
        if bad_alias:
            raise ValueError(
                f"fl pseudo-field alias collides with a real column: "
                f"{sorted(bad_alias)}")
        func_bases = [c for _, c, _ in o.get("fl_funcs", ())
                      if c not in page.columns]
        missing_fl = [f for f in o["fl"]
                      if f not in page.columns and f not in func_aliases]
        missing_fl += [c for c in func_bases if c not in missing_fl]
        if missing_fl:
            # stored/docvalues fl fields on a score-sorted page
            # hydrate via ONE page-bounded join: ≤ start+rows keys
            # broadcast against the PRUNED docmap columns (Solr's
            # per-page stored-fields fetch); the page's own sort keys
            # restore its order after the join
            dm_all = set(searcher.docmap().columns)
            bad_fl = [f for f in missing_fl if f not in dm_all]
            if bad_fl:
                raise ValueError(
                    f"unknown fl fields: {sorted(bad_fl)}")
            vals = (
                searcher.docmap()
                .select("conv_id", "turn_idx", *missing_fl)
                .join(F.broadcast(page_keys), ["conv_id", "turn_idx"])
            )
            page = page.join(
                F.broadcast(vals), ["conv_id", "turn_idx"], "left"
            ).orderBy(*order)
        for alias, _, fn in o.get("fl_funcs", ()):
            page = page.withColumn(alias, fn(searcher))
        page = page.select(*o["fl"])
    page = _encode_wt(page, o["wt"])
    out: dict = {
        "response": page,
        # collapsed numFound = the GROUP count (one bounded distinct
        # over the hit keys); otherwise the full DocSet cardinality
        "numFound": (
            elev_numfound if elev_numfound is not None
            else coll_numfound if ranked_c is not None
            else searcher.docset_count(spec)
        ),
        "facet_counts": {},
    }
    if o["expand"] is not None:
        # ExpandComponent leg: the PAGE's groups get their next
        # expand.rows best docs (head excluded) from a second pass of
        # the same key-partitioned rank — Solr's ExpandComponent also
        # re-queries the collapsed groups after the main pass
        n_exp = o["expand"]
        key_c = o["collapse"][0]
        pg = page_keys
        if key_c not in ("conv_id", "turn_idx"):
            pg = pg.join(
                searcher.docmap().select("conv_id", "turn_idx", key_c),
                ["conv_id", "turn_idx"],
            )
        page_groups = pg.select(key_c).distinct()
        out["expanded"] = (
            ranked_c.join(F.broadcast(page_groups), key_c, "left_semi")
            .filter((F.col("crn") > 1) & (F.col("crn") <= n_exp + 1))
            .select(
                F.col(key_c).alias("group_value"),
                "conv_id", "turn_idx", "score",
                (F.col("crn") - 1).cast("long").alias("expand_rank"),
            )
            .orderBy("group_value", "expand_rank")
        )
    for out_key, req, ex_fields in ff_legs:
        fc = fused_counts.get(out_key)
        if fc is None:
            f_spec = (_exclude_filter_fields(spec, ex_fields) if ex_fields
                      else spec)
            fc = facet_field(searcher, req, spec=f_spec, refine=ff_refine,
                             method=ff_method)
        if o["facet_exists"]:
            # EXISTS method: presence, not frequency — cap the counts
            # of the (index-ordered, mincount=1) buckets at 1
            fc = fc.withColumn(
                "cnt", F.least(F.col("cnt"), F.lit(1).cast("long"))
            )
        out["facet_counts"][out_key] = fc
    if o["facet_queries"]:
        # classic facet.query leg (SimpleFacets getFacetQueryCounts):
        # each value counts the docs matching BOTH the doclist's
        # domain and the facet query — one bounded DocSet count per
        # value, same fq mask path as the doclist
        out["facet_queries"] = {
            raw: searcher.docset(_merge_filters(spec, f_spec)).count()
            for raw, f_spec in o["facet_queries"]
        }
    if o["facet_range"]:
        fld, r_start, r_end, r_gap, r_hardend, rf_ex = o["facet_range"]
        if rf_ex:
            # {!ex}: drop the tagged fq constraints from THIS range
            # facet's domain only (filters are rewrite-independent,
            # so the exclusion applies to the request spec directly)
            r_spec = _exclude_filter_fields(spec, rf_ex)
        else:
            r_spec = spec
        if fld == "ts":
            out["facet_ranges"] = {
                fld: _date_range_buckets(searcher, r_spec, fld,
                                         r_start, r_end, r_gap)
            }
            eff_end = r_end
        else:
            out["facet_ranges"] = {
                fld: _range_buckets(searcher, r_spec, fld, r_start,
                                    r_end, r_gap, hardend=r_hardend)
            }
            # the 'other' boundary follows the hardend-adjusted last
            # bucket end (RangeFacetProcessor computes after/between
            # against the actual end, not the raw param)
            eff_end = r_end if r_hardend else (
                r_start + -(-(r_end - r_start) // r_gap) * r_gap
            )
        if o["facet_range_other"]:
            out["facet_ranges_other"] = {
                fld: _range_other(searcher, r_spec, fld, r_start, eff_end,
                                  o["facet_range_other"])
            }
    if o["facet_interval"]:
        # classic facet.interval leg (IntervalFacets): every interval
        # predicate is a conditional sum in ONE partial-aggregating
        # pass over the domain's docvalues column — no per-interval
        # rescan, overlapping intervals each count the doc
        fld, ivals = o["facet_interval"]
        dom = (
            searcher.docmap().select("conv_id", "turn_idx", fld)
            .join(searcher.docset(spec), ["conv_id", "turn_idx"])
        )
        agg = dom.agg(*[
            F.sum(F.when(F.col(fld).between(lo, hi), 1).otherwise(0))
            .cast("long").alias(f"i{n}")
            for n, (_, lo, hi) in enumerate(ivals)
        ])
        stack = ", ".join(
            f"'{label}', i{n}" for n, (label, _, _) in enumerate(ivals)
        )
        out["facet_intervals"] = {fld: agg.selectExpr(
            f"stack({len(ivals)}, {stack}) AS (interval, cnt)"
        ).orderBy("interval")}
    if o["facet_pivot"]:
        # classic facet.pivot leg: the index sparse pair-counting
        # engine over the SAME q+fq domain (shuffle bounded by
        # distinct co-occurring pairs, never the corpus)
        from lucene_solr_spark.query.facets import facet_pivot

        pv_fields, pv_ex, pv_key = o["facet_pivot"]
        # {!ex}: the tagged fq constraints drop from THIS pivot's
        # domain only (the multi-select rule, same engine API the
        # facet.field leg rides)
        p_spec = _exclude_filter_fields(spec, pv_ex) if pv_ex else spec
        pv = facet_pivot(
            searcher, pv_fields, spec=p_spec,
            limits=(o["facet_limit"],) * len(pv_fields))
        out["facet_pivots"] = {pv_key: pv}
    if o["stats_fields"]:
        # StatsComponent leg: algebraic aggregates over the domain's
        # docvalues column — one partial-aggregating narrow job per
        # field, the corpus text never moves
        # ref: solr/core/src/java/org/apache/solr/handler/component/
        # StatsComponent.java (StatsValuesFactory numeric stats)
        out["stats"] = {}

        def _stats_aggs(sf_: str) -> list:
            extra = (
                [F.countDistinct(sf_).cast("long").alias("countDistinct")]
                if o["stats_calcdistinct"] else []
            )
            if sf_ == "ts":
                # DateStatsValues subset: ordering aggregates only,
                # min/max stringified (the pinned timestamp rule)
                return [
                    F.date_format(F.min(sf_), "yyyy-MM-dd HH:mm:ss")
                    .alias("min"),
                    F.date_format(F.max(sf_), "yyyy-MM-dd HH:mm:ss")
                    .alias("max"),
                    F.count(sf_).cast("long").alias("cnt"),
                    (F.count("*") - F.count(sf_)).cast("long")
                    .alias("missing"),
                ] + extra
            if sf_ in _FACETABLE:
                # StringStatsValues: lexicographic min/max + counts
                return [
                    F.min(sf_).alias("min"),
                    F.max(sf_).alias("max"),
                    F.count(sf_).cast("long").alias("cnt"),
                    (F.count("*") - F.count(sf_)).cast("long")
                    .alias("missing"),
                ] + extra
            return [
                F.min(sf_).cast("long").alias("min"),
                F.max(sf_).cast("long").alias("max"),
                F.sum(sf_).cast("long").alias("sum"),
                F.count(sf_).cast("long").alias("cnt"),
                (F.count("*") - F.count(sf_)).cast("long").alias("missing"),
                F.round(F.avg(sf_), 4).alias("mean"),
                F.round(F.stddev_samp(sf_), 4).alias("stddev"),
            ] + extra

        for sf in o["stats_fields"]:
            dm_need = ["conv_id", "turn_idx", sf]
            gf = o["stats_facet"]
            if gf and gf not in dm_need:
                dm_need.append(gf)
            base = (
                searcher.docmap().select(*dm_need)
                .join(searcher.docset(spec), ["conv_id", "turn_idx"])
            )
            out["stats"][sf] = base.agg(*_stats_aggs(sf))
            if gf:
                # stats.facet sub-block: the SAME algebraic aggregates
                # per facet value — one partial-aggregating groupBy
                # bounded by the group field's cardinality (the
                # pre-json.facet per-bucket metric surface)
                out.setdefault("stats_facets", {})[sf] = (
                    base.groupBy(gf).agg(*_stats_aggs(sf))
                    .orderBy(F.asc_nulls_last(gf))
                )
    if o["group"]:
        # result-grouping leg (Grouping group.field command): ONE
        # collapse-key-partitioned rank pass serves both grouping
        # passes — heads pick the top `rows` groups by their best
        # doc's rounded score, the second pass is a broadcast
        # semi-join of those winning keys (never a rescan); output
        # ordered (group_value, doc_rank), the engine's pinned
        # grouped-doclist presentation
        g_field, g_limit, g_start, g_offset, g_sort, g_func = o["group"]
        ghits = searcher.score_hits(spec, k=None).withColumn(
            "score", F.round("score", 4)
        )
        dm_extra = [c for c in (
            ({g_func[0]} if g_func else {g_field})
            | ({g_sort[0]} if g_sort else set())
        ) if c not in ("conv_id", "turn_idx")]
        if dm_extra:
            ghits = ghits.join(
                searcher.docmap().select(
                    "conv_id", "turn_idx", *sorted(dm_extra)),
                ["conv_id", "turn_idx"],
            )
        if g_func:
            # CommandFunc key: computed once in the projection
            src_c, div_n = g_func
            ghits = ghits.withColumn(
                g_field,
                F.floor(F.col(src_c) / div_n).cast("long"))
        if o["group_ngroups"]:
            # Grouping's totalGroupCount: distinct group values in the
            # match set (a NULL group counts when present) — one
            # partial-aggregating distinct, never a window
            out["ngroups"] = ghits.select(g_field).distinct().count()
        # head pick WITHOUT a window: one partial-aggregating min_by
        # per group on the pinned order (-score, conv_id, turn_idx) —
        # map-side combine, so a low-cardinality group field (role: 4
        # values over 10^9 docs) never piles all hits into 4 window
        # partitions just to pick heads
        heads = (
            ghits.groupBy(g_field)
            .agg(F.min_by(
                F.struct("score", "conv_id", "turn_idx"),
                F.struct(
                    (-F.col("score")).alias("ns"), "conv_id", "turn_idx"
                ),
            ).alias("best"))
            .orderBy(
                F.desc("best.score"), "best.conv_id", "best.turn_idx"
            )
            .limit(g_start + o["rows"])
        )
        # group RANK (the order the head pick established): the head
        # page is bounded (≤ start+rows rows, a distributed
        # TakeOrdered), so ranks are assigned DRIVER-side — Solr's
        # coordinator merges shard group heads the same way
        # (SearchGroupsResultTransformer). No single-partition window
        # ever touches the hit set.
        head_rows = heads.select(g_field).collect()
        key_type = heads.schema[g_field].dataType
        heads = searcher.spark.createDataFrame(
            [(r[0], i + 1) for i, r in enumerate(head_rows)
             if i + 1 > g_start],
            T.StructType([
                T.StructField(g_field, key_type),
                T.StructField("g_rank", T.LongType()),
            ]),
        )
        # doclists: the filter sits DIRECTLY above the window so
        # Catalyst's WindowGroupLimit Partial pushdown pre-reduces
        # every map task to g_limit rows per group before the
        # group-key exchange (the engine's pinned bounded-shuffle
        # window shape — plan-asserted in test_plans)
        # within-group order: group.sort when given (field key first,
        # pinned score/key tiebreaks after), else the main rank order
        if g_sort is not None:
            gs_fld, gs_asc = g_sort
            gs_key = F.asc(gs_fld) if gs_asc else F.desc(gs_fld)
            g_order = [gs_key, F.desc("score"),
                       F.asc("conv_id"), F.asc("turn_idx")]
        else:
            g_order = [F.desc("score"),
                       F.asc("conv_id"), F.asc("turn_idx")]
        gw = Window.partitionBy(g_field).orderBy(*g_order)
        # group.offset slices WITHIN each doclist: the upper bound
        # stays a bare `grn <= K` filter directly above the window
        # (the WindowGroupLimit pushdown shape); the lower bound is a
        # separate filter so the pushdown pattern stays intact, and
        # doc_rank rebases to 1 for the page like Solr's groupOffset
        ranked = (
            ghits.join(F.broadcast(heads), g_field)
            .withColumn("grn", F.row_number().over(gw))
            .filter(F.col("grn") <= g_offset + g_limit)
        )
        if g_offset:
            ranked = ranked.filter(F.col("grn") > g_offset)
        ranked = ranked.select(
            F.col(g_field).alias("group_value"),
            "conv_id", "turn_idx", "score",
            (F.col("grn") - g_offset).cast("long").alias("doc_rank"),
            "g_rank",
        )
        if o["group_format"] == "simple":
            # flat doclist ordered (group rank, doc rank) — Solr's
            # simple format / the group.main=true merge order
            flat = ranked.orderBy("g_rank", "doc_rank")
            out["grouped"] = flat
            if o["group_main"]:
                out["response"] = _encode_wt(
                    flat.select("conv_id", "turn_idx", "score"), o["wt"]
                )
        else:
            out["grouped"] = ranked.drop("g_rank").orderBy(
                "group_value", "doc_rank"
            )
    if o["group_queries"]:
        # Grouping CommandQuery leg: ONE scored pass over the main
        # hits; each group.query narrows it via its DocSet (a bounded
        # semi-join per command — Solr runs one collector per
        # command), doclist = top group.limit by main rank, groups in
        # REQUEST order. The union is ≤ n_queries × limit rows, so
        # the rank window is bounded.
        gq_hits = searcher.score_hits(spec, k=None).withColumn(
            "score", F.round("score", 4)
        )
        legs = []
        for g_idx, (raw, gq_spec) in enumerate(o["group_queries"]):
            legs.append(
                gq_hits.join(
                    searcher.docset(gq_spec),
                    ["conv_id", "turn_idx"], "left_semi")
                .orderBy(F.desc("score"), F.asc("conv_id"),
                         F.asc("turn_idx"))
                .limit(o["group_query_limit"])
                .select(
                    F.lit(str(raw)).alias("group_value"),
                    F.lit(g_idx).alias("g_idx"),
                    "conv_id", "turn_idx", "score",
                )
            )
        gq_union = legs[0]
        for leg in legs[1:]:
            gq_union = gq_union.unionByName(leg)
        gqw = Window.partitionBy("group_value").orderBy(
            F.desc("score"), F.asc("conv_id"), F.asc("turn_idx")
        )
        out["grouped"] = (
            gq_union.withColumn(
                "doc_rank", F.row_number().over(gqw).cast("long"))
            .orderBy("g_idx", "doc_rank")
            .select("group_value", "conv_id", "turn_idx", "score",
                    "doc_rank")
        )
    if o["mlt"]:
        # MoreLikeThis component leg: similar docs for EVERY page doc
        # in ONE batched pass (see IndexSearcher.mlt_batch — Solr
        # runs |page| sequential MLT queries here). The page's stored
        # texts materialize driver-side (≤ rows docs, the bounded
        # page Solr materializes identically).
        if stored is None:
            raise ValueError("mlt=true needs the stored-fields frame")
        mlt_count, mlt_maxqt, mlt_mintf, mlt_mindf, mlt_boost = o["mlt"]
        page_rows = (
            stored.join(F.broadcast(page_keys), ["conv_id", "turn_idx"])
            .select("conv_id", "turn_idx", "text")
            .collect()
        )
        out["moreLikeThis"] = searcher.mlt_batch(
            [(r.conv_id, r.turn_idx, r.text) for r in page_rows],
            max_terms=mlt_maxqt, k=mlt_count, round_to=4,
            min_tf=mlt_mintf, min_df=mlt_mindf, boost=mlt_boost,
        )
    if o["tv"]:
        # TermVectorComponent leg: only the page's ≤ rows docs join
        # back to stored text (broadcast keys), tokens explode per
        # doc, tf = one bounded groupBy; df (when asked) probes the
        # term dictionary PRUNED to the page's vocabulary (broadcast
        # semi-join — never a full-dictionary aggregation)
        tv_df, tv_pos, tv_tfidf = o["tv"]
        if stored is None:
            raise ValueError("tv=true needs the stored-fields frame")
        from lucene_solr_spark.analyzer import tokens_col as _tvtoks

        tv_base = (
            stored.join(F.broadcast(ranked_keys), ["conv_id", "turn_idx"])
            .select(
                "conv_id", "turn_idx", "rn",
                F.posexplode(_tvtoks("text")).alias("pos", "term"),
            )
            .groupBy("conv_id", "turn_idx", "rn", "term")
            .agg(
                F.count("*").cast("long").alias("tf"),
                # comma-joined 0-based positions (the engine's pinned
                # tv.positions presentation, int-sorted before join)
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("pos")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ).alias("positions"),
            )
        )
        cols = ["conv_id", "turn_idx", "term", "tf"]
        if tv_df:
            page_terms = tv_base.select("term").distinct()
            tv_dict = (
                searcher.postings()
                .join(F.broadcast(page_terms), "term", "left_semi")
                .groupBy("term")
                .agg(F.sum("df").cast("long").alias("df"))
            )
            tv_base = tv_base.join(tv_dict, "term", "left").withColumn(
                "df", F.coalesce(F.col("df"), F.lit(0).cast("long"))
            )
            cols.append("df")
            if tv_tfidf:
                # tv.tf_idf (TermVectorComponent TV_KEY_TF_IDF):
                # tf × (1/df) as a double, 4dp-rounded like every
                # float the engine emits; df=0 cannot occur for a
                # page term (it came from the page's own stream)
                tv_base = tv_base.withColumn(
                    "tf_idf",
                    F.round(F.col("tf") / F.col("df"), 4))
                cols.append("tf_idf")
        if tv_pos:
            cols.append("positions")
        out["termVectors"] = (
            tv_base.orderBy("rn", "term").select(*cols)
        )
    if o["spellcheck"]:
        # SpellCheck component leg (DirectSolrSpellChecker shape):
        # only q terms ABSENT from the term dictionary get suggestions
        # (one bounded df probe gates them — the maxQueryFrequency
        # analog at its strictest); candidates within edit distance 2
        # ranked (dist asc, df desc, term asc), top spellcheck.count
        # per input. collate=true substitutes each misspelled term
        # with its top suggestion and counts the rewritten query's
        # hits (SpellCheckCollator).
        # ref: solr/core/src/java/org/apache/solr/spelling/
        # DirectSolrSpellChecker.java + SpellCheckCollator.java
        (sc_count, collate, sc_q, sc_maxqf, sc_ext,
         sc_alt, sc_acc) = o["spellcheck"]
        if sc_q is not None:
            # spellcheck.q (SpellCheckComponent): the spell input is
            # the ANALYZED alternate string, not the main query; the
            # collation then rewrites and counts THAT query
            from lucene_solr_spark.analyzer import tokenize_one

            q_terms = list(dict.fromkeys(tokenize_one(sc_q)))
        else:
            q_terms = list(dict.fromkeys(spec.scoring_terms))
        dfs = searcher.global_df(q_terms)
        # alternativeTermCount > 0 widens eligibility to PRESENT terms
        # with their own (smaller) suggestion cap; the misspelled gate
        # keeps sc_count
        misspelled = [t for t in q_terms
                      if dfs[t] <= sc_maxqf or sc_alt > 0]
        sugg_schema = "q string, suggestion string, dist long, df long"
        if sc_ext:
            # spellcheck.extendedResults: each row also reports the
            # INPUT term's frequency (origFreq) next to the
            # suggestion's — the reference's extended response shape.
            # ref: solr/core/src/java/org/apache/solr/handler/component/
            # SpellCheckComponent.java (toNamedList extendedResults)
            sugg_schema += ", origFreq long"
        if misspelled:
            qdf = searcher.spark.createDataFrame(
                [(t, int(dfs[t]),
                  int(sc_count if dfs[t] <= sc_maxqf else sc_alt))
                 for t in misspelled],
                "q string, q_df long, cap long",
            )
            dicts = searcher.postings().groupBy("term").agg(
                F.sum("df").cast("long").alias("df")
            )
            # length-band join condition + thresholded levenshtein:
            # the lossless dictionary prune ahead of the banded DP
            # (IndexSearcher.fuzzy_predicate shape; VERDICT r4 item 5)
            cand = (
                dicts.join(
                    F.broadcast(qdf),
                    F.abs(F.length("term") - F.length("q")) <= 2,
                )
                .withColumn(
                    "dist",
                    F.levenshtein(F.col("term"), F.col("q"), 2).cast("long"),
                )
                .filter((F.col("dist") >= 0) & (F.length("term") >= 3)
                        & (F.col("term") != F.col("q"))
                        & (F.col("df") > F.col("q_df")))
            )
            if sc_acc > 0.0:
                # accuracy gate: normalized similarity must reach the
                # threshold (1 - dist/max(|q|, |suggestion|) — the
                # LevenshteinDistance#getDistance normalization)
                sim = F.lit(1.0) - F.col("dist") / F.greatest(
                    F.length("q"), F.length("term"))
                cand = cand.filter(sim >= F.lit(sc_acc))
            scw = Window.partitionBy("q").orderBy(
                "dist", F.desc("df"), F.col("term")
            )
            # the LITERAL bound keeps Catalyst's WindowGroupLimit
            # Partial pushdown alive (the pinned rn<=k shape — a
            # column-only bound would shuffle every candidate); the
            # per-term cap column then narrows inside it
            sugg = (
                cand.withColumn("scrn", F.row_number().over(scw))
                .filter((F.col("scrn") <= F.lit(max(sc_count, sc_alt)))
                        & (F.col("scrn") <= F.col("cap")))
                .select("q", F.col("term").alias("suggestion"), "dist", "df",
                        *([F.col("q_df").alias("origFreq")] if sc_ext
                          else []))
                .orderBy("q", "dist", F.desc("df"), "suggestion")
            )
        else:
            sugg = searcher.spark.createDataFrame([], sugg_schema)
        out["spellcheck"] = sugg
        if collate:
            top: dict = {}
            for r in sugg.collect():  # bounded: ≤ |misspelled| × count
                top.setdefault(r.q, r.suggestion)
            if sc_q is not None:
                # rewrite the spellcheck.q terms and count THAT query
                # (all-must, the collator's AND over the alternate
                # input) — the main spec is not the spell input here
                coll_spec = BooleanSpec(
                    must=tuple(top.get(t, t) for t in q_terms))
            else:
                coll_spec = replace(
                    spec,
                    must=tuple(top.get(t, t) for t in spec.must),
                    should=tuple(top.get(t, t) for t in spec.should),
                )
            out["spellcheck_collation"] = {
                "collationQuery": " ".join(
                    top.get(t, t) for t in q_terms
                ),
                "hits": searcher.docset(coll_spec).count(),
            }
    if o["debug"]:
        # debugQuery leg (DebugComponent): the per-term Explanation
        # rows for EVERY page doc in ONE batched pass (see
        # IndexSearcher.explain_batch — the per-doc explain surface
        # would cost |page| probe jobs); contribs sum to each page
        # row's score (the engine's pinned explain identity)
        out["debug"] = searcher.explain_batch(
            spec,
            [(r.conv_id, r.turn_idx) for r in page_keys.collect()],
            round_to=4,
        )
    if o["json_facets"]:
        # JSON Facet API leg (FacetModule): every bucket runs over the
        # SAME q+fq domain as the doclist; terms buckets ride the index
        # sparse engines (metric sub-aggs fold into the same per-segment
        # pass), query buckets are one bounded DocSet count each
        from lucene_solr_spark.query.facets import facet_metrics

        out["facets"] = {}
        for name, req in o["json_facets"].items():
            if req[0] == "terms":
                _, fld, limit, aggs_t, sort, ex, dom_f, dom_q, \
                    jf_prefix, jf_mincount, jf_missing, jf_offset = req
                # domain.excludeTags: drop the tagged fq constraints
                # from THIS bucket's domain only (multi-select);
                # domain.filter: add a bucket-local pure filter;
                # domain.query: REPLACE the domain with a standalone
                # query's match set (exclusive with the other two)
                if dom_q is not None:
                    leg_spec = dom_q
                else:
                    leg_spec = (
                        _exclude_filter_fields(spec, ex) if ex else spec
                    )
                    if dom_f is not None:
                        leg_spec = _merge_filters(leg_spec, dom_f)
                if not aggs_t:
                    out["facets"][name] = searcher.facet(
                        fld, spec=leg_spec, limit=limit,
                        prefix=jf_prefix, mincount=jf_mincount,
                        missing=jf_missing, offset=jf_offset,
                        sort="index" if sort == "index" else "count",
                    )
                else:
                    out["facets"][name] = facet_metrics(
                        searcher, fld, spec=leg_spec, aggs=aggs_t,
                        limit=limit, sort=sort,
                    )
            elif req[0] == "range":
                _, fld, start_v, end_v, gap, o_kinds = req
                if fld == "ts":
                    out["facets"][name] = _date_range_buckets(
                        searcher, spec, fld, start_v, end_v, gap
                    )
                    # date path: 'other' boundary is the raw end (the
                    # classic ts leg's pinned rule)
                    eff = end_v
                else:
                    out["facets"][name] = _range_buckets(
                        searcher, spec, fld, start_v, end_v, gap
                    )
                    # hardend has no JSON spelling here: the json leg
                    # is pinned hardend=false, so the 'other' boundary
                    # is the gap-padded end
                    eff = start_v + -(-(end_v - start_v) // gap) * gap
                if o_kinds:
                    out["facets"][f"{name}:other"] = _range_other(
                        searcher, spec, fld, start_v, eff, o_kinds
                    )
            elif req[0] == "range_terms":
                # range buckets × ONE terms sub-facet in a SINGLE
                # narrow pass: the derived bucket key and the
                # sub-field column group together, then a
                # bucket-partitioned rank window (rn <= literal →
                # WindowGroupLimit pre-reduction) keeps the top
                # values per NON-EMPTY bucket — never one domain
                # pass per bucket
                _, fld, start_v, end_v, gap, rs_fld, rs_lim = req
                c = F.col(fld)
                upper = start_v + -(-(end_v - start_v) // gap) * gap
                pairs = (
                    searcher.docmap()
                    .select("conv_id", "turn_idx", fld, rs_fld)
                    .join(searcher.docset(spec), ["conv_id", "turn_idx"])
                    .filter((c >= start_v) & (c < upper)
                            & F.col(rs_fld).isNotNull())
                    .groupBy(
                        (F.floor((c - start_v) / gap) * gap + start_v)
                        .cast("long").alias("bucket_start"),
                        F.col(rs_fld).alias("facet_value"),
                    )
                    .agg(F.count("*").cast("long").alias("cnt"))
                )
                rw = Window.partitionBy("bucket_start").orderBy(
                    F.desc("cnt"), F.asc("facet_value"))
                out["facets"][name] = (
                    pairs.withColumn("rn", F.row_number().over(rw))
                    .filter(F.col("rn") <= rs_lim)
                    .select("bucket_start", "facet_value", "cnt")
                    .orderBy("bucket_start", F.desc("cnt"),
                             "facet_value")
                )
            elif req[0] == "nested":
                from lucene_solr_spark.query.facets import facet_nested

                _, f1, l1, f2, l2, ex, dom_f = req
                n_spec = _exclude_filter_fields(spec, ex) if ex else spec
                if dom_f is not None:
                    n_spec = _merge_filters(n_spec, dom_f)
                out["facets"][name] = facet_nested(
                    searcher, f1, f2, spec=n_spec, limit1=l1, limit2=l2
                )
            elif req[0] == "stat":
                # root-level stat facet: one partial-aggregating job
                # over the main q+fq domain (the query-bucket agg
                # engine with no extra filter)
                out["facets"][name] = _domain_aggs(
                    searcher, spec, (req[1],))
            elif req[0] == "query_terms":
                # query bucket with ONE nested terms sub-facet: the
                # sub-facet runs the sparse field-facet engine over
                # the bucket's merged domain (main ∧ bucket filter) —
                # the same one-seg-fan-out path every facet leg rides
                _, f_spec, sub_fld, sub_limit = req
                out["facets"][name] = searcher.facet(
                    sub_fld, spec=_merge_filters(spec, f_spec),
                    limit=sub_limit,
                )
            else:
                _, f_spec, q_aggs = req
                if not q_aggs:
                    out["facets"][name] = searcher.docset(
                        _merge_filters(spec, f_spec)
                    ).count()
                else:
                    # query bucket WITH scalar sub-aggs: one
                    # partial-aggregating job over the bucket's
                    # merged domain (count + every agg in the same
                    # pass; null semantics match the terms-bucket
                    # metric engine — avg/unique skip missing values)
                    out["facets"][name] = _domain_aggs(
                        searcher, _merge_filters(spec, f_spec), q_aggs)
    if o["hl"]:
        # highlight leg (DefaultSolrHighlighter in the /select flow):
        # ONLY the page's rows join back to stored fields (broadcast of
        # <= rows keys), every scoring-term occurrence marks token-level
        # from the same analyzer stream the matcher used
        if stored is None:
            raise ValueError("hl=true needs the stored-fields frame")
        from lucene_solr_spark.analyzer import tokens_col

        # hl.q substitutes the MARKING query; the page (hit list,
        # order) stays the main query's
        hspec = o.get("hl_q_spec") or spec
        terms = list(dict.fromkeys(
            hspec.scoring_terms
            + tuple(t for ph in hspec.phrases for t in ph)
        ))
        toks = tokens_col("text")
        joined = stored.join(
            F.broadcast(ranked_keys), ["conv_id", "turn_idx"]
        )
        if o["hl_passages"]:
            # multi-snippet passage mode (hl.snippets/hl.fragsize —
            # UnifiedHighlighter passage formation + scoring): the
            # page's token streams cut into fragsize-token passages,
            # passages score by query-term occurrence count, top
            # hl.snippets NON-EMPTY passages per doc; still only the
            # ≤ rows page rows ever explode
            ft = o["hl_fragsize"]
            n_pass = F.ceil(F.size("toks") / F.lit(float(ft))).cast("int")
            exploded = (
                joined.withColumn("toks", toks)
                .withColumn("p", F.explode(F.sequence(F.lit(0), n_pass - 1)))
                .withColumn("ptoks", F.slice("toks", F.col("p") * ft + 1, ft))
            )
            is_hit = (
                (lambda tk: tk.isin(*terms)) if terms
                else (lambda tk: F.lit(False))  # filter-only q
            )
            pmark = F.transform(
                "ptoks",
                lambda tk: F.when(
                    is_hit(tk),
                    F.concat(F.lit(o["hl_pre"]), tk, F.lit(o["hl_post"])),
                ).otherwise(tk),
            )
            scored = exploded.select(
                "conv_id", "turn_idx", "rn",
                F.col("p").cast("long").alias("passage"),
                F.size(F.filter("ptoks", is_hit)).cast("long")
                .alias("pscore"),
                F.array_join(pmark, " ").alias("snippet"),
            )
            pw = Window.partitionBy("conv_id", "turn_idx").orderBy(
                F.desc("pscore"), F.asc("passage")
            )
            hl_df = (
                scored.withColumn("prn", F.row_number().over(pw))
                .filter(
                    (F.col("prn") <= o["hl_snippets"])
                    & (F.col("pscore") > 0)
                )
                .select("conv_id", "turn_idx", "passage", "snippet", "rn")
            )
            if o["hl_alternate"] is not None:
                # alternateField fallback: page docs with ZERO
                # surviving passages get the leading chars of the
                # named stored field as their one snippet (passage =
                # NULL). Everything stays page-bounded: anti-join of
                # <= rows keys, one broadcast join back to stored.
                alt_c = F.col(o["hl_alternate"]).cast("string")
                if o["hl_alt_len"] > 0:
                    alt_c = F.substring(alt_c, 1, o["hl_alt_len"])
                fallback = (
                    joined
                    .join(hl_df.select("conv_id", "turn_idx").distinct(),
                          ["conv_id", "turn_idx"], "left_anti")
                    .select(
                        "conv_id", "turn_idx",
                        F.lit(None).cast("long").alias("passage"),
                        alt_c.alias("snippet"), "rn",
                    )
                )
                hl_df = hl_df.unionByName(fallback)
            out["highlighting"] = (
                hl_df.orderBy("rn", F.asc_nulls_last("passage"))
                .drop("rn")
            )
            return out
        if o["hl_phrase"] and hspec.phrases:
            # hl.usePhraseHighlighter (PhraseHelper): phrase terms mark
            # ONLY inside an actual exact-adjacency occurrence of one
            # of the query's phrases — an isolated constituent stays
            # unmarked; terms that ALSO appear as standalone must/
            # should clauses still mark everywhere. Pure Catalyst
            # indexed lambda over the same analyzer stream the phrase
            # matcher used, so marking can't disagree with the scorer.
            conds = []
            for ph in hspec.phrases:
                length = len(ph)
                for j in range(length):
                    parts = [f"i - {j} >= 0",
                             f"i - {j} + {length} <= size(toks)"]
                    parts += [
                        f"toks[i - {j} + {m}] = '{ph[m]}'"
                        for m in range(length)
                    ]
                    conds.append("(" + " AND ".join(parts) + ")")
            phrase_hit = " OR ".join(conds)
            others = list(dict.fromkeys(hspec.must + hspec.should))
            in_other = (
                "tk IN (" + ", ".join(f"'{t}'" for t in others) + ")"
                if others else "false"
            )
            out["highlighting"] = (
                joined.withColumn("toks", toks)
                .select(
                    "conv_id", "turn_idx",
                    F.array_join(F.expr(
                        f"transform(toks, (tk, i) -> CASE WHEN "
                        f"({phrase_hit}) OR {in_other} THEN "
                        f"concat('{o['hl_pre']}', tk, '{o['hl_post']}')"
                        f" ELSE tk END)"
                    ), " ").alias("snippet"),
                    "rn",
                )
                .orderBy("rn")
                .drop("rn")
            )
            return out
        mark = F.transform(
            toks,
            lambda tk: F.when(
                tk.isin(*terms),
                F.concat(F.lit(o["hl_pre"]), tk, F.lit(o["hl_post"])),
            ).otherwise(tk),
        ) if terms else toks  # filter-only q: nothing to mark
        out["highlighting"] = (
            joined
            .select(
                "conv_id", "turn_idx",
                F.array_join(mark, " ").alias("snippet"), "rn",
            )
            .orderBy("rn")
            .drop("rn")
        )
    return out


# --- JSON Request API (/select with a JSON body) ----------------------

#: top-level keys the JSON Request API accepts (RequestUtil's
#: json-prefixed mapping table; anything else is Solr's
#: "Unknown top-level key in JSON request" 400)
_JSON_TOP = {"query", "filter", "fields", "sort", "offset", "limit",
             "params", "facet"}

#: JSON-body paging/projection keys → classic param names (the
#: documented json.fields↔fl, json.offset↔start, json.limit↔rows,
#: json.sort↔sort equivalences)
_JSON_TO_PARAM = {"fields": "fl", "sort": "sort",
                  "offset": "start", "limit": "rows"}

#: bool DSL buckets → classic-syntax occur prefix (None = non-scoring
#: filter clause, routed to fq like BooleanClause.Occur.FILTER)
_BOOL_OCCURS = {"must": "+", "should": "", "must_not": "-",
                "filter": None}


def _json_bool_clause(raw, bucket: str) -> str:
    """Validate ONE bool-DSL clause: a single classic-syntax clause
    string (term / "phrase" / field:value / field:[lo TO hi] /
    {!qparser}...) with no occur prefix of its own — the bucket IS the
    occur. Multi-clause strings must compose through the lists, so the
    compiled query is unambiguous."""
    if not isinstance(raw, str):
        raise ValueError(
            f"json bool {bucket!r} clauses are Lucene-syntax strings "
            f"in this subset, got {type(raw).__name__}")
    c = raw.strip()
    if not c:
        raise ValueError(f"empty json bool {bucket!r} clause")
    if c[0] in "+-":
        raise ValueError(
            f"json bool {bucket!r} clause {c!r} carries its own occur "
            "prefix — the bucket is the occur")
    quoted = len(c) >= 2 and c[0] == '"' and c[-1] == '"'
    ranged = ":" in c and c.endswith("]") and "[" in c
    local = c.startswith("{!")
    if any(ch.isspace() for ch in c) and not (quoted or ranged or local):
        raise ValueError(
            f"json bool {bucket!r} clause must be a single clause; "
            f"compose multiples through the bucket lists: {c!r}")
    return c


def compile_json_query(q) -> tuple[dict, list[str]]:
    """JSON query DSL → (classic-param fragment, extra fq clauses).

    The subset mirrors JsonQueryConverter: a plain string is the
    lucene default, a one-key object selects the parser —
    ``{"lucene": {...}}``, ``{"edismax": {...}}``, or the structured
    ``{"bool": {"must": [...], "should": [...], "must_not": [...],
    "filter": [...]}}``. Bool clauses compile onto the classic occur
    prefixes (must→``+c``, should→``c``, must_not→``-c``) and filter
    clauses ride fq (non-scoring, cacheable — exactly
    BooleanClause.Occur.FILTER's contract); a bool query therefore
    needs at least one scoring clause, matching the engine's (and
    Lucene QueryUtils') pure-negative rejection.

    ref: solr/core/src/java/org/apache/solr/search/
    JsonQueryConverter.java (DSL object → local-params string),
    solr/core/src/java/org/apache/solr/search/BoolQParserPlugin.java
    (must/should/must_not/filter occur buckets).
    """
    if isinstance(q, str):
        return {"q": q}, []
    if not isinstance(q, dict) or len(q) != 1:
        raise ValueError(
            "json query must be a string or a one-key "
            "{lucene|edismax|bool: ...} object")
    ((kind, body),) = q.items()
    if kind == "lucene":
        if isinstance(body, str):
            return {"q": body}, []
        if not isinstance(body, dict):
            raise ValueError("json lucene query must be a string or "
                             "{'query': ..., 'q.op': ...}")
        unknown = set(body) - {"query", "q.op"}
        if unknown:
            raise ValueError(f"unknown json lucene keys: {sorted(unknown)}")
        if "query" not in body:
            raise ValueError("json lucene query needs 'query'")
        frag = {"q": body["query"]}
        if "q.op" in body:
            frag["q.op"] = body["q.op"]
        return frag, []
    if kind == "edismax":
        if not isinstance(body, dict) or "query" not in body:
            raise ValueError("json edismax query needs {'query': ...}")
        unknown = set(body) - {"query", "mm", "pf", "ps"}
        if unknown:
            raise ValueError(
                f"unknown json edismax keys: {sorted(unknown)}")
        frag = {"q": body["query"], "defType": "edismax"}
        for k in ("mm", "pf", "ps"):
            if k in body:
                frag[k] = body[k]
        return frag, []
    if kind == "bool":
        if not isinstance(body, dict):
            raise ValueError("json bool query must be an object")
        unknown = set(body) - set(_BOOL_OCCURS)
        if unknown:
            raise ValueError(f"unknown json bool keys: {sorted(unknown)}")
        toks: list[str] = []
        fqs: list[str] = []
        for bucket, pre in _BOOL_OCCURS.items():
            raw = body.get(bucket, [])
            clauses = [raw] if isinstance(raw, str) else list(raw)
            for c in clauses:
                c = _json_bool_clause(c, bucket)
                if pre is None:
                    fqs.append(c)
                else:
                    toks.append(pre + c)
        if not any(t[0] != "-" for t in toks):
            raise ValueError(
                "json bool query needs at least one must/should "
                "scoring clause (filter-only domains ride fq; the "
                "engine rejects pure-negative scored queries like "
                "Lucene does)")
        return {"q": " ".join(toks)}, fqs
    raise ValueError(f"unknown json query parser: {kind!r} "
                     "(lucene|edismax|bool)")


def json_request(searcher, body: dict,
                 stored: DataFrame | None = None) -> dict:
    """JSON Request API front door: a JSON body over the SAME /select
    machinery. Top-level keys map onto the classic params
    (query→q(+defType), filter→fq, fields→fl, offset→start,
    limit→rows, sort→sort, facet→json.facet); the ``params`` block
    carries any remaining classic params verbatim. Precedence is
    PINNED: structured top-level keys win over the params block (they
    are the request's primary expression; the block is the
    backward-compat escape hatch). Everything downstream — paging,
    component legs, caches — is :func:`select`, so a JSON request and
    its classic twin are the same engine plan by construction.

    ref: solr/core/src/java/org/apache/solr/request/json/
    RequestUtil.java (processParams: JSON body → json.* params, the
    query/filter/fields/sort/offset/limit/params/facet key set),
    solr/core/src/java/org/apache/solr/handler/component/
    QueryComponent.java (json.query consumption).
    """
    if not isinstance(body, dict):
        raise ValueError("JSON request body must be an object")
    unknown = set(body) - _JSON_TOP
    if unknown:
        raise ValueError(
            f"unknown top-level JSON request keys: {sorted(unknown)} "
            f"(known: {sorted(_JSON_TOP)})")
    base = body.get("params", {})
    if not isinstance(base, dict):
        raise ValueError("json 'params' must be an object of classic "
                         "/select params")
    params = dict(base)
    extra_fq: list[str] = []
    if "query" in body:
        frag, extra_fq = compile_json_query(body["query"])
        params.update(frag)
    if "filter" in body:
        raw_f = body["filter"]
        flist = [raw_f] if isinstance(raw_f, str) else list(raw_f)
        for c in flist:
            if not isinstance(c, str):
                raise ValueError(
                    "json 'filter' entries are query strings in this "
                    f"subset, got {type(c).__name__}")
        extra_fq = flist + extra_fq
    if extra_fq:
        prior = params.get("fq", [])
        prior = [prior] if isinstance(prior, str) else list(prior)
        params["fq"] = prior + extra_fq
    for jk, pk in _JSON_TO_PARAM.items():
        if jk in body:
            params[pk] = body[jk]
    if "facet" in body:
        params["json.facet"] = body["facet"]
    return select(searcher, params, stored=stored)


#: /terms handler param surface (TermsComponent front door)
_TERMS_KNOWN = {
    "terms.fl", "terms.prefix", "terms.regex", "terms.limit",
    "terms.mincount", "terms.maxcount", "terms.sort", "terms.ttf",
    "terms.lower", "terms.upper", "terms.lower.incl", "terms.upper.incl",
    "terms.list",
}


def terms(searcher, params: dict) -> DataFrame:
    """/terms handler front door (TermsComponent): enumerate the index
    term dictionary for the analyzed field — prefix- or regex-
    narrowed, mincount-gated, ordered by docFreq (terms.sort=count,
    the default) or term (index), optionally carrying totalTermFreq
    (terms.ttf=true). The whole response is ONE bounded aggregation
    over dictionary rows (df and cf are per-(segment, term) stats) —
    no posting block is ever decoded, the same dictionary-only
    contract as Solr's TermsComponent walking the TermsEnum.

    Subset contract (400-style raises outside it): terms.fl must be
    the analyzed ``text`` field; terms.prefix and terms.regex are
    mutually exclusive; terms.regex is whole-term-anchored like the
    regexp query rewrite. terms.lower/terms.upper page the dictionary
    lexicographically (the TermsEnum seek analog; terms.lower.incl
    defaults true, terms.upper.incl defaults false — Solr's bounds
    contract) and compose with prefix/regex/mincount. terms.list
    fetches stats for EXACTLY the given raw terms (comma string or
    list; no analysis — the dictionary is read verbatim) in index
    order, ignoring limit/sort/mincount like Solr does; it is
    exclusive with every other narrowing mode, and dictionary-absent
    terms simply don't appear.

    ref: solr/core/src/java/org/apache/solr/handler/component/
    TermsComponent.java (TermsParams surface)."""
    unknown = set(params) - _TERMS_KNOWN
    if unknown:
        raise ValueError(f"unknown /terms params: {sorted(unknown)}")
    if params.get("terms.fl", "text") != "text":
        raise ValueError("terms.fl supports the analyzed text field only")
    if "terms.prefix" in params and "terms.regex" in params:
        raise ValueError("terms.prefix and terms.regex are exclusive")
    limit = int(params.get("terms.limit", 10))
    mincount = int(params.get("terms.mincount", 1))
    if limit < 1 or mincount < 1:
        raise ValueError("terms.limit and terms.mincount must be >= 1")
    # terms.maxcount (TermsComponent): upper df gate — -1 = unbounded
    # (the Solr default); composes with mincount as a [min, max] band
    maxcount = int(params.get("terms.maxcount", -1))
    if maxcount != -1 and maxcount < mincount:
        raise ValueError("terms.maxcount must be -1 or >= terms.mincount")
    sort = params.get("terms.sort", "count")
    if sort not in ("count", "index"):
        raise ValueError(f"terms.sort must be count|index: {sort!r}")
    ttf = bool(params.get("terms.ttf", False))
    dicts = searcher.postings()
    if "terms.list" in params:
        # terms.list: stats for EXACTLY the requested raw terms (no
        # analysis — TermsComponent reads the dictionary verbatim);
        # dictionary-absent terms simply don't appear, and the narrow
        # modes are exclusive like Solr's parameter precedence
        if {"terms.prefix", "terms.regex", "terms.lower",
                "terms.upper"} & set(params):
            raise ValueError("terms.list is exclusive with "
                             "prefix/regex/lower/upper narrowing")
        raw_l = params["terms.list"]
        tlist = ([t.strip() for t in raw_l.split(",")]
                 if isinstance(raw_l, str) else [str(t) for t in raw_l])
        tlist = [t for t in tlist if t]
        if not tlist:
            raise ValueError("empty terms.list")
        # Solr ignores limit/sort/mincount under terms.list and
        # returns the requested terms' stats in index order
        dicts = dicts.filter(F.col("term").isin(tlist))
        aggs = [F.sum("df").cast("long").alias("df")]
        if ttf:
            aggs.append(F.sum("cf").cast("long").alias("ttf"))
        return dicts.groupBy("term").agg(*aggs).orderBy(F.asc("term"))
    if "terms.prefix" in params:
        dicts = dicts.filter(F.col("term").startswith(params["terms.prefix"]))
    if "terms.regex" in params:
        dicts = dicts.filter(
            F.col("term").rlike(f"^(?:{params['terms.regex']})$")
        )
    for bound, incl_key, default_incl, op_i, op_x in (
        ("terms.lower", "terms.lower.incl", True, "__ge__", "__gt__"),
        ("terms.upper", "terms.upper.incl", False, "__le__", "__lt__"),
    ):
        if incl_key in params and bound not in params:
            raise ValueError(f"{incl_key} needs {bound}")
        if bound in params:
            incl = bool(params.get(incl_key, default_incl))
            op = op_i if incl else op_x
            dicts = dicts.filter(
                getattr(F.col("term"), op)(F.lit(str(params[bound])))
            )
    aggs = [F.sum("df").cast("long").alias("df")]
    if ttf:
        aggs.append(F.sum("cf").cast("long").alias("ttf"))
    out = dicts.groupBy("term").agg(*aggs).filter(
        F.col("df") >= mincount
    )
    if maxcount != -1:
        out = out.filter(F.col("df") <= maxcount)
    order = (
        [F.desc("df"), F.asc("term")] if sort == "count"
        else [F.asc("term")]
    )
    return out.orderBy(*order).limit(limit)


#: /export handler param surface (ExportWriter front door)
_EXPORT_KNOWN = {"q", "q.op", "fq", "sort", "fl"}
_EXPORTABLE = {"conv_id", "turn_idx", "role", "tool", "ftok", "ts",
               "doc_len"}


def export(searcher, params: dict) -> DataFrame:
    """/export handler front door (ExportWriter): the FULL sorted
    result stream — every matching doc, docvalues fields only, no
    paging, no scores (exactly Solr's /export contract: sort and fl
    must be docvalues fields, the stream is the point). q/fq narrow
    the set through the same DocSet machinery as /select; ``sort``
    takes one or more ``<docvalues field> asc|desc`` keys with the
    engine's pinned (conv_id, turn_idx) tiebreak appended so the
    stream is a total order.

    Physical: the match keys semi-join the PRUNED docmap columns and
    the engine's ONE deliberate total sort runs — a range-partitioned
    distributed sort (Spark samples split points), NOT a single-task
    collapse; this is the export-a-billion-rows-in-order shape, and
    the only place the engine globally sorts an unbounded set.

    ref: solr/core/src/java/org/apache/solr/handler/export/
    ExportWriter.java (docvalues-only sort/fl contract)."""
    unknown = set(params) - _EXPORT_KNOWN
    if unknown:
        raise ValueError(f"unknown /export params: {sorted(unknown)}")
    if "sort" not in params:
        raise ValueError("/export requires sort")
    order = []
    sort_cols = []
    for part in str(params["sort"]).split(","):
        bits = part.split()
        if (len(bits) != 2 or bits[0] not in _EXPORTABLE
                or bits[1] not in ("asc", "desc")):
            raise ValueError(
                f"/export sort must be <docvalues field> asc|desc "
                f"[, ...]: {part!r}")
        order.append(F.asc(bits[0]) if bits[1] == "asc"
                     else F.desc(bits[0]))
        sort_cols.append(bits[0])
    order += [F.asc("conv_id"), F.asc("turn_idx")]
    fl = params.get("fl", ["conv_id", "turn_idx"])
    if isinstance(fl, str):
        fl = [c.strip() for c in fl.split(",")]
    bad = set(fl) - _EXPORTABLE
    if bad:
        raise ValueError(f"/export fl must be docvalues fields, got "
                         f"{sorted(bad)}")
    spec = parse(params.get("q", ""), default_op=params.get("q.op", "OR")) \
        if params.get("q") else None
    fqs = params.get("fq", [])
    if isinstance(fqs, str):
        fqs = [fqs]
    for raw in fqs:
        f_spec = _pure_filter(parse(raw, default_op="AND"), raw)
        spec = _merge_filters(spec, f_spec) if spec is not None else f_spec
    dm_cols = list(dict.fromkeys(["conv_id", "turn_idx"]
                                 + sort_cols + list(fl)))
    out = searcher.docmap().select(*dm_cols)
    if spec is not None:
        out = out.join(searcher.docset(spec), ["conv_id", "turn_idx"])
    return out.orderBy(*order).select(*fl)


def get(searcher_spark, params: dict, committed: DataFrame,
        tlog: DataFrame | None = None) -> DataFrame:
    """/get handler front door (RealTimeGetHandler): ``ids`` names the
    requested keys as ``<conv_id>#<turn_idx>`` (the composite analog
    of Solr's uniqueKey list), ``fl`` projects stored fields. The
    bounded id list broadcasts into the tlog-first lookup
    (realtime_get): latest uncommitted ``_version_`` wins, tlog
    deletes mask, committed rows serve the rest at version 1 — keys
    absent everywhere produce no row, exactly Solr's /get response.

    ref: solr/core/src/java/org/apache/solr/handler/component/
    RealTimeGetComponent.java (ids param, tlog-first lookup)."""
    from lucene_solr_spark.query.realtime import realtime_get

    unknown = set(params) - {"ids", "fl"}
    if unknown:
        raise ValueError(f"unknown /get params: {sorted(unknown)}")
    raw = params.get("ids")
    if not raw:
        raise ValueError("missing required param: ids")
    id_list = raw if isinstance(raw, list) else str(raw).split(",")
    keys = []
    for item in id_list:
        bits = str(item).strip().split("#")
        if len(bits) != 2 or not bits[0] or not bits[1].isdigit():
            raise ValueError(
                f"/get ids entries must be <conv_id>#<turn_idx>: {item!r}")
        keys.append((bits[0], int(bits[1])))
    fl = params.get("fl")
    if isinstance(fl, str):
        fl = [c.strip() for c in fl.split(",")]
    ids = searcher_spark.createDataFrame(
        keys, "conv_id string, turn_idx int"
    )
    return realtime_get(ids, committed, tlog, fields=fl).orderBy(
        "conv_id", "turn_idx"
    )


#: /suggest handler param surface (SuggestComponent front door)
_SUGGEST_KNOWN = {"suggest", "suggest.q", "suggest.count",
                  "suggest.dictionary", "suggest.field",
                  "suggest.weightField", "suggest.payloadField",
                  "suggest.highlight"}

#: DocumentDictionary legal sources: suggestion text from a string
#: docvalues field; weight from a numeric docvalues field
_SUGGEST_DOC_FIELDS = ("role", "tool", "conv_id")
_SUGGEST_WEIGHT_FIELDS = ("turn_idx",)


def suggest(searcher, params: dict) -> DataFrame:
    """/suggest handler front door (SuggestComponent): completion
    candidates for each typed fragment from the index term dictionary,
    weighted by collection frequency (``cf`` — the DocumentDictionary
    weight analog the index already carries). ``suggest.dictionary``
    picks the lookup family: ``prefix`` (AnalyzingSuggester-style
    completion) or ``infix`` (AnalyzingInfixSuggester — the fragment
    may match anywhere in the term). One narrow (term, cf) dictionary
    aggregation with the bounded fragment table broadcast into the
    probe; top suggest.count per fragment via a fragment-partitioned
    WindowGroupLimit — the posting blocks are never decoded.

    ref: solr/core/src/java/org/apache/solr/handler/component/
         SuggestComponent.java, lucene/suggest/src/java/org/apache/
         lucene/search/suggest/analyzing/AnalyzingInfixSuggester.java
    """
    unknown = set(params) - _SUGGEST_KNOWN
    if unknown:
        raise ValueError(f"unknown /suggest params: {sorted(unknown)}")
    if not params.get("suggest", True):
        raise ValueError("/suggest needs suggest=true")
    raw = params.get("suggest.q")
    if not raw:
        raise ValueError("missing required param: suggest.q")
    frags = raw if isinstance(raw, list) else str(raw).split(",")
    frags = [f.strip() for f in frags if f.strip()]
    if not frags:
        raise ValueError("suggest.q has no fragments")
    count = int(params.get("suggest.count", 5))
    if count < 1:
        raise ValueError(f"suggest.count must be >= 1: {count}")
    dictionary = params.get("suggest.dictionary", "prefix")
    if dictionary not in ("prefix", "infix", "fuzzy", "document"):
        raise ValueError(
            f"suggest.dictionary must be prefix|infix|fuzzy|document, "
            f"got {dictionary!r}")
    doc_params = {k for k in ("suggest.field", "suggest.weightField",
                              "suggest.payloadField") if k in params}
    if dictionary != "document" and doc_params:
        raise ValueError(
            f"{sorted(doc_params)} require suggest.dictionary=document")
    q = searcher.spark.createDataFrame(
        [(f,) for f in frags], "fragment string"
    )
    if dictionary == "document":
        # DocumentDictionary lookup: suggestion entries come from a
        # docvalues FIELD's values (not the term dictionary), each
        # weighted by a numeric docvalues field, with an optional
        # payload field RETURNED beside the suggestion. Duplicate
        # values collapse to one entry under a pinned rule: weight =
        # MAX(weightField) across the value's live docs, payload from
        # the max-(weight, payload) doc (deterministic tiebreak).
        # searcher.docmap() is the read path, so the liveDocs mask
        # applies (a tombstoned doc can never donate weight/payload).
        # One bounded field-cardinality aggregation + the broadcast
        # fragment probe — never a corpus collect.
        # ref: lucene/suggest/src/java/org/apache/lucene/search/
        # suggest/DocumentDictionary.java (TERM_FIELD / WEIGHT_FIELD /
        # PAYLOAD_FIELD), solr/core/.../spelling/suggest/
        # DocumentDictionaryFactory.java
        field = params.get("suggest.field")
        if field not in _SUGGEST_DOC_FIELDS:
            raise ValueError(
                f"suggest.field must be one of {_SUGGEST_DOC_FIELDS}: "
                f"{field!r}")
        wfield = params.get("suggest.weightField")
        if wfield not in _SUGGEST_WEIGHT_FIELDS:
            raise ValueError(
                f"suggest.weightField must be one of "
                f"{_SUGGEST_WEIGHT_FIELDS}: {wfield!r}")
        pfield = params.get("suggest.payloadField")
        if pfield is not None and pfield not in _SUGGEST_DOC_FIELDS:
            raise ValueError(
                f"suggest.payloadField must be one of "
                f"{_SUGGEST_DOC_FIELDS}: {pfield!r}")
        pay = F.col(pfield) if pfield is not None else F.lit(None)
        ent = (
            searcher.docmap()
            .filter(F.col(field).isNotNull())
            .groupBy(F.col(field).alias("suggestion"))
            .agg(
                F.max(F.col(wfield)).cast("long").alias("weight"),
                F.max_by(
                    pay.cast("string"),
                    F.struct(F.col(wfield), pay.cast("string")),
                ).alias("payload"),
            )
        )
        cand = ent.join(
            F.broadcast(q), F.col("suggestion").startswith(F.col("fragment"))
        )
        w = Window.partitionBy("fragment").orderBy(
            F.desc("weight"), F.col("suggestion")
        )
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= count)
            .select("fragment", "suggestion", "weight", "payload")
            .orderBy("fragment", F.desc("weight"), "suggestion")
        )
    dicts = searcher.postings().groupBy("term").agg(
        F.sum("cf").cast("long").alias("weight")
    )
    if dictionary == "prefix":
        cond = F.col("term").startswith(F.col("fragment"))
    elif dictionary == "fuzzy":
        # FuzzyLookupFactory subset (FuzzySuggester defaults): the
        # typed fragment fuzzy-matches the suggestion's PREFIX of the
        # same length — maxEdits=1, nonFuzzyPrefix=1 (first char
        # exact), minFuzzyLength=3 (shorter fragments stay exact-
        # prefix). One broadcast NLJ of the bounded fragment table
        # against the dictionary, like the spellcheck candidates.
        # ref: lucene/suggest/src/java/org/apache/lucene/search/
        # suggest/analyzing/FuzzySuggester.java
        head = F.expr("substring(term, 1, length(fragment))")
        cond = (
            (F.expr("substring(term, 1, 1)")
             == F.expr("substring(fragment, 1, 1)"))
            & (F.length("term") >= F.length("fragment"))
            & F.when(
                F.length("fragment") >= 3,
                # thresholded banded DP (-1 past maxEdits=1); the
                # compared slices are equal-length so no length band
                F.levenshtein(head, F.col("fragment"), 1) >= 0,
            ).otherwise(head == F.col("fragment"))
        )
    else:
        cond = F.col("term").contains(F.col("fragment"))
    hl = bool(params.get("suggest.highlight", False))
    if hl and dictionary not in ("prefix", "infix"):
        # Lucene highlights only where the match region is literal
        # (AnalyzingInfixSuggester#highlight); a fuzzy match has no
        # exact region to wrap
        raise ValueError(
            "suggest.highlight needs suggest.dictionary=prefix|infix")
    cand = dicts.join(F.broadcast(q), cond)
    w = Window.partitionBy("fragment").orderBy(
        F.desc("weight"), F.col("term")
    )
    cols = ["fragment", F.col("term").alias("suggestion"), "weight"]
    if hl:
        # AnalyzingInfixSuggester's <b>-wrapped match region: the
        # FIRST occurrence of the typed fragment wraps (prefix mode
        # always matches at 0; infix at the leftmost hit) — a pure
        # Catalyst string rewrite on the bounded candidate rows
        cols.append(
            F.concat(
                F.expr("substring(term, 1, instr(term, fragment) - 1)"),
                F.lit("<b>"), F.col("fragment"), F.lit("</b>"),
                F.expr("substring(term, instr(term, fragment)"
                       " + length(fragment))"),
            ).alias("highlighted")
        )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= count)
        .select(*cols)
        .orderBy("fragment", F.desc("weight"), "suggestion")
    )


#: /mlt handler param surface (MoreLikeThisHandler front door)
_MLT_KNOWN = {"q", "mlt.count", "mlt.maxqt", "mlt.interestingTerms"}


def mlt(searcher, params: dict, stored: DataFrame) -> dict:
    """/mlt handler front door (MoreLikeThisHandler): ``q`` addresses
    the source document by unique key (``id:<conv_id>#<turn_idx>`` —
    the handler's common single-doc form), its stored text probes the
    corpus once (pushed-filter row fetch, what the handler's
    DocListAndSet lookup does), and the engine's MoreLikeThis serves
    the neighbors. ``mlt.interestingTerms=list`` additionally returns
    the ranked tf×idf term list the query was built from.

    Returns {"response": neighbors DF, "interestingTerms": DF | None}.

    ref: solr/core/src/java/org/apache/solr/handler/
         MoreLikeThisHandler.java (q doc lookup, interestingTerms)
    """
    import re as _re

    unknown = set(params) - _MLT_KNOWN
    if unknown:
        raise ValueError(f"unknown /mlt params: {sorted(unknown)}")
    raw = params.get("q")
    if not raw:
        raise ValueError("missing required param: q")
    m = _re.match(r"^id:(\w+)#(\d+)$", str(raw))
    if m is None:
        raise ValueError("/mlt q must be id:<conv_id>#<turn_idx>")
    conv, turn = m.group(1), int(m.group(2))
    count = int(params.get("mlt.count", 10))
    maxqt = int(params.get("mlt.maxqt", 5))
    if count < 1 or maxqt < 1:
        raise ValueError("mlt.count and mlt.maxqt must be >= 1")
    it = params.get("mlt.interestingTerms", "none")
    if it not in ("none", "list"):
        raise ValueError(
            f"mlt.interestingTerms must be none|list, got {it!r}")
    src = (
        stored.filter(
            (F.col("conv_id") == conv) & (F.col("turn_idx") == turn)
        ).select("text").first()
    )
    if src is None:
        raise ValueError(f"/mlt source doc not found: {raw!r}")
    out = {
        "response": searcher.more_like_this(
            conv, turn, src.text, max_terms=maxqt, k=count, round_to=4,
        ),
        "interestingTerms": None,
    }
    if it == "list":
        ranked = searcher.interesting_terms(src.text, maxqt)
        out["interestingTerms"] = searcher.spark.createDataFrame(
            [(t, float(s)) for t, s in ranked], "term string, score double"
        )
    return out


#: /analysis handler param surface (FieldAnalysisRequestHandler front
#: door). The pinned field types map to the engine's analyzer chains:
#: text_general = bare tokenizer; text_en = ascii_fold char filter +
#: stop + Porter (the q_idx_porter_search chain).
_ANALYSIS_KNOWN = {"analysis.fieldvalue", "analysis.fieldtype",
                   "analysis.query"}
_ANALYSIS_FIELDTYPES = ("text_general", "text_en")


def analysis(spark, params: dict) -> DataFrame:
    """/analysis/field handler front door (FieldAnalysisRequestHandler):
    the token stream AFTER each stage of the field type's analyzer
    chain, for the index-side ``analysis.fieldvalue`` and (optionally)
    the query-side ``analysis.query``. When a query is given, final-
    stage index tokens that survive to the query's final token set
    carry ``match=true`` — the handler's match highlighting, pinned to
    the FINAL stage (earlier stages always false).

    Char-filter output folds into the tokenizer stage (the schema
    keeps one token-typed column; Solr shows the raw folded string as
    its own row type). Driver-side by design — a one-string
    admin/debug call, same contract as ``analyzer.analyze_stages``.

    Returns (part, stage_idx, stage, pos, token, match) ordered by
    (part, stage_idx, pos).

    ref: solr/core/src/java/org/apache/solr/handler/
         FieldAnalysisRequestHandler.java (per-stage listing +
         FieldAnalysisResponse match marking)
    """
    import pandas as pd

    from lucene_solr_spark import analyzer as an

    unknown = set(params) - _ANALYSIS_KNOWN
    if unknown:
        raise ValueError(f"unknown /analysis params: {sorted(unknown)}")
    value = params.get("analysis.fieldvalue")
    if not value:
        raise ValueError("missing required param: analysis.fieldvalue")
    ftype = params.get("analysis.fieldtype", "text_general")
    if ftype not in _ANALYSIS_FIELDTYPES:
        raise ValueError(
            f"unknown field type {ftype!r} "
            f"(defined: {list(_ANALYSIS_FIELDTYPES)})")
    if ftype == "text_en":
        char_filters = (an.ascii_fold,)
        filters = (an.stop_filter, an.porter_filter)
    else:
        char_filters, filters = (), ()

    def run_stages(text: str) -> list[tuple[str, list[str]]]:
        s = pd.Series([text])
        for cf in char_filters:
            s = cf(s)
        toks = an.tokenize_pandas(s)
        stages = [("tokenizer", list(toks.iloc[0]))]
        for f in filters:
            toks = f(toks)
            stages.append((f.__name__, list(toks.iloc[0])))
        return stages

    idx_stages = run_stages(str(value))
    rows = []
    q = params.get("analysis.query")
    q_final: set = set()
    parts = [("index", idx_stages)]
    if q:
        q_stages = run_stages(str(q))
        q_final = set(q_stages[-1][1])
        parts.append(("query", q_stages))
    for part, stages in parts:
        last = len(stages) - 1
        for si, (stage, toks) in enumerate(stages):
            for pos, tok in enumerate(toks):
                rows.append((
                    part, si, stage, pos, tok,
                    part == "index" and si == last and tok in q_final,
                ))
    return spark.createDataFrame(
        rows,
        "part string, stage_idx long, stage string, pos long, "
        "token string, match boolean",
    ).orderBy("part", "stage_idx", "pos")


#: /update JSON doc schema — the collection's pinned fields
_UPDATE_DOC_SCHEMA = ("conv_id string, turn_idx int, role string, "
                      "text string, tool string, ts timestamp")
_UPDATE_KNOWN_CMDS = {"add", "delete", "commit"}


def update_json(spark, index_root: str, body: dict,
                batch_tag: int = 1) -> dict:
    """/update JSON command front door (UpdateRequestHandler JSON
    format): ``{"add": {"doc": {...}} | [docs...], "delete":
    {"id": "conv#turn"} | {"query": "..."} | [deletes...],
    "commit": {}}``. Pinned subset: the request MUST carry a commit
    command — this engine publishes atomically per request (adds
    become ONE appended micro-segment batch, deletes ride the
    tombstone machinery, and nothing is visible until the manifest
    commit — the same guarantee as the streaming NRT path, so
    cross-request soft-commit buffering is out of scope). Pinned
    command order: deletes → adds → commit, and adds must be NEW
    keys — neither live nor tombstoned (Solr's add is overwrite-by-
    uniqueKey; immutable segments + key-masking tombstones can't
    replace in place — a tombstone would hide the appended doc too —
    so in-place replace routes through the atomic-update/tlog path
    or a rebuild; bounded probes reject clashing adds instead of
    silently serving duplicate or invisible docs). Unknown commands
    and docs missing the key fields raise like the 400s
    UpdateRequestHandler returns.

    ref: solr/core/src/java/org/apache/solr/handler/loader/
    JsonLoader.java + update/processor/DistributedUpdateProcessor.java
    (add/delete/commit command routing)
    """
    import datetime as _dt

    from lucene_solr_spark.index.build import build_index
    from lucene_solr_spark.index.deletes import (
        delete_by_ids,
        delete_by_query,
    )

    if not isinstance(body, dict):
        raise ValueError("/update body must be a JSON object of "
                         "add/delete/commit commands")
    unknown = set(body) - _UPDATE_KNOWN_CMDS
    if unknown:
        raise ValueError(f"unknown /update commands: {sorted(unknown)}")
    if "commit" not in body:
        raise ValueError(
            "/update subset requires an explicit commit command "
            "(this engine publishes atomically per request)")

    adds_raw = body.get("add", [])
    if isinstance(adds_raw, dict):
        adds_raw = [adds_raw]
    docs = []
    for a in adds_raw:
        doc = a.get("doc") if isinstance(a, dict) and "doc" in a else a
        if not isinstance(doc, dict):
            raise ValueError(f"add command wants a doc object: {a!r}")
        missing = {"conv_id", "turn_idx", "text"} - set(doc)
        if missing:
            raise ValueError(
                f"add doc missing required fields {sorted(missing)}")
        ts = doc.get("ts")
        if isinstance(ts, str):
            ts = _parse_solr_date(ts)
        docs.append((
            str(doc["conv_id"]), int(doc["turn_idx"]),
            doc.get("role"), str(doc["text"]), doc.get("tool"),
            ts if ts is not None else _dt.datetime(2024, 1, 1),
        ))

    dels_raw = body.get("delete", [])
    if isinstance(dels_raw, dict):
        dels_raw = [dels_raw]
    del_ids: list[tuple[str, int]] = []
    del_queries: list[str] = []
    for d in dels_raw:
        if not isinstance(d, dict) or not {"id", "query"} & set(d):
            raise ValueError(
                f"delete command wants {{id}} or {{query}}: {d!r}")
        if "id" in d:
            m = _DOC_ID_RE.match(str(d["id"]))
            if not m:
                raise ValueError(
                    f"delete id must be '<conv_id>#<turn_idx>': "
                    f"{d['id']!r}")
            del_ids.append((m.group(1), int(m.group(2))))
        else:
            del_queries.append(str(d["query"]))

    out = {"adds": len(docs), "delete_ids": len(del_ids),
           "delete_queries": len(del_queries)}
    # VALIDATE EVERYTHING BEFORE THE FIRST COMMIT — a rejected
    # request must leave the index untouched (the per-request
    # atomicity this front door promises). Solr add = overwrite-by-
    # uniqueKey; this engine's segments are immutable and tombstones
    # mask by business key across ALL segments (a replace-tombstone
    # would hide the appended doc too), so adds must be NEW keys —
    # neither live, nor tombstoned, nor deleted BY THIS REQUEST.
    # In-place replace routes through the atomic-update/tlog path.
    del_q_specs = [parse(q, default_op="AND") for q in del_queries]
    if docs:
        from lucene_solr_spark.query.executor import IndexSearcher

        s_probe = IndexSearcher(spark, index_root)
        add_key_set = {(c, int(t)) for c, t, *_ in docs}
        dead = set(s_probe.deleted_keys) | {
            (str(c), int(t)) for c, t in del_ids}
        for dspec in del_q_specs:
            dead |= {
                (r.conv_id, int(r.turn_idx))
                for r in s_probe.docset(dspec)
                .join(F.broadcast(spark.createDataFrame(
                    sorted(add_key_set),
                    "conv_id string, turn_idx int")),
                    ["conv_id", "turn_idx"], "left_semi")
                .collect()  # bounded: ≤ |adds| rows survive the join
            }
        dead_clash = add_key_set & dead
        if dead_clash:
            raise ValueError(
                f"add ids are tombstoned {sorted(dead_clash)[:5]}: "
                "tombstones mask by business key across ALL segments "
                "(the appended doc would be invisible) — replace "
                "routes through the atomic-update/tlog path, or "
                "rebuild + clear-tombstones")
        add_keys = spark.createDataFrame(
            sorted(add_key_set), "conv_id string, turn_idx int")
        clash = (
            s_probe.docmap().select("conv_id", "turn_idx")
            .join(F.broadcast(add_keys), ["conv_id", "turn_idx"])
            .limit(5).collect()
        )
        if clash:
            raise ValueError(
                "add would overwrite existing ids "
                f"{[(r.conv_id, r.turn_idx) for r in clash]}: this "
                "subset appends NEW docs only — replace routes "
                "through the atomic-update/tlog path")
    # Pinned command order: deletes → adds → commit
    for dspec in del_q_specs:
        out["tombstones"] = delete_by_query(spark, index_root, dspec)
    if del_ids:
        out["tombstones"] = delete_by_ids(spark, index_root, del_ids)
    if docs:
        # ONE appended micro-segment batch (the NRT append path);
        # batch_tag keeps the segment namespace disjoint per request
        build_index(
            spark,
            spark.createDataFrame(docs, _UPDATE_DOC_SCHEMA),
            index_root, num_parts=1, resume=False,
            lineage_source=f"update-json-{batch_tag}",
            part_offset=batch_tag * 100_000,
            seg_prefix=f"u{int(batch_tag):06d}_",
        )
    return out


def update_xml(spark, index_root: str, payload: str,
               batch_tag: int = 1) -> dict:
    """/update XML front door (XMLLoader): the classic
    ``<update><add><doc><field name=..>..</field></doc></add>
    <delete><id>conv#turn</id><query>..</query></delete>
    <commit/></update>`` envelope (a bare ``<add>`` root also
    accepted), translated onto the SAME command path as
    :func:`update_json` — one validation pass, one atomic publish,
    identical add/delete/commit contracts. The request payload is
    driver-bounded by definition (one HTTP body); the corpus-scale
    XML path stays the distributed ``sources.xml_source`` decode.
    ref: solr/core/src/java/org/apache/solr/handler/loader/
    XMLLoader.java."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(payload)
    except ET.ParseError as e:
        raise ValueError(f"malformed /update XML: {e}") from None
    if root.tag == "add":
        add_nodes, del_nodes = [root], []
        has_commit = False
    elif root.tag == "update":
        unknown = {c.tag for c in root} - {"add", "delete", "commit"}
        if unknown:
            raise ValueError(
                f"unknown /update XML commands: {sorted(unknown)}")
        add_nodes = root.findall("add")
        del_nodes = root.findall("delete")
        has_commit = root.find("commit") is not None
    else:
        raise ValueError(
            f"expected <update> or <add> root, got <{root.tag}>")

    body: dict = {}
    adds = []
    for an in add_nodes:
        for doc in an.iterfind("doc"):
            d = {}
            for f in doc.iterfind("field"):
                name = f.get("name")
                if not name:
                    raise ValueError("<field> wants a name attribute")
                d[name] = f.text if f.text is not None else ""
            if "turn_idx" in d:
                d["turn_idx"] = int(d["turn_idx"])
            adds.append({"doc": d})
    if adds:
        body["add"] = adds
    dels = []
    for dn in del_nodes:
        for c in dn:
            if c.tag == "id":
                dels.append({"id": (c.text or "").strip()})
            elif c.tag == "query":
                dels.append({"query": (c.text or "").strip()})
            else:
                raise ValueError(
                    f"<delete> wants <id>/<query> children, got "
                    f"<{c.tag}>")
    if dels:
        body["delete"] = dels
    if has_commit:
        body["commit"] = {}
    return update_json(spark, index_root, body, batch_tag=batch_tag)


def update_csv(spark, index_root: str, payload: str,
               commit: bool = False, batch_tag: int = 1) -> dict:
    """/update CSV front door (CSVLoader): header row names the
    fields, every data row is one add doc, and ``commit`` rides the
    request params (the CSV body has no command syntax — exactly
    Solr's ``/update/csv?commit=true``). Translated onto the SAME
    validated command path as the JSON/XML loaders; commit=False
    raises like the JSON subset does (atomic-per-request engine).
    ref: solr/core/src/java/org/apache/solr/handler/loader/
    CSVLoader.java (CSVLoaderBase)."""
    import csv as _csv
    import io

    rows = list(_csv.reader(io.StringIO(payload)))
    rows = [r for r in rows if r and any(c.strip() for c in r)]
    if len(rows) < 2:
        raise ValueError("/update CSV wants a header row + data rows")
    header = [h.strip() for h in rows[0]]
    docs = []
    for i, r in enumerate(rows[1:], start=2):
        if len(r) != len(header):
            raise ValueError(
                f"CSV row {i} has {len(r)} fields, header has "
                f"{len(header)}")
        d = dict(zip(header, (c.strip() for c in r)))
        if "turn_idx" in d:
            d["turn_idx"] = int(d["turn_idx"])
        docs.append({"doc": d})
    body: dict = {"add": docs}
    if commit:
        body["commit"] = {}
    return update_json(spark, index_root, body, batch_tag=batch_tag)
