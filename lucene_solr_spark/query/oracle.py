"""DuckDB oracle SQL twin of the BM25 executor.

Generates, from the SAME :class:`BooleanSpec` logical plan, an ANSI-SQL
query DuckDB can run over the driver-registered ``documents`` view (via
the transcripts CTE). The driver compares it against the index engine's
result (row-count + schema + order-insensitive value hash) — this is the
correctness gate for the CORE query path, and the one independent
reference the index engine's scoring contracts are written against.

Scores are rounded to 4 decimals on BOTH sides: tf/df/N/doc_len are
exact integers and avgdl an exact int-sum ratio, so the index engine's
and DuckDB's float64 pipelines agree to ~1 ulp; rounding removes the ulp.
The top-k boundary is made engine-independent by ordering on the
ROUNDED score with the pinned (conv_id, turn_idx) tiebreak. Duels that
compare raw float64 scores ask :func:`bm25_oracle_sql` for
``round_to=None``; the golden top-k lists are read at ``round_to=6``.
"""

from __future__ import annotations

from lucene_solr_spark.query.model import B, K1, BooleanSpec
from lucene_solr_spark.transcripts import TRANSCRIPTS_ORACLE_CTE

ROUND = 4


def _sql_list(terms: tuple[str, ...] | list[str]) -> str:
    return ", ".join("'" + t.replace("'", "''") + "'" for t in terms)


def _phrase_clause(phrase: tuple[str, ...], slop: int = 0) -> str:
    n = len(phrase)
    if n == 1:
        return f"list_contains(toks, '{phrase[0]}')"
    if slop > 0:
        # pinned sloppy contract (in-order, pn - p1 <= slop + n - 1);
        # DuckDB arrays are 1-based, range(a, b) is half-open and
        # empty when a >= b (no descending-sequence guard needed).
        w = slop + n - 1
        expr = f"toks[i{n}] = '{phrase[n - 1]}'"
        for j in range(n - 1, 0, -1):
            hi = f"least(len(toks), i1 + {w})"
            inner = (
                f"len(list_filter(range(i{j} + 1, {hi} + 1), "
                f"i{j + 1} -> {expr})) > 0"
            )
            expr = f"toks[i{j}] = '{phrase[j - 1]}' AND {inner}"
        return (
            f"len(toks) >= {n} AND "
            f"len(list_filter(range(1, len(toks) - {n - 1} + 1), "
            f"i1 -> {expr})) > 0"
        )
    conds = " AND ".join(f"toks[i + {j}] = '{t}'" for j, t in enumerate(phrase))
    return (
        f"len(list_filter(range(1, len(toks) - {n} + 2), i -> {conds})) > 0"
    )


def _phrase_count_sql(phrase: tuple[str, ...], slop: int = 0) -> str:
    """Phrase OCCURRENCE COUNT (PhraseQuery freq for pf) — the
    matching branch of :func:`_phrase_clause` counting start positions
    instead of testing existence. slop>0 is edismax ps (model.pf_slop:
    valid start anchors, equal to the exact count at slop=0)."""
    n = len(phrase)
    if slop > 0 and n > 1:
        w = slop + n - 1
        expr = f"toks[i{n}] = '{phrase[n - 1]}'"
        for j in range(n - 1, 0, -1):
            hi = f"least(len(toks), i1 + {w})"
            inner = (
                f"len(list_filter(range(i{j} + 1, {hi} + 1), "
                f"i{j + 1} -> {expr})) > 0"
            )
            expr = f"toks[i{j}] = '{phrase[j - 1]}' AND {inner}"
        return (
            f"CASE WHEN len(toks) >= {n} THEN "
            f"len(list_filter(range(1, len(toks) - {n - 1} + 1), "
            f"i1 -> {expr})) ELSE 0 END"
        )
    conds = " AND ".join(f"toks[i + {j}] = '{t}'" for j, t in enumerate(phrase))
    return (
        f"len(list_filter(range(1, greatest(len(toks) - {n} + 2, 1)), "
        f"i -> {conds}))"
    )


def _span_clause(
    group: tuple[str, ...],
    slop: int,
    prefix_end: int | None = None,
    pos_start: int = 0,
) -> str:
    """Unordered span-near (window containment), DuckDB spelling —
    same anchored-window enumeration as the Spark predicate (DuckDB
    list slices are 1-based inclusive). ``prefix_end``: SpanFirstQuery
    — the same predicate over the truncated token prefix. ``pos_start``
    (with ``prefix_end``): SpanPositionRangeQuery — the same predicate
    over the 0-based position band [pos_start, prefix_end), i.e. the
    1-based inclusive slice toks[pos_start+1 : prefix_end]."""
    w = len(group) + slop
    if prefix_end is None:
        toks = "toks"
    else:
        toks = f"(toks[{pos_start + 1} : {prefix_end}])"
    return (
        f"len(list_filter(range(1, greatest(len({toks}) - {w} + 1, 1) + 1), "
        f"s -> list_has_all({toks}[s : s + {w} - 1], "
        f"[{_sql_list(group)}]))) > 0"
    )


def _span_not_clause(
    inc: tuple[str, ...], exc: tuple[str, ...], slop: int
) -> str:
    """SpanNotQuery, DuckDB spelling — same anchored sweep + span-end
    exclusion as scorer._span_not_docs."""
    w = len(inc) + slop
    firsts = [
        f"list_min(list_filter(range(s, least(s + {w} - 1, len(toks)) + 1), "
        f"i -> toks[i] = '{t}'))"
        for t in inc
    ]
    not_null = " AND ".join(f"({e}) IS NOT NULL" for e in firsts)
    span_end = f"greatest({', '.join(firsts)})" if len(firsts) > 1 else firsts[0]
    no_excl = (
        f"len(list_filter(range(s, ({span_end}) + 1), "
        f"j -> list_contains([{_sql_list(exc)}], toks[j]))) = 0"
        if exc
        else "true"
    )
    return (
        f"len(toks) >= {len(inc)} AND "
        f"len(list_filter(range(1, len(toks) + 1), "
        f"s -> CASE WHEN {not_null} THEN {no_excl} ELSE false END)) > 0"
    )


def _multi_phrase_clause(slots: tuple[tuple[str, ...], ...]) -> str:
    """MultiPhraseQuery adjacency, DuckDB spelling (1-based lists) —
    same contract as scorer._multi_phrase_docs."""
    n = len(slots)
    conds = " AND ".join(
        f"list_contains([{_sql_list(slot)}], toks[s + {j}])"
        for j, slot in enumerate(slots)
    )
    return (
        f"len(toks) >= {n} AND "
        f"len(list_filter(range(1, len(toks) - {n - 1} + 1), "
        f"s -> {conds})) > 0"
    )


def _span_within_clause(
    little: str, big: tuple[str, ...], slop: int
) -> str:
    """SpanWithinQuery, DuckDB spelling — same per-owner anchor sweep
    as scorer._span_within_docs: anchors q
    hold a big-group term (the owner, pinned at q); every OTHER big
    term contributes its LAST in-window occurrence; the little term
    must occur in [q, greatest(picks)]."""
    w = len(big) + slop
    picks = [
        f"CASE WHEN toks[q] = '{t}' THEN q "
        f"ELSE list_max(list_filter("
        f"range(q, least(q + {w} - 1, len(toks)) + 1), "
        f"i -> toks[i] = '{t}')) END"
        for t in big
    ]
    not_null = " AND ".join(f"({e}) IS NOT NULL" for e in picks)
    m_end = f"greatest({', '.join(picks)})" if len(picks) > 1 else picks[0]
    contains = (
        f"len(list_filter(range(q, ({m_end}) + 1), "
        f"j -> toks[j] = '{little}')) > 0"
    )
    return (
        f"len(toks) >= {len(big)} AND "
        f"len(list_filter(range(1, len(toks) + 1), "
        f"q -> list_contains([{_sql_list(big)}], toks[q]) AND "
        f"CASE WHEN {not_null} THEN {contains} ELSE false END)) > 0"
    )


#: transcripts column types (transcripts.py TRANSCRIPT_SCHEMA) — range
#: literals are typed by the TARGET FIELD, never by bound parseability
#: (ADVICE r2: role:[1 TO 5] must be lexicographic in the index engine
#: and the DuckDB oracle alike)
_NUMERIC_RANGE_FIELDS = frozenset({"turn_idx", "doc_id", "n_chars"})


def _range_sql(fld: str, v: str) -> str:
    """Range bound → typed DuckDB literal matching the Spark coercion
    (ts → TIMESTAMP, numeric COLUMN bare, else quoted string)."""
    if fld == "ts":
        return f"TIMESTAMP '{v}'"
    if fld in _NUMERIC_RANGE_FIELDS:
        float(v)  # validate: numeric field needs a numeric bound
        return v
    return "'" + v.replace("'", "''") + "'"


#: default DuckDB spelling of the pinned analyzer
DEFAULT_TOKS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"


def bm25_oracle_sql(
    spec: BooleanSpec,
    toks_sql: str = DEFAULT_TOKS_SQL,
    round_to: int | None = ROUND,
) -> str:
    """Pinned top-k (conv_id, turn_idx, score) of ``spec``. The score is
    rounded to ``round_to`` decimals and the top-k cut orders on that
    rounded score; ``round_to=None`` selects and orders on the raw
    float64 score."""
    if spec.needs_rewrite:
        raise ValueError(
            "spec holds unrewritten multiterm nodes — expand via "
            "IndexSearcher.rewrite first "
            "(the oracle needs concrete terms)"
        )
    terms = spec.scoring_terms
    must = spec.required_terms
    doc_filters = []
    for fld, val in spec.filters:
        doc_filters.append(f"{fld} = '{val}'")
    for fld, val in spec.not_filters:
        doc_filters.append(f"({fld} IS DISTINCT FROM '{val}')")
    for fld, vals in spec.in_filters:
        doc_filters.append(f"{fld} IN ({_sql_list(vals)})")
    for fld in spec.exists_filters:
        doc_filters.append(f"{fld} IS NOT NULL")
    for fld in spec.missing_filters:
        doc_filters.append(f"{fld} IS NULL")
    for fld, lo, hi in spec.range_filters:
        if lo is not None:
            doc_filters.append(f"{fld} >= {_range_sql(fld, lo)}")
        if hi is not None:
            doc_filters.append(f"{fld} <= {_range_sql(fld, hi)}")
    for ph in spec.phrases:
        doc_filters.append(_phrase_clause(ph, spec.phrase_slop))
    for mp in spec.multi_phrases:
        doc_filters.append(_multi_phrase_clause(mp))
    for grp in spec.span_near:
        doc_filters.append(_span_clause(grp, spec.span_slop))
    for grp in spec.span_first:
        doc_filters.append(
            _span_clause(grp, spec.span_slop, prefix_end=spec.span_first_end)
        )
    for grp in spec.span_range:
        doc_filters.append(
            _span_clause(
                grp,
                spec.span_slop,
                prefix_end=spec.span_range_end,
                pos_start=spec.span_range_start,
            )
        )
    if spec.span_or:
        ors = " OR ".join(
            f"({_span_clause(g, spec.span_slop)})" for g in spec.span_or
        )
        doc_filters.append(f"({ors})")
    for inc, exc in spec.span_not:
        doc_filters.append(_span_not_clause(inc, exc, spec.span_slop))
    for little, big in spec.span_within:
        doc_filters.append(_span_within_clause(little, big, spec.span_slop))
    for ph in spec.must_not_phrases:
        doc_filters.append(f"NOT ({_phrase_clause(ph, spec.phrase_slop)})")
    if spec.must_not:
        doc_filters.append(f"NOT list_has_any(toks, [{_sql_list(spec.must_not)}])")
    where_docs = (" WHERE " + " AND ".join(doc_filters)) if doc_filters else ""

    must_filter = (
        f"HAVING sum(CASE WHEN term IN ({_sql_list(must)}) THEN 1 ELSE 0 END)"
        f" = {len(must)}"
        if must
        else ""
    )
    if spec.boosts:
        _cases = " ".join(f"WHEN '{t}' THEN {float(b)}" for t, b in spec.boosts)
        boost_case = f"(CASE tf.term {_cases} ELSE 1.0 END)"
    else:
        boost_case = "1.0"

    # raw scores sum each doc's addends in one fixed order: DuckDB's
    # parallel sum() order varies by run, which moves a 3+-addend sum
    # by an ulp and can split an exact tie
    sum_open, sum_close = (
        ("list_sum(list(", "ORDER BY {}))") if round_to is None else ("sum(", ")")
    )

    mm_join = ""
    if spec.should and spec.min_should_match > 0:
        mm_join = f"""
        AND (conv_id, turn_idx) IN (
          SELECT (conv_id, turn_idx) FROM tf
          WHERE term IN ({_sql_list(spec.should)})
            AND (conv_id, turn_idx) IN (SELECT (conv_id, turn_idx) FROM hits)
          GROUP BY conv_id, turn_idx
          HAVING count(*) >= {spec.min_should_match})"""

    body = f"""
WITH {TRANSCRIPTS_ORACLE_CTE},
docs AS (
  SELECT conv_id, turn_idx, role, tool, ts,
         {toks_sql} AS toks
  FROM transcripts
),
docs2 AS (SELECT *, len(toks) AS doc_len FROM docs),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(doc_len) AS DOUBLE) / count(*) AS avgdl
  FROM docs2
),
tokens AS (
  SELECT conv_id, turn_idx, doc_len, unnest(toks) AS term FROM docs2
),
tf AS (
  SELECT conv_id, turn_idx, term, count(*) AS tf, any_value(doc_len) AS doc_len
  FROM tokens WHERE term IN ({_sql_list(terms)})
  GROUP BY conv_id, turn_idx, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
hits AS (SELECT conv_id, turn_idx FROM docs2{where_docs}),
scored AS (
  SELECT tf.conv_id, tf.turn_idx,
         {sum_open}
           {boost_case}
           * ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * ({K1} + 1))
           / (tf.tf + {K1} * (1 - {B} + {B} * tf.doc_len / stats.avgdl))
         {sum_close.format("tf.term")} AS score
  FROM tf
  JOIN dfreq USING (term)
  CROSS JOIN stats
  WHERE (tf.conv_id, tf.turn_idx) IN (SELECT (conv_id, turn_idx) FROM hits)
        {mm_join}
  GROUP BY tf.conv_id, tf.turn_idx
  {must_filter}
)
"""
    if spec.pf_phrases:
        # edismax pf twin (see model.pf_phrases): phrase idf sums from
        # VALUES-joined per-term dfs (duplicates counted, BoostQuery
        # folded), per-doc exact occurrence counts, bonus LEFT-joined
        # onto the base boolean score.
        bm = spec.boost_map
        pairs = ", ".join(
            f"({i}, '{t}', {float(bm.get(t, 1.0))})"
            for i, ph in enumerate(spec.pf_phrases)
            for t in ph
        )
        pf_terms = sorted({t for ph in spec.pf_phrases for t in ph})
        cnt_rows = "\n  UNION ALL\n".join(
            f"  SELECT conv_id, turn_idx, {i} AS ph_id, "
            f"{_phrase_count_sql(ph, spec.pf_slop)} AS pftf, doc_len FROM docs2"
            for i, ph in enumerate(spec.pf_phrases)
        )
        body = body.replace("\nscored AS (", "\nscored_base AS (")
        body = body.rstrip("\n") + f""",
pfstats AS (
  SELECT term, count(DISTINCT (conv_id, turn_idx)) AS df FROM tokens
  WHERE term IN ({_sql_list(pf_terms)}) GROUP BY term
),
pfpairs AS (SELECT * FROM (VALUES {pairs}) AS t(ph_id, term, tboost)),
pfidf AS (
  SELECT ph_id,
         sum(tboost * ln(1.0 + (stats.n_docs - coalesce(pfstats.df, 0) + 0.5)
                               / (coalesce(pfstats.df, 0) + 0.5))) AS idf_sum
  FROM pfpairs LEFT JOIN pfstats USING (term) CROSS JOIN stats
  GROUP BY ph_id
),
pfcnt AS (
{cnt_rows}
),
pfbonus AS (
  SELECT conv_id, turn_idx,
         {sum_open}{float(spec.pf_boost)} * pfidf.idf_sum
             * (pfcnt.pftf * ({K1} + 1))
             / (pfcnt.pftf + {K1} * (1 - {B} + {B} * pfcnt.doc_len / stats.avgdl))
         {sum_close.format("ph_id")} AS bonus
  FROM pfcnt JOIN pfidf USING (ph_id) CROSS JOIN stats
  WHERE pfcnt.pftf > 0
  GROUP BY conv_id, turn_idx
),
scored AS (
  SELECT sb.conv_id, sb.turn_idx, sb.score + coalesce(pb.bonus, 0.0) AS score
  FROM scored_base sb LEFT JOIN pfbonus pb USING (conv_id, turn_idx)
)
"""
    score = "score" if round_to is None else f"round(score, {round_to})"
    return (body + f"""
SELECT conv_id, turn_idx, {score} AS score
FROM scored
ORDER BY {score} DESC, conv_id, turn_idx
LIMIT {spec.k}
""").strip()


def bm25_rerank_oracle_sql(
    spec: BooleanSpec,
    rr_spec: BooleanSpec,
    re_rank_docs: int,
    weight: float,
    k: int,
) -> str:
    """ReRank twin (rq={!rerank}): the main query's top re_rank_docs
    (rounded-score head, pinned tiebreak) LEFT-joined with the rerank
    query's rounded scores; combined = head + weight × coalesce(rr, 0),
    re-rounded — exactly IndexSearcher.rerank's pinned combination."""
    from dataclasses import replace

    head_sql = bm25_oracle_sql(replace(spec, k=re_rank_docs))
    rr_sql = bm25_oracle_sql(replace(rr_spec, k=1_000_000_000))
    comb = f"round(h.score + {float(weight)} * coalesce(r.score, 0.0), {ROUND})"
    return f"""
WITH head AS (SELECT * FROM ({head_sql})),
rr AS (SELECT * FROM ({rr_sql}))
SELECT h.conv_id, h.turn_idx, {comb} AS score
FROM head h LEFT JOIN rr r
  ON h.conv_id = r.conv_id AND h.turn_idx = r.turn_idx
ORDER BY {comb} DESC, h.conv_id, h.turn_idx
LIMIT {k}""".strip()


def bm25_conv_oracle_sql(spec: BooleanSpec, k: int, score_mode: str = "max") -> str:
    """Conversation-level (block-join parent) twin: aggregate the
    per-turn scored CTE by conv_id with the Lucene ScoreMode, then
    round AFTER aggregation (matching IndexSearcher.search_conversations)."""
    agg = {"max": "max(score)", "total": "sum(score)", "avg": "avg(score)"}[score_mode]
    per_turn = bm25_oracle_sql(spec)
    # strip the final per-turn SELECT, keep the WITH ... scored body
    body = per_turn.split("\nSELECT conv_id, turn_idx, round(score")[0]
    return (body + f"""
SELECT conv_id, round({agg}, {ROUND}) AS score,
       count(*) AS n_turns
FROM scored GROUP BY conv_id
ORDER BY round({agg}, {ROUND}) DESC, conv_id
LIMIT {k}
""").strip()


def bm25_collapse_oracle_sql(spec: BooleanSpec, k: int) -> str:
    """Field-collapsing twin (CollapsingQParserPlugin analog through
    the index engine): keep each conversation's best-scoring turn
    (rounded score desc, turn_idx asc — an engine-independent
    boundary), then the pinned top-k total order over the survivors."""
    per_turn = bm25_oracle_sql(spec)
    body = per_turn.split("\nSELECT conv_id, turn_idx, round(score")[0]
    return (body + f"""
SELECT conv_id, turn_idx, score FROM (
  SELECT conv_id, turn_idx, round(score, {ROUND}) AS score,
         row_number() OVER (
           PARTITION BY conv_id
           ORDER BY round(score, {ROUND}) DESC, turn_idx) AS rn
  FROM scored)
WHERE rn = 1
ORDER BY score DESC, conv_id, turn_idx
LIMIT {k}
""").strip()


def bm25_expand_oracle_sql(spec: BooleanSpec, k: int, rows_per: int) -> str:
    """ExpandComponent twin: for the top-k collapsed conversation heads
    (same boundary as :func:`bm25_collapse_oracle_sql`), the next
    ``rows_per`` best matching turns of each conversation (the head
    itself excluded), ordered (conv_id, rank)."""
    per_turn = bm25_oracle_sql(spec)
    body = per_turn.split("\nSELECT conv_id, turn_idx, round(score")[0]
    return (body + f""",
ranked AS (
  SELECT conv_id, turn_idx, round(score, {ROUND}) AS score,
         row_number() OVER (
           PARTITION BY conv_id
           ORDER BY round(score, {ROUND}) DESC, turn_idx) AS rn
  FROM scored),
heads AS (
  SELECT conv_id FROM ranked WHERE rn = 1
  ORDER BY score DESC, conv_id, turn_idx LIMIT {k})
SELECT conv_id, turn_idx, score, CAST(rn - 1 AS BIGINT) AS expand_rank
FROM ranked
WHERE conv_id IN (SELECT conv_id FROM heads)
  AND rn > 1 AND rn <= {rows_per} + 1
ORDER BY conv_id, expand_rank
""").strip()


def bm25_highlight_oracle_sql(spec: BooleanSpec, terms: tuple[str, ...]) -> str:
    """Index-path highlighter twin: the pinned top-k, joined back to
    the stored token stream, every query-term occurrence wrapped in
    <em> (token-level marking — agrees with the analyzer by
    construction, the UnifiedHighlighter approach)."""
    per_turn = bm25_oracle_sql(spec)
    body = per_turn.split("\nSELECT conv_id, turn_idx, round(score")[0]
    return (body + f""",
topk AS (
  SELECT conv_id, turn_idx, round(score, {ROUND}) AS score
  FROM scored
  ORDER BY round(score, {ROUND}) DESC, conv_id, turn_idx
  LIMIT {spec.k})
SELECT t.conv_id, t.turn_idx, t.score,
  array_to_string(list_transform(d.toks, tk ->
    CASE WHEN tk IN ({_sql_list(terms)})
         THEN '<em>' || tk || '</em>' ELSE tk END), ' ') AS snippet
FROM topk t JOIN docs2 d USING (conv_id, turn_idx)
ORDER BY t.score DESC, t.conv_id, t.turn_idx
""").strip()


def bm25_passages_oracle_sql(
    spec: BooleanSpec,
    terms: tuple[str, ...],
    frag_tokens: int,
    snippets: int,
) -> str:
    """Multi-snippet highlighter twin (hl.snippets>1 + fragsize): the
    pinned top-k docs, token stream cut into fixed ``frag_tokens``
    passages, each passage scored by query-term occurrence count,
    top ``snippets`` non-empty passages per doc (score desc, passage
    index tiebreak) — the deterministic passage-selection contract
    both engines pin."""
    per_turn = bm25_oracle_sql(spec)
    body = per_turn.split("\nSELECT conv_id, turn_idx, round(score")[0]
    ft = frag_tokens
    return (body + f""",
topk AS (
  SELECT conv_id, turn_idx, round(score, {ROUND}) AS score
  FROM scored
  ORDER BY round(score, {ROUND}) DESC, conv_id, turn_idx
  LIMIT {spec.k}),
passes AS (
  SELECT t.conv_id, t.turn_idx, t.score, d.toks,
         unnest(range(0, CAST(ceil(len(d.toks) / {ft}.0) AS BIGINT))) AS p
  FROM topk t JOIN docs2 d USING (conv_id, turn_idx)),
pscored AS (
  SELECT conv_id, turn_idx, score, p,
         list_slice(toks, p * {ft} + 1,
                    least((p + 1) * {ft}, len(toks))) AS ptoks
  FROM passes),
ranked AS (
  SELECT conv_id, turn_idx, score, CAST(p AS BIGINT) AS passage,
         CAST(len(list_filter(ptoks, tk ->
              tk IN ({_sql_list(terms)}))) AS BIGINT) AS pscore,
         array_to_string(list_transform(ptoks, tk ->
           CASE WHEN tk IN ({_sql_list(terms)})
                THEN '<em>' || tk || '</em>' ELSE tk END), ' ') AS snippet,
         row_number() OVER (
           PARTITION BY conv_id, turn_idx
           ORDER BY len(list_filter(ptoks, tk ->
                    tk IN ({_sql_list(terms)}))) DESC, p) AS rn
  FROM pscored)
SELECT conv_id, turn_idx, score, passage, pscore, snippet
FROM ranked WHERE rn <= {snippets} AND pscore > 0
ORDER BY score DESC, conv_id, turn_idx, passage
""").strip()


def bm25_explain_oracle_sql(spec: BooleanSpec) -> str:
    """debugQuery twin: per-term (tf, df, idf, contrib) breakdown for
    the query's TOP-1 doc (the pinned total order makes the chosen doc
    engine-independent). Matching clauses only, ordered by term."""
    per_turn = bm25_oracle_sql(spec)
    body = per_turn.split("\nSELECT conv_id, turn_idx, round(score")[0]
    return (body + f""",
top1 AS (
  SELECT conv_id, turn_idx FROM scored
  ORDER BY round(score, {ROUND}) DESC, conv_id, turn_idx LIMIT 1)
SELECT tf.term, tf.tf, dfreq.df,
       round(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)),
             {ROUND}) AS idf,
       round(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (tf.tf * ({K1} + 1))
             / (tf.tf + {K1} * (1 - {B} + {B} * tf.doc_len / stats.avgdl)),
             {ROUND}) AS contrib
FROM tf
JOIN top1 USING (conv_id, turn_idx)
JOIN dfreq USING (term)
CROSS JOIN stats
ORDER BY tf.term
""").strip()
