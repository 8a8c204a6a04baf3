"""Logical query IR — the analog of Lucene's ``Query`` tree.

Reference: ``lucene/core/src/java/org/apache/lucene/search/Query.java``
subclasses (TermQuery, BooleanQuery, PhraseQuery, …) and Solr's QParser
output. Ours is a small dataclass tree produced by
:mod:`lucene_solr_spark.query.parser` and consumed by both executors,
which is what guarantees rank-identity between them: one logical plan,
two physical strategies.
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: Pinned BM25 constants — BM25Similarity.java defaults.
K1 = 1.2
B = 0.75


@dataclass(frozen=True)
class BooleanSpec:
    """A normalized boolean query over analyzed terms.

    Mirrors BooleanQuery's four occur buckets
    (``lucene/core/src/java/org/apache/lucene/search/BooleanClause.java``):
    MUST = `must`, SHOULD = `should` (with `min_should_match`,
    MinShouldMatchSumScorer semantics), MUST_NOT = `must_not`, and
    FILTER = `filters` (non-scoring, Solr `fq`).

    `phrases` are exact-adjacency phrase constraints (PhraseQuery slop=0);
    each phrase's terms also contribute MUST clauses for scoring — our
    pinned phrase-scoring contract (SURVEY §7.5): phrase = term-AND for
    scores + adjacency as a two-phase filter (TwoPhaseIterator analog).
    """

    must: tuple[str, ...] = ()
    should: tuple[str, ...] = ()
    must_not: tuple[str, ...] = ()
    phrases: tuple[tuple[str, ...], ...] = ()
    min_should_match: int = 0
    filters: tuple[tuple[str, str], ...] = ()  # (field, value) exact matches
    #: Negated phrase constraints (``-"a b"`` / ``NOT "a b"``): docs
    #: containing the phrase are excluded; terms do NOT score.
    #: phrase_slop applies to these like to positive phrases.
    must_not_phrases: tuple[tuple[str, ...], ...] = ()
    #: Negated field filters (``-field:value``): doc matches when the
    #: field differs OR is missing (Lucene MUST_NOT-over-TermQuery
    #: semantics: absence matches).
    not_filters: tuple[tuple[str, str], ...] = ()
    k: int = 10
    #: SloppyPhraseMatcher (P9): pinned in-order contract — terms in
    #: order with total intervening gap ≤ slop (∃ p1<…<pn with
    #: pn-p1 ≤ slop+n-1); 0 = exact adjacency. Any phrase arity.
    #: (Lucene's out-of-order transposition matches are out of scope.)
    phrase_slop: int = 0
    #: BoostQuery (P14) / edismax qf weights: per-term score multiplier
    #: applied to that term's BM25 contribution (absent term → 1.0).
    boosts: tuple[tuple[str, float], ...] = ()
    #: Inclusive range filters (TermRangeQuery / PointRangeQuery as a
    #: non-scoring fq, ``field:[lo TO hi]``): (field, lo, hi) with
    #: None = open end; bounds compare in the field's native type
    #: (ts → timestamp, turn_idx → int, strings lexicographic).
    range_filters: tuple[tuple[str, str | None, str | None], ...] = ()
    #: TermsQParser (``{!terms f=field}v1,v2,...``): non-scoring
    #: set-membership filter — doc matches when the field equals ANY
    #: listed value (a constant-score OR of TermQuery filters; Solr
    #: builds a TermInSetQuery). (field, (values...)) conjunctive with
    #: the other fq clauses; missing field never matches.
    #: ref: solr/core/src/java/org/apache/solr/search/TermsQParserPlugin.java
    in_filters: tuple[tuple[str, tuple[str, ...]], ...] = ()
    #: FieldValueQuery — the ``field:*`` fq idiom (ExistsQuery over
    #: docvalues): doc matches when the field HAS a value.
    #: ``missing_filters`` is the negated idiom ``-field:*`` (doc
    #: matches when the field is missing/null). Both are non-scoring
    #: fq clauses riding the same mask path as filters/in_filters
    #: (incl. multi-select exclusion).
    #: ref: solr/core/src/java/org/apache/solr/search/
    #: SolrQueryParserBase.java (getWildcardQuery '*' →
    #: FieldValueQuery), lucene/core/src/java/org/apache/lucene/
    #: search/DocValuesFieldExistsQuery.java
    exists_filters: tuple[str, ...] = ()
    missing_filters: tuple[str, ...] = ()
    #: SpanNearQuery(inOrder=false) — pinned UNORDERED window contract:
    #: each group of DISTINCT terms must co-occur within some window of
    #: ``len(group) + span_slop`` consecutive tokens (equivalently
    #: ∃ one position per term with max−min ≤ len+slop−1), any order.
    #: Like phrases, group terms also contribute MUST scoring; the
    #: containment is a two-phase filter. Lucene's payloads and
    #: ordered-with-transpositions stay out of scope.
    span_near: tuple[tuple[str, ...], ...] = ()
    span_slop: int = 0
    #: SpanOrQuery over SpanNearQuery(inOrder=false) clauses: ONE
    #: disjunction — the doc matches when ANY listed group satisfies
    #: the span_near window contract (window = len(group)+span_slop).
    #: Terms of every alternative contribute OPTIONAL (SHOULD-like)
    #: scoring: present terms score, absent ones don't — no alternative
    #: is required, so none of its terms can be MUST.
    #: ref: lucene/core/src/java/org/apache/lucene/search/spans/SpanOrQuery.java
    span_or: tuple[tuple[str, ...], ...] = ()
    #: SpanNotQuery: (include_group, exclude_terms) pairs — pinned
    #: contract: ∃ one position per include term with max−min ≤
    #: len(include)+span_slop−1 such that NO exclude-term occurrence
    #: lies within [min, max] of those positions (span-overlap
    #: exclusion, SpanNotQuery pre=post=0). Include terms contribute
    #: MUST scoring (like span_near); exclude terms never score but
    #: their postings must be fetched (lookup_terms).
    #: ref: lucene/core/src/java/org/apache/lucene/search/spans/SpanNotQuery.java
    span_not: tuple[tuple[tuple[str, ...], tuple[str, ...]], ...] = ()
    #: SpanFirstQuery: the group must satisfy the UNORDERED span_near
    #: window contract with every matched position inside the first
    #: ``span_first_end`` tokens of the doc (Lucene: spans.endPosition()
    #: ≤ end). Equivalent to running the span_near match on the
    #: truncated token prefix — which is exactly how all three
    #: executors spell it. Group terms contribute MUST scoring (like
    #: span_near); the containment is a two-phase filter.
    #: ref: lucene/core/src/java/org/apache/lucene/search/spans/SpanFirstQuery.java
    span_first: tuple[tuple[str, ...], ...] = ()
    span_first_end: int = 0
    #: SpanPositionRangeQuery: the group must satisfy the UNORDERED
    #: span_near window contract with every matched position inside
    #: ``[span_range_start, span_range_end)`` (0-based; Lucene checks
    #: spans.startPosition() ≥ start AND spans.endPosition() ≤ end).
    #: span_first is the ``start=0`` special case. Window containment
    #: depends only on relative distances, so this is equivalent to
    #: running the span_near match on the token SUB-ARRAY
    #: ``toks[start:end]`` — exactly how the DuckDB oracle spells
    #: it; the index scorer filters occurrences to the
    #: absolute-position band instead (same match set). Group terms
    #: contribute MUST scoring; the containment is a two-phase filter.
    #: ref: lucene/core/src/java/org/apache/lucene/search/spans/SpanPositionRangeQuery.java
    span_range: tuple[tuple[str, ...], ...] = ()
    span_range_start: int = 0
    span_range_end: int = 0
    #: SpanWithinQuery: (little_term, big_group) pairs — pinned
    #: contract: ∃ one position per big-group term with max−min ≤
    #: len(big)+span_slop−1 (the span_near window) such that SOME
    #: occurrence of the little term lies within [min, max] of those
    #: positions. Containment is positional — a doc holding all the
    #: terms with the little one OUTSIDE every qualifying big span
    #: does NOT match (the discriminator vs plain conjunction). All
    #: terms (big ∪ little) contribute MUST scoring; the containment
    #: is a two-phase filter. Exactness (per-owner anchor sweep): a
    #: true witness choice C with min=q — an occurrence of owner term
    #: T — stays a witness after re-choosing T at q and every other
    #: term at its LATEST in-window occurrence (all picks remain in
    #: [q, q+w−1], min stays q, max only grows), so sweeping anchors
    #: per owner with M = max(q, latest-in-window of the others) finds
    #: every match and invents none ([q, M] is itself a valid span).
    #: ref: lucene/core/src/java/org/apache/lucene/search/spans/
    #: SpanWithinQuery.java (little within big; pre=post=0)
    span_within: tuple[tuple[str, tuple[str, ...]], ...] = ()
    #: MultiPhraseQuery: exact-adjacency phrases where each SLOT
    #: admits ALTERNATIVE terms — ∃ start s with toks[s+i] ∈ slot_i
    #: for every slot (the query-time synonym-expansion phrase,
    #: IndexSearcher "multi-phrase"). Slot terms contribute OPTIONAL
    #: (SHOULD-like) scoring — present terms score, absent ones don't
    #: (an alternative is never required, so none of its terms can be
    #: MUST); the adjacency is a two-phase filter. Slop stays out of
    #: scope (Lucene's sloppy multi-phrase repositioning rules are a
    #: separate contract — don't blur it into phrase_slop).
    #: ref: lucene/core/src/java/org/apache/lucene/search/
    #: MultiPhraseQuery.java
    multi_phrases: tuple[tuple[tuple[str, ...], ...], ...] = ()
    #: UNREWRITTEN MultiTermQuery nodes from the parser (WildcardQuery
    #: ``te?t*`` / RegexpQuery ``/re/``). Executors NEVER see these:
    #: ``IndexSearcher.rewrite`` (dictionary scan) must expand them
    #: into SHOULD TermQuery clauses first — scoring with them present
    #: raises (the DuckDB oracle too). Negated multiterm is rejected at parse time (the
    #: accept-and-invert trap).
    wildcards: tuple[str, ...] = ()
    regexps: tuple[str, ...] = ()
    #: edismax ``pf`` (phrase-boost) clauses — OPTIONAL exact-adjacency
    #: phrase queries added on the SHOULD side: they never constrain
    #: matching; a matching doc gains ``pf_boost × (Σ idf(term_i)) ×
    #: tf·(k1+1)/(tf+k1·norm)`` with tf = the doc's exact phrase
    #: occurrence count — Lucene's PhraseQuery scoring (PhraseWeight:
    #: idf = sum over the phrase's term stats, duplicates counted; tf =
    #: phrase freq), no phrase-level df needed. Per-term BoostQuery
    #: multipliers fold into the pf idf sum exactly as they fold into
    #: term scoring. ``pf_slop`` is edismax ``ps``: with slop > 0 the
    #: phrase freq counts START anchors p1 with toks[p1]=term_1 and an
    #: in-order chain p1<…<pn, pn−p1 ≤ slop+n−1 (at slop=0 this IS the
    #: exact n-gram occurrence count — one pinned counting family in
    #: the index engine and the DuckDB oracle).
    #: ref: solr/core/src/java/org/apache/solr/search/ExtendedDismaxQParser.java
    #: (pf/pf2/pf3/ps), lucene/core/src/java/org/apache/lucene/search/PhraseQuery.java
    pf_phrases: tuple[tuple[str, ...], ...] = ()
    pf_boost: float = 1.0
    pf_slop: int = 0

    def __post_init__(self) -> None:
        # Lucene rejects boost < 0 (BoostQuery ctor): negative idf
        # breaks WAND soundness — per-block ub(max_tf, min_dl) becomes
        # a lower bound and pruning can drop true top-k docs.
        for t, b in self.boosts:
            if b < 0:
                raise ValueError(f"negative boost {b} for term {t!r}")
        for grp in (
            self.span_near + self.span_or + self.span_first + self.span_range
        ):
            if len(set(grp)) != len(grp):
                raise ValueError(f"span group has duplicate terms: {grp}")
        if self.span_first and self.span_first_end < 1:
            raise ValueError("span_first requires span_first_end >= 1")
        if self.span_range and not (
            0 <= self.span_range_start < self.span_range_end
        ):
            raise ValueError(
                "span_range requires 0 <= span_range_start < span_range_end"
            )
        if self.pf_boost < 0:
            raise ValueError(f"negative pf_boost {self.pf_boost}")
        if self.pf_slop < 0:
            raise ValueError(f"negative pf_slop {self.pf_slop}")
        for ph in self.pf_phrases:
            if len(ph) < 2:
                raise ValueError(f"pf phrase needs >= 2 terms: {ph}")
        for inc, exc in self.span_not:
            if len(set(inc)) != len(inc):
                raise ValueError(f"span_not include has duplicates: {inc}")
            if set(inc) & set(exc):
                raise ValueError(
                    f"span_not include/exclude overlap: {set(inc) & set(exc)}"
                )
        for mp in self.multi_phrases:
            if len(mp) < 2:
                raise ValueError(f"multi_phrase needs >= 2 slots: {mp}")
            for slot in mp:
                if not slot:
                    raise ValueError(f"multi_phrase has an empty slot: {mp}")
                if len(set(slot)) != len(slot):
                    raise ValueError(
                        f"multi_phrase slot has duplicates: {slot}"
                    )
        for little, big in self.span_within:
            if len(set(big)) != len(big):
                raise ValueError(f"span_within big has duplicates: {big}")
            if len(big) < 2:
                # a 1-term big span is a single position — nothing can
                # lie within it but itself
                raise ValueError(f"span_within big needs >= 2 terms: {big}")
            if little in big:
                raise ValueError(
                    f"span_within little {little!r} is in the big group"
                )

    @property
    def needs_rewrite(self) -> bool:
        """True while unexpanded MultiTermQuery nodes remain."""
        return bool(self.wildcards or self.regexps)

    @property
    def boost_map(self) -> dict[str, float]:
        return dict(self.boosts)

    @property
    def needs_positions(self) -> bool:
        """True when any constraint consumes the position stream. The
        postings scan drops the pos columns otherwise — at corpus
        scale the position payload dominates postings bytes (measured
        ~60% of a 10M-turn index), so a pure term/boolean query must
        never move it off the parquet reader (Lucene reads the .pos
        file only for positional queries — the same IO contract)."""
        return bool(
            self.phrases or self.must_not_phrases or self.multi_phrases
            or self.span_near or self.span_or or self.span_not
            or self.span_first or self.span_range or self.span_within
            or self.pf_phrases
        )

    @property
    def lookup_terms(self) -> tuple[str, ...]:
        """Every term whose postings the executor must fetch: scoring
        terms + MUST_NOT terms + negated-phrase terms, deduped."""
        seen: dict[str, None] = {}
        for t in self.scoring_terms + self.must_not:
            seen.setdefault(t, None)
        for p in self.must_not_phrases:
            for t in p:
                seen.setdefault(t, None)
        for _inc, exc in self.span_not:
            for t in exc:  # exclusion needs positions, never scores
                seen.setdefault(t, None)
        for p in self.pf_phrases:
            for t in p:  # pf needs positions + idf, not term scoring
                seen.setdefault(t, None)
        return tuple(seen)

    @property
    def scoring_terms(self) -> tuple[str, ...]:
        """Deduped terms contributing to the score, in first-seen order.

        Fixed order = fixed float summation order = deterministic scores
        (SURVEY §7.3 rank-identity hard part).
        """
        seen: dict[str, None] = {}
        for t in self.must + self.should:
            seen.setdefault(t, None)
        for p in (
            self.phrases + self.span_near + self.span_first + self.span_range
        ):
            for t in p:
                seen.setdefault(t, None)
        for inc, _exc in self.span_not:
            for t in inc:
                seen.setdefault(t, None)
        for little, big in self.span_within:
            seen.setdefault(little, None)
            for t in big:
                seen.setdefault(t, None)
        for g in self.span_or:  # optional alternatives score if present
            for t in g:
                seen.setdefault(t, None)
        for mp in self.multi_phrases:  # slot alternatives: same rule
            for slot in mp:
                for t in slot:
                    seen.setdefault(t, None)
        return tuple(seen)

    @property
    def required_terms(self) -> tuple[str, ...]:
        seen: dict[str, None] = {}
        for t in self.must:
            seen.setdefault(t, None)
        for p in (
            self.phrases + self.span_near + self.span_first + self.span_range
        ):
            for t in p:
                seen.setdefault(t, None)
        for inc, _exc in self.span_not:
            for t in inc:
                seen.setdefault(t, None)
        for little, big in self.span_within:
            seen.setdefault(little, None)
            for t in big:
                seen.setdefault(t, None)
        return tuple(seen)
