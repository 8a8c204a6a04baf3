#!/usr/bin/env python
"""spark-submit entry point for serving queries against a committed
index — the /select handler analog, completing the build→query user
story on a cluster.

Usage:

    spark-submit --master <cluster> \\
        --py-files dist/lucene_solr_spark.zip \\
        jobs/query_job.py \\
        --index /path/to/index_root \\
        --q '+merge "table scan" -role:assistant' \\
        [--k 10] [--facet role] [--facet-limit 10]
        [--facet-exclude role,tool]       # multi-select {!ex} analog
        [--edismax] [--mm 50%] [--pf2] [--pf3] [--pf-boost 1.0]
        [--conversations max|total|avg]   # parent block-join ranking

Prints one JSON line: top-k hits (conv_id, turn_idx, score), plus
facet buckets / conversation ranking when requested.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True, help="committed index root")
    ap.add_argument("--q", default=None, help="classic-syntax query string")
    ap.add_argument("--sql", default=None, metavar="STMT",
                    help="/sql Parallel SQL statement (exclusive with "
                         "--q / --select-json)")
    ap.add_argument("--select-json", default=None, metavar="JSON|@FILE",
                    help="a FULL /select params dict (JSON inline or "
                         "@file) dispatched through handler.select — "
                         "the whole component surface (facet.*, stats, "
                         "group, mlt, spellcheck, hl, debug, json.facet) "
                         "from one spark-submit; mutually exclusive "
                         "with --q")
    ap.add_argument("--sf-dir", default=None,
                    help="documents parquet dir for stored-field legs "
                         "(hl / mlt) of --select-json")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--default-op", choices=["OR", "AND"], default="OR")
    ap.add_argument("--facet", default=None,
                    help="facet field (role/tool/ftok)")
    ap.add_argument("--facet-limit", type=int, default=10)
    ap.add_argument("--facet-exclude", default=None, metavar="F1,F2",
                    help="multi-select faceting: drop fq constraints on "
                         "these fields from the facet domain ({!ex} analog)")
    ap.add_argument("--edismax", action="store_true",
                    help="parse --q with the edismax front door "
                         "(SHOULD under --mm + whole-query pf boost)")
    ap.add_argument("--mm", default="1", help="edismax mm: int or 'N%%'")
    ap.add_argument("--pf2", action="store_true", help="bigram shingle pf")
    ap.add_argument("--pf3", action="store_true", help="trigram shingle pf")
    ap.add_argument("--pf-boost", type=float, default=1.0)
    ap.add_argument("--ps", type=int, default=0,
                    help="edismax ps: slop for the pf boost phrases")
    ap.add_argument("--conversations", choices=["max", "total", "avg"],
                    default=None, help="rank parent conversations instead")
    ap.add_argument("--cursor", default=None, metavar="SCORE,CONV,TURN",
                    help="cursorMark deep paging: the nextCursorMark "
                         "printed by the previous page")
    ap.add_argument("--explain", action="store_true",
                    help="debugQuery analog: include the top hit's "
                         "per-term BM25 breakdown")
    ap.add_argument("--analyzer-version", default=None,
                    help="query-time chain version (must match the index)")
    ap.add_argument("--facet-relatedness", action="store_true",
                    help="score --facet buckets by SKG relatedness() "
                         "against the query as foreground instead of "
                         "counting")
    ap.add_argument("--facet-unique-block", action="store_true",
                    help="add uniqueBlock(_root_) distinct-conversation "
                         "counts to the --facet buckets")
    ap.add_argument("--facet-domain", choices=["query", "blockChildren"],
                    default="query",
                    help="facet domain: the q+fq hit set (default) or "
                         "its blockChildren widening (all turns of "
                         "matching conversations)")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("lucene-solr-spark-query")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from lucene_solr_spark.query.executor import IndexSearcher
    from lucene_solr_spark.query.parser import edismax, parse

    n_modes = sum(map(bool, (args.q, args.select_json, args.sql)))
    if n_modes != 1:
        ap.error("exactly one of --q / --select-json / --sql is required")

    s = IndexSearcher(spark, args.index,
                      analyzer_version=args.analyzer_version)

    if args.sql:
        from lucene_solr_spark.sql import sql_query

        out = sql_query(s, args.sql)
        for row in out.collect():
            print(json.dumps(
                {k: (v if isinstance(v, (int, float, str, bool, type(None)))
                     else str(v)) for k, v in row.asDict().items()}))
        spark.stop()
        return

    if args.select_json:
        from lucene_solr_spark.handler import select as h_select

        raw = args.select_json
        params = json.loads(
            open(raw[1:]).read() if raw.startswith("@") else raw
        )
        stored = None
        if args.sf_dir:
            from lucene_solr_spark.transcripts import (
                transcripts_from_documents,
            )

            stored = transcripts_from_documents(spark, args.sf_dir)
        resp = h_select(s, params, stored=stored)

        def _rows(df):  # JSON-safe row dicts (timestamps → str)
            return [
                {k: (v if isinstance(v, (int, float, str, bool, type(None)))
                     else str(v)) for k, v in r.asDict().items()}
                for r in df.collect()
            ]

        sel_out: dict = {}
        for key, val in resp.items():
            if hasattr(val, "collect"):
                sel_out[key] = _rows(val)
            elif isinstance(val, dict):
                sel_out[key] = {
                    k: (_rows(v) if hasattr(v, "collect") else v)
                    for k, v in val.items()
                }
            else:
                sel_out[key] = val
        print(json.dumps(sel_out))
        spark.stop()
        return

    if args.edismax:
        spec = edismax(args.q, k=args.k, mm=args.mm, pf2=args.pf2,
                       pf3=args.pf3, pf_boost=args.pf_boost, ps=args.ps)
    else:
        spec = parse(args.q, k=args.k, default_op=args.default_op)
    out: dict = {"query": args.q, "spec": {
        "must": spec.must, "should": spec.should, "must_not": spec.must_not,
        "phrases": spec.phrases, "must_not_phrases": spec.must_not_phrases,
        "filters": spec.filters, "not_filters": spec.not_filters,
        "min_should_match": spec.min_should_match,
    }}

    if args.conversations:
        rows = s.search_conversations(
            spec, k=args.k, score_mode=args.conversations, round_to=4
        ).collect()
        out["conversations"] = [
            {"conv_id": r.conv_id, "score": r.score, "n_turns": r.n_turns}
            for r in rows
        ]
    elif args.cursor:
        sc, cid, tix = args.cursor.split(",")
        rows = s.cursor_page(
            spec, k=args.k, cursor=(float(sc), cid, int(tix)), round_to=4
        ).collect()
        out["hits"] = [
            {"conv_id": r.conv_id, "turn_idx": r.turn_idx, "score": r.score}
            for r in rows
        ]
        if rows:
            last = rows[-1]
            out["nextCursorMark"] = f"{last.score},{last.conv_id},{last.turn_idx}"
    elif spec.scoring_terms or spec.needs_rewrite:
        rows = s.search(spec, round_to=4).collect()
        out["hits"] = [
            {"conv_id": r.conv_id, "turn_idx": r.turn_idx, "score": r.score}
            for r in rows
        ]
        if rows:
            last = rows[-1]
            out["nextCursorMark"] = f"{last.score},{last.conv_id},{last.turn_idx}"
    else:  # pure-negative / filter-only → DocSet page
        rows = (
            s.docset(spec).orderBy("conv_id", "turn_idx").limit(args.k).collect()
        )
        out["hits"] = [
            {"conv_id": r.conv_id, "turn_idx": r.turn_idx} for r in rows
        ]

    if args.explain and out.get("hits"):
        h0 = out["hits"][0]
        br = s.explain(spec, h0["conv_id"], h0["turn_idx"], round_to=4)
        out["explain"] = {
            f'{h0["conv_id"]}/{h0["turn_idx"]}': [
                {"term": r.term, "tf": r.tf, "df": r.df,
                 "idf": r.idf, "contrib": r.contrib}
                for r in br.collect()
            ]
        }

    if args.facet:
        # always over the q+fq domain (Solr semantics): segment_partials
        # visits every segment for term-free specs, so filter-only /
        # pure-negative queries facet over their filtered domain too
        exclude = tuple(
            f for f in (args.facet_exclude or "").split(",") if f
        )
        if args.facet_relatedness:
            from lucene_solr_spark.query.facets import facet_relatedness

            rows = facet_relatedness(
                s, args.facet, fg_spec=spec, limit=args.facet_limit
            ).collect()
            out["facets"] = {args.facet: [
                {"value": r.facet_value, "fg_count": r.fg_count,
                 "bg_count": r.bg_count, "relatedness": r.relatedness}
                for r in rows
            ]}
        elif args.facet_unique_block:
            from lucene_solr_spark.query.facets import facet_unique_block

            rows = facet_unique_block(
                s, args.facet, spec=spec, limit=args.facet_limit
            ).collect()
            out["facets"] = {args.facet: [
                {"value": r.facet_value, "count": r.cnt,
                 "uniqueBlock": r.unique_convs} for r in rows
            ]}
        elif args.facet_domain == "blockChildren":
            from lucene_solr_spark.query.facets import facet_block_domain

            rows = facet_block_domain(
                s, args.facet, spec=spec, limit=args.facet_limit
            ).collect()
            out["facets"] = {args.facet: [
                {"value": r.facet_value, "count": r.cnt} for r in rows
            ]}
        else:
            rows = s.facet(args.facet, spec=spec, limit=args.facet_limit,
                           exclude_fields=exclude).collect()
            out["facets"] = {args.facet: [
                {"value": r.facet_value, "count": r.cnt} for r in rows
            ]}

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
