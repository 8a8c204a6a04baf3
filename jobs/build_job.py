#!/usr/bin/env python
"""spark-submit entry point for the distributed index build
(north rule: "launched via spark-submit --py-files on multi-executor
clusters").

Usage:

    # package the engine once
    python jobs/package.py                 # -> dist/lucene_solr_spark.zip

    spark-submit --master <cluster> \\
        --py-files dist/lucene_solr_spark.zip \\
        jobs/build_job.py \\
        --input  /path/to/transcripts_parquet \\
        --output /path/to/index_root \\
        [--mode prepartitioned|shuffle] [--num-parts 256] [--no-resume] \\
        [--merge-factor 8]   # optional post-build compaction

The job is resumable: re-submitting after a failure diffs the input
partitions against the last committed manifest snapshot and builds
only the missing ones (per-partition lineage + metrics land in
manifest/snapshot-N.json).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet path")
    ap.add_argument("--output", required=True, help="index root directory")
    ap.add_argument("--mode", choices=["prepartitioned", "shuffle"],
                    default="prepartitioned")
    ap.add_argument("--num-parts", type=int, default=256,
                    help="segments to build (shuffle mode)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--merge-factor", type=int, default=0,
                    help="if >0, run tiered compaction after the build")
    ap.add_argument("--dedupe-signature", action="store_true",
                    help="SignatureUpdateProcessor (overwriteDupes): "
                         "drop exact text duplicates before indexing")
    args = ap.parse_args()

    # On a cluster, master/executors come from spark-submit; builder
    # only sets engine-level SQL conf.
    spark = (
        SparkSession.builder.appName("lucene-solr-spark-build")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from lucene_solr_spark.index.build import (
        build_index,
        build_index_prepartitioned,
    )

    t = spark.read.parquet(args.input)
    if args.dedupe_signature:
        from lucene_solr_spark.index.urp import signature_dedupe

        t = signature_dedupe(t)
    if args.mode == "prepartitioned":
        manifest = build_index_prepartitioned(
            spark, t, args.output,
            resume=not args.no_resume, lineage_source=args.input,
        )
    else:
        manifest = build_index(
            spark, t, args.output, num_parts=args.num_parts,
            resume=not args.no_resume, lineage_source=args.input,
        )

    if args.merge_factor > 0:
        from lucene_solr_spark.index.merge import merge_segments

        manifest = merge_segments(
            spark, args.output, merge_factor=args.merge_factor,
        )

    print(json.dumps({
        "snapshot_id": manifest.snapshot_id,
        "segments": len(manifest.segments),
        "n_docs": manifest.n_docs,
        "sum_dl": manifest.sum_dl,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
