#!/usr/bin/env python
"""spark-submit entry: checkpointed index build over a pages table.

Cluster launch (the north-rule mode):

    python scripts/make_dist.py
    spark-submit --master <cluster> \\
        --py-files dist/themis_search_engine_spark.zip \\
        scripts/submit_index_build.py \\
        --input  <pages parquet/Iceberg path> \\
        --output <index checkpoint path> \\
        [--batches 64] [--no-stem] [--queries "spark shuffle join;..."]

Resumable: rerunning after a kill skips committed batches (manifest
check), finalizes, and optionally runs a smoke query batch. The session
comes from getOrCreate, so whatever master/conf spark-submit sets wins;
local fallback works for development.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--batches", type=int, default=64)
    ap.add_argument("--no-stem", action="store_true")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument(
        "--queries", default="",
        help="semicolon-separated smoke queries to run after finalize",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("themis-index-build").getOrCreate()
    from themis_search_engine_spark.indexing.checkpoint import (
        build_resumable,
        finalize,
    )
    from themis_search_engine_spark.session import _ship_package

    _ship_package(spark)
    pages = spark.read.parquet(args.input)
    manifests = build_resumable(
        pages, args.output,
        n_batches=args.batches, key_col=args.id_col, text_col=args.text_col,
        stem=not args.no_stem,
    )
    idx = finalize(spark, args.output)
    with open(f"{args.output}/snapshot.json") as fh:
        snap = json.load(fh)
    report = {
        "batches": len(manifests),
        "n_docs": idx.n_docs,
        "avgdl": round(idx.avgdl, 4),
        "docs_per_sec_per_batch": [m["docs_per_sec"] for m in manifests],
        "merge_metrics": snap.get("merge_metrics", {}),
    }
    if args.queries:
        from themis_search_engine_spark.indexing.compress import (
            DEFAULT_CHUNK_BITS,
        )
        from themis_search_engine_spark.queryeng import bm25_topk, qterms_df
        from themis_search_engine_spark.queryeng.wand import wand_topk

        qs = {
            i + 1: q for i, q in enumerate(args.queries.split(";")) if q.strip()
        }
        qt = qterms_df(spark, qs, stem=not args.no_stem)
        rows = bm25_topk(
            qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
            k=10,
        ).collect()
        report["smoke_query_rows"] = len(rows)
        comp = spark.read.parquet(f"{args.output}/index/postings_comp")
        # finalize compresses at the default layout
        wrows = wand_topk(
            qt, comp, idx.dictionary, idx.avgdl, k=10,
            chunk_bits=DEFAULT_CHUNK_BITS,
        ).collect()
        report["smoke_wand_rows"] = len(wrows)
        # rank-compare at the rounded-score grain: numpy vs Spark float
        # summation order can flip near-ties, which is not a build failure
        # (finalize already succeeded) — report divergence, don't abort.
        def _keyed(rs):
            return sorted(
                (r["qid"], round(r["score"], 6), r["doc_id"]) for r in rs
            )

        diverged = _keyed(wrows) != _keyed(rows)
        report["smoke_wand_matches_naive"] = not diverged
        if diverged:
            report["warning"] = "WAND smoke diverged from naive BM25"
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
