#!/usr/bin/env python
"""spark-submit entry for the SERVING index lifecycle.

Complements scripts/submit_index_build.py (the checkpointed flat build):
this entry drives the chunked serving layout end-to-end on a cluster —
initial build, daily delta ingestion, background compaction, health
inspection, and a batch query smoke — each as one subcommand so a
scheduler (Airflow/cron) can run the lifecycle as separate jobs:

    python scripts/make_dist.py
    spark-submit --master <cluster> \\
        --py-files dist/themis_search_engine_spark.zip \\
        scripts/submit_serving_index.py \\
        build       --input <pages path> --index <index path> [--no-stem]
        merge-delta --input <delta pages path> --index <index path>
        compact     --index <index path>
        describe    --index <index path>
        query       --index <index path> --queries "a b;c d" [-k 10]

Every subcommand prints ONE JSON report line (lineage + metrics — the
north rule's per-partition metrics surface; merges also append to the
index's merge_log.json).

The session comes from getOrCreate so spark-submit's master/conf wins;
plain `python scripts/submit_serving_index.py ...` works for local
development. Note compact/query serve from driver-local shared storage
in this sandbox (compress_files / wand_topk_sharded document the
object-storage route for real clusters).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# plain `python scripts/submit_serving_index.py` from any cwd: the repo
# root wins over --py-files only in local dev (spark-submit ships the zip)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark():
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("themis-serving").getOrCreate()
    from themis_search_engine_spark.session import _ship_package

    _ship_package(spark)
    return spark


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--no-stem", action="store_true")
    b.add_argument("--id-col", default="doc_id")
    b.add_argument("--text-col", default="text")
    b.add_argument("--partitions", type=int, default=64)

    m = sub.add_parser("merge-delta")
    m.add_argument("--input", required=True)
    m.add_argument("--index", required=True)
    m.add_argument("--no-stem", action="store_true")
    m.add_argument("--id-col", default="doc_id")
    m.add_argument("--text-col", default="text")
    m.add_argument("--partitions", type=int, default=64)

    c = sub.add_parser("compact")
    c.add_argument("--index", required=True)
    c.add_argument("--partitions", type=int, default=64)

    d = sub.add_parser("describe")
    d.add_argument("--index", required=True)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--queries", required=True,
                   help="semicolon-separated query strings")
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--no-stem", action="store_true")

    bp = sub.add_parser("build-partitioned")
    bp.add_argument("--input", required=True)
    bp.add_argument("--index", required=True)
    bp.add_argument("--attr", default="lang")
    bp.add_argument("--no-stem", action="store_true")
    bp.add_argument("--id-col", default="doc_id")
    bp.add_argument("--text-col", default="text")
    bp.add_argument("--partitions", type=int, default=64)

    qp = sub.add_parser("query-partitioned")
    qp.add_argument("--index", required=True)
    qp.add_argument("--queries", required=True,
                    help="semicolon-separated query strings")
    qp.add_argument("--values", default="",
                    help="comma-separated partition values (empty = all)")
    qp.add_argument("-k", type=int, default=10)
    qp.add_argument("--no-stem", action="store_true")

    args = ap.parse_args(argv)
    spark = _spark()
    t0 = time.perf_counter()

    if args.cmd == "build":
        from themis_search_engine_spark.indexing import build_and_save_serving

        timings: dict = {}
        idx = build_and_save_serving(
            spark.read.parquet(args.input), args.index,
            text_col=args.text_col, id_col=args.id_col,
            stem=not args.no_stem, partitions=args.partitions,
            timings=timings,
        )
        report = {
            "cmd": "build", "index": args.index, "n_docs": idx.n_docs,
            "postings": idx.n_postings, "avgdl": idx.avgdl,
            "chunk_bits": idx.chunk_bits,
            "seconds": {k: round(v, 3) for k, v in timings.items()},
            "docs_per_sec": round(
                idx.n_docs / max(time.perf_counter() - t0, 1e-9), 1
            ),
        }
    elif args.cmd == "merge-delta":
        from themis_search_engine_spark.indexing import merge_serving_delta

        timings = {}
        idx = merge_serving_delta(
            spark, args.index, spark.read.parquet(args.input),
            text_col=args.text_col, id_col=args.id_col,
            stem=not args.no_stem, partitions=args.partitions,
            timings=timings,
        )
        report = {
            "cmd": "merge-delta", "index": args.index,
            "n_docs_after": idx.n_docs, "avgdl_after": idx.avgdl,
            "seconds": {k: round(v, 3) for k, v in timings.items()},
        }
    elif args.cmd == "compact":
        from themis_search_engine_spark.indexing import compact_serving_index
        from themis_search_engine_spark.indexing.merge import describe_index

        timings = {}
        compact_serving_index(spark, args.index,
                              partitions=args.partitions, timings=timings)
        desc = describe_index(spark, args.index)
        report = {
            "cmd": "compact", "index": args.index,
            "seconds": {k: round(v, 3) for k, v in timings.items()},
            "segments": desc["segments"],
            "fragmentation": desc["fragmentation"],
            "bound_scales": desc["bound_scales"],
        }
    elif args.cmd == "describe":
        from themis_search_engine_spark.indexing.merge import (
            describe_index,
            load_tombstones,
            plan_compaction,
        )

        desc = describe_index(spark, args.index)
        tomb = load_tombstones(spark, args.index)
        report = {"cmd": "describe", "index": args.index, **desc,
                  "maintenance": plan_compaction(
                      desc,
                      n_tombstones=tomb.count() if tomb is not None else 0,
                  )}
    elif args.cmd == "build-partitioned":
        from themis_search_engine_spark.indexing.partitioned import (
            build_partitioned_serving,
        )

        man = build_partitioned_serving(
            spark.read.parquet(args.input), args.index, args.attr,
            text_col=args.text_col, id_col=args.id_col,
            stem=not args.no_stem, partitions=args.partitions,
        )
        report = {
            "cmd": "build-partitioned", "index": args.index,
            "attr": args.attr, "values": man["values"],
            "n_docs": man["n_docs"], "avgdl": man["avgdl"],
            "parts": {v: p["n_docs"] for v, p in man["parts"].items()},
        }
    elif args.cmd == "query-partitioned":
        from themis_search_engine_spark.indexing.partitioned import (
            wand_topk_partitioned,
        )
        from themis_search_engine_spark.queryeng import qterms_df

        queries = {
            i: s for i, s in enumerate(args.queries.split(";")) if s.strip()
        }
        values = [v for v in args.values.split(",") if v.strip()] or None
        rows = wand_topk_partitioned(
            spark, args.index,
            qterms_df(spark, queries, stem=not args.no_stem),
            values, k=args.k,
        ).collect()
        report = {
            "cmd": "query-partitioned", "index": args.index,
            "values": values or "all", "n_queries": len(queries),
            "result_rows": len(rows),
        }
    else:  # query
        from themis_search_engine_spark.indexing import load_serving_index
        from themis_search_engine_spark.queryeng import qterms_df
        from themis_search_engine_spark.queryeng.wand import wand_topk

        idx = load_serving_index(spark, args.index)
        queries = {
            i: s for i, s in enumerate(args.queries.split(";")) if s.strip()
        }
        stem = not args.no_stem
        rows = wand_topk(
            qterms_df(spark, queries, stem=stem), idx.compressed,
            idx.dictionary, idx.avgdl, k=args.k,
            chunk_bits=idx.chunk_bits,
        ).collect()
        report = {
            "cmd": "query", "index": args.index, "n_queries": len(queries),
            "result_rows": len(rows),
            "top1": {
                str(qid): next(
                    ((r["doc_id"], round(r["score"], 6)) for r in rows
                     if r["qid"] == qid and r["rank"] == 1), None,
                )
                for qid in queries
            },
        }

    report["total_seconds"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(report))


if __name__ == "__main__":
    sys.exit(main())
