#!/usr/bin/env python
"""Bench harness: headline stages at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Stages
  build_docs     index build over documents.parquet (stemmed Arrow path)
  compress       delta+varbyte chunked postings build (streaming sorted-
                 partition compressor)
  bm25_batch     50-query batch BM25 top-10, naive DataFrame path
  wand_batch     same workload over compressed chunks (wand_topk: the
                 slab kernel once per kernel window)
  build_synth    serving index build (raw postings + compression + derived
                 tables) over the deterministic synthetic web-page corpus
                 (~500k·sf docs) — the scaling-efficiency workload

Extra JSON keys report derived throughputs (docs/sec, queries/sec) and the
query-latency distribution; the driver's contract needs only
metric/value/unit/queries/sf.

Noise control (the sandbox's compute ceiling drifts run-to-run — see
BASELINE.md's calibration notes): the three batch-query stages are
reported as the MIN of two back-to-back runs (steady-state throughput;
identical warm state both times), and ``calib_md5_128mb_sec`` times a
fixed single-thread md5 workload so numbers from different rounds can
be compared modulo the box's speed that day. Build stages run once
(they dominate wall time); judge them against the calibration scalar.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from themis_search_engine_spark.corpus import load_documents, synth_pages
from themis_search_engine_spark.indexing import build_index
from themis_search_engine_spark.indexing.compress import (
    DEFAULT_CHUNK_BITS,
    build_postings_compressed_sorted,
)
from themis_search_engine_spark.queryeng import (
    bm25_topk,
    qterms_df,
    query_term_list,
)
from themis_search_engine_spark.queryeng.wand import wand_topk
from themis_search_engine_spark.queryset import reference_queries
from themis_search_engine_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32))
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = 0.1
    synth_docs = int(os.environ.get("SPARK_GRAFT_SYNTH_DOCS", int(500_000 * sf)))

    spark = get_spark(
        "themis-bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    stages: dict[str, float] = {}
    extra: dict[str, float] = {}

    # single-thread CPU calibration: md5 over 128 MB in 64 KB blocks.
    # Pure stdlib, no allocation churn — a stable yardstick for the
    # sandbox's drifting compute ceiling.
    import hashlib

    blk = b"\xa5" * 65536
    t0 = time.perf_counter()
    for _ in range(2048):
        hashlib.md5(blk).digest()
    extra["calib_md5_128mb_sec"] = time.perf_counter() - t0

    def min_of_2(fn):
        """Steady-state stage time: best of two back-to-back runs."""
        t0 = time.perf_counter()
        fn()
        first = time.perf_counter() - t0
        t0 = time.perf_counter()
        out = fn()
        return min(first, time.perf_counter() - t0), out

    # --- build over driver documents table ---------------------------------
    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    n_docs = docs.count()
    t0 = time.perf_counter()
    idx = build_index(docs, stem=True).cache()
    n_postings = idx.postings_flat.count()
    idx.doc_stats.count()
    stages["build_docs"] = time.perf_counter() - t0
    extra["docs_per_sec_build"] = n_docs / stages["build_docs"]
    extra["postings"] = n_postings

    # --- compression (streaming sorted-partition compressor) ---------------
    t0 = time.perf_counter()
    comp = build_postings_compressed_sorted(
        idx.counts, idx.doc_stats, idx.avgdl
    ).cache()
    comp.count()
    stages["compress"] = time.perf_counter() - t0
    extra["postings_per_sec_compress"] = n_postings / stages["compress"]

    # --- batch query: naive DataFrame path ---------------------------------
    queries = reference_queries(50)
    qt = qterms_df(spark, queries, stem=True)
    tl = query_term_list(queries, stem=True)
    stages["bm25_batch"], rows = min_of_2(
        lambda: bm25_topk(
            qt, idx.postings_flat, idx.dictionary, idx.doc_stats,
            idx.avgdl, k=10, term_list=tl,
        ).collect()
    )
    extra["queries_per_sec_naive"] = len(queries) / stages["bm25_batch"]
    extra["bm25_result_rows"] = len(rows)

    # --- batch query: WAND batch plan over compressed ----------------------
    stages["wand_batch"], rows_w = min_of_2(
        lambda: wand_topk(
            qt, comp, idx.dictionary, idx.avgdl, k=10,
            chunk_bits=DEFAULT_CHUNK_BITS, term_list=tl,
        ).collect()
    )
    extra["queries_per_sec_wand"] = len(queries) / stages["wand_batch"]
    extra["wand_result_rows"] = len(rows_w)

    # --- scaling workload: synthetic web pages -----------------------------
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="themis_bench_")
    try:
        # corpus materialization is NOT part of the measured build
        synth_pages(spark, synth_docs, partitions=4 * cpus).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/pages")
        # dense ids parsed from the synthetic urls (assign_doc_ids is the
        # general-corpus path, a one-time cost benched separately)
        corpus = (
            spark.read.parquet(f"{tmp}/pages")
            .select(
                F.regexp_extract("url", r"/p/(\d+)", 1)
                .cast("long").alias("doc_id"),
                "text",
            )
        )
        from themis_search_engine_spark.indexing.build import (
            build_and_save_serving,
        )

        t0 = time.perf_counter()
        sidx = build_and_save_serving(corpus, f"{tmp}/index", stem=True)
        stages["build_synth"] = time.perf_counter() - t0
        extra["synth_docs"] = synth_docs
        extra["synth_postings"] = sidx.n_postings
        extra["docs_per_sec_synth"] = synth_docs / stages["build_synth"]

        # --- batch query: doc-sharded file-parallel serving plan ----------
        # (queryeng/sharded.py). Same corpus + query set as bm25_batch /
        # wand_batch so q/s and result rows are directly comparable: a
        # persisted serving index over the documents table (build cost
        # excluded from the stage — the other plans also query prebuilt
        # state), hot driver-side dictionary, posting bytes never cross
        # the bridge.
        from themis_search_engine_spark.queryeng.pipeline import (
            query_term_map,
        )
        from themis_search_engine_spark.queryeng.sharded import (
            collect_idf_map,
            wand_topk_sharded,
        )

        didx = build_and_save_serving(docs, f"{tmp}/docindex", stem=True)
        # on-disk bytes of the whole saved index over its postings (the
        # same definition as perfbench's index_bytes_per_posting)
        extra["bytes_per_posting"] = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(f"{tmp}/docindex") for f in fs
        ) / max(didx.n_postings, 1)
        idf_map = collect_idf_map(didx.dictionary)
        qmap = query_term_map(queries, stem=True)
        stages["wand_sharded"], rows_s = min_of_2(
            lambda: wand_topk_sharded(
                spark, f"{tmp}/docindex/postings_comp", qmap, None,
                didx.avgdl, didx.max_doc_id, k=10,
                chunk_bits=didx.chunk_bits, idf_map=idf_map,
            ).collect()
        )
        extra["queries_per_sec_sharded"] = len(queries) / stages[
            "wand_sharded"
        ]
        extra["sharded_result_rows"] = len(rows_s)

        # --- interactive latency: in-process kernel, zero Spark jobs -----
        # per-query MIN of two timed runs, p50/p95 over those: one-shot
        # numbers fold whichever query absorbs a JIT recompile or GC pause
        # into p95
        from themis_search_engine_spark.queryeng.wand import wand_topk_local

        lat_l = []
        for qid in list(queries)[:12]:
            q1 = query_term_map({qid: queries[qid]}, stem=True)
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                wand_topk_local(
                    f"{tmp}/docindex/postings_comp", q1, idf_map,
                    didx.avgdl, k=10, chunk_bits=didx.chunk_bits,
                )
                runs.append(time.perf_counter() - t0)
            lat_l.append(min(runs))
        lat_l.sort()
        extra["query_p50_local_sec"] = lat_l[len(lat_l) // 2]
        extra["query_p95_local_sec"] = lat_l[
            min(len(lat_l) - 1, int(len(lat_l) * 0.95))
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # surface the latest scaling-efficiency record if present
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_SCALING.json")) as fh:
            sc_rec = json.load(fh)
        extra["scaling_build_efficiency"] = sc_rec["build_efficiency"]
        extra["scaling_query_efficiency"] = sc_rec["query_efficiency"]
        if sc_rec.get("sharded_query_efficiency") is not None:
            extra["scaling_sharded_query_efficiency"] = sc_rec[
                "sharded_query_efficiency"
            ]
        for name, rec in sc_rec.get("pairs", {}).items():
            tag = name.replace("->", "_")
            extra[f"scaling_build_eff_{tag}"] = rec["build_efficiency"]
            extra[f"scaling_query_eff_{tag}"] = rec["query_efficiency"]
        # layout-controlled sharded pairs (chunk layout sized so the
        # bench corpus has enough shard atoms at the high core count —
        # the configuration a production index at any real corpus size
        # is in; see BASELINE.md)
        for name, rec in sc_rec.get("sharded_default_pairs", {}).items():
            tag = name.replace("->", "_")
            extra[f"scaling_sharded_eff_default_{tag}"] = rec[
                "sharded_query_efficiency"
            ]
        if sc_rec.get("sharded_query_efficiency_pinned16") is not None:
            extra["scaling_sharded_eff_pinned16"] = sc_rec[
                "sharded_query_efficiency_pinned16"
            ]
    except (OSError, KeyError, ValueError):
        pass

    total = sum(stages.values())
    print(
        json.dumps(
            {
                "metric": "themis_bench_total_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {k: round(v, 3) for k, v in stages.items()},
                "sf": sf,
                "cpus": cpus,
                **{k: (round(v, 3) if isinstance(v, float) else v)
                   for k, v in extra.items()},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
