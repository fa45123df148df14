#!/usr/bin/env python
"""Batch-serving plan shootout at the 4000-query saturation batch: the
DataFrame-input plan (wand_topk) against the doc-sharded file-parallel
plan (wand_topk_sharded), both on the one slab kernel.

Earlier rounds also measured pruned plans here: a 3-barrier phased WAND
variant (118.2 q/s at 32 cores) and a per-query greedy early-exit plan
(256.4 q/s). Both lost to sharded (460.9 q/s) and have since been
removed; BATCH_PLANS.json keeps that 32-core record.

Measures, same index, same 4000-query workload, min-of-2 after warmup:
  bridge    — wand_topk: one applyInArrow call per kernel window
  sharded   — wand_topk_sharded + hot idf_map: one task per chunk range

plus rank-identity of sharded vs bridge (6-dp grain — the same grain
the oracle gate uses).

Writes BATCH_PLANS.json at the repo root (SPARK_GRAFT_SHOOT_OUT
overrides). Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SHOOT_DOCS (default
1_200_000), SPARK_GRAFT_SHOOT_QUERIES (default 4000).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

from themis_search_engine_spark.corpus import synth_pages  # noqa: E402
from themis_search_engine_spark.indexing.build import (  # noqa: E402
    build_and_save_serving,
    load_serving_index,
)
from themis_search_engine_spark.queryeng import (  # noqa: E402
    qterms_df,
    query_term_list,
)
from themis_search_engine_spark.queryeng.pipeline import (  # noqa: E402
    query_term_map,
)
from themis_search_engine_spark.queryeng.sharded import (  # noqa: E402
    collect_idf_map,
    wand_topk_sharded,
)
from themis_search_engine_spark.queryeng.wand import wand_topk  # noqa: E402
from themis_search_engine_spark.queryset import (  # noqa: E402
    synth_reference_queries,
)
from themis_search_engine_spark.session import get_spark  # noqa: E402

K = 10


def _ranks6(rows, k=K):
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(
            (-round(r["score"], 6), r["doc_id"])
        )
    return {q: [d for _, d in sorted(v)[:k]] for q, v in by_q.items()}


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    n_docs = int(os.environ.get("SPARK_GRAFT_SHOOT_DOCS", 1_200_000))
    n_queries = int(os.environ.get("SPARK_GRAFT_SHOOT_QUERIES", 4000))
    shm = "/dev/shm/themis-shoot"
    os.makedirs(shm, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="themis_shoot_", dir=shm)
    out: dict = {
        "metric": "batch_plan_shootout", "cpus": cpus, "n_docs": n_docs,
        "n_queries": n_queries, "k": K,
    }

    def new_session(tag: str):
        spark = get_spark(
            f"themis-shoot-{tag}", master=f"local[{cpus}]",
            shuffle_partitions=2 * cpus,
            extra_conf={
                "spark.local.dir": f"{shm}/local",
                "spark.sql.files.maxPartitionBytes": "16m",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    spark = new_session("build")
    try:
        corpus = synth_pages(spark, n_docs, partitions=64).select(
            F.regexp_extract("url", r"/p/(\d+)", 1).cast("long").alias(
                "doc_id"
            ),
            "text",
        )
        t0 = time.perf_counter()
        build_and_save_serving(corpus, f"{tmp}/index", stem=True)
        out["build_sec"] = round(time.perf_counter() - t0, 2)

        spark.stop()
        spark = new_session("serve")
        sidx = load_serving_index(spark, f"{tmp}/index")
        queries = synth_reference_queries(n_queries)
        qt = qterms_df(spark, queries, stem=True).cache()
        qt.count()
        tl = query_term_list(queries, stem=True)
        wq = synth_reference_queries(20)
        wqt = qterms_df(spark, wq, stem=True)
        wtl = query_term_list(wq, stem=True)

        def bridge(qt_, tl_):
            return wand_topk(
                qt_, sidx.compressed, sidx.dictionary, sidx.avgdl, k=K,
                chunk_bits=sidx.chunk_bits, term_list=tl_,
            )

        bridge(wqt, wtl).collect()  # warmup plan shape
        best = 1e18
        rows = None
        for _ in range(2):
            t0 = time.perf_counter()
            rows = bridge(qt, tl).collect()
            best = min(best, time.perf_counter() - t0)
        out["bridge_sec"] = round(best, 2)
        out["bridge_qps"] = round(n_queries / best, 1)
        ref_ranks = _ranks6(rows)
        print(json.dumps({"bridge": out["bridge_qps"]}), flush=True)

        # sharded champion, hot dictionary
        idf_map = collect_idf_map(sidx.dictionary)
        qmap = query_term_map(queries, stem=True)
        wand_topk_sharded(
            spark, f"{tmp}/index/postings_comp", query_term_map(wq, stem=True),
            None, sidx.avgdl, sidx.max_doc_id, k=K,
            chunk_bits=sidx.chunk_bits, idf_map=idf_map,
        ).collect()
        best = 1e18
        rows = None
        for _ in range(2):
            t0 = time.perf_counter()
            rows = wand_topk_sharded(
                spark, f"{tmp}/index/postings_comp", qmap, None, sidx.avgdl,
                sidx.max_doc_id, k=K, chunk_bits=sidx.chunk_bits,
                idf_map=idf_map,
            ).collect()
            best = min(best, time.perf_counter() - t0)
        out["sharded_sec"] = round(best, 2)
        out["sharded_qps"] = round(n_queries / best, 1)
        out["sharded_rank_identical"] = _ranks6(rows) == ref_ranks

        print(json.dumps(out))
        dst = os.environ.get(
            "SPARK_GRAFT_SHOOT_OUT", os.path.join(HERE, "BATCH_PLANS.json")
        )
        with open(dst, "w") as fh:
            json.dump(out, fh, indent=1)
        bad = [
            k for k, v in out.items()
            if k.endswith("_rank_identical") and v is not True
        ]
        if bad:
            sys.exit(1)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
