#!/usr/bin/env python
"""Batch-serving plan shootout at the 4000-query saturation batch: can a
PRUNED plan beat the barrier-free one-pass bridge plan (wand_topk)?

Round-3 finding (BASELINE.md): a 3-barrier phased WAND variant lost to
the one-pass plan for batches — barrier elimination beats chunk
skipping — and has since been removed (BATCH_PLANS.json keeps its
118.2 q/s at 32 cores). The open question (VERDICT r3 ask #3) is whether pruning can
pay WITHOUT barriers: the per-query greedy plan (wand_topk_single's
DataFrame batch form) walks each query's chunks impact-ordered with a
running θ INSIDE one task — chunk skipping with zero extra barriers and
no global top-k window at all (tasks emit ranked rows directly).

Measures, same index, same 4000-query workload, min-of-2 after warmup:
  bridge    — wand_topk: the one-pass batch baseline
  greedy    — wand_topk_single(DataFrame batch): barrier-free pruned
  sharded   — wand_topk_sharded + hot idf_map: the file-parallel champion

plus rank-identity of every plan vs bridge on a subset (6-dp grain —
the same grain the oracle gate uses).

Writes BATCH_PLANS.json at the repo root. Env: SPARK_GRAFT_CPUS,
SPARK_GRAFT_SHOOT_DOCS (default 1_200_000), SPARK_GRAFT_SHOOT_QUERIES
(default 4000).
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
from themis_search_engine_spark.queryeng.wand import (  # noqa: E402
    wand_topk,
    wand_topk_single,
)
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

        plans = {}

        def bridge(qt_, tl_):
            return wand_topk(
                qt_, sidx.compressed, sidx.dictionary, sidx.avgdl, k=K,
                chunk_bits=sidx.chunk_bits, term_list=tl_,
            )

        def greedy(qt_, tl_):
            return wand_topk_single(
                qt_, sidx.compressed, sidx.dictionary, sidx.avgdl, k=K,
                chunk_bits=sidx.chunk_bits, term_list=tl_,
            )

        plans["bridge"] = bridge
        plans["greedy"] = greedy

        ref_ranks = None
        for name, fn in plans.items():
            fn(wqt, wtl).collect()  # warmup plan shape
            best = 1e18
            rows = None
            for _ in range(2):
                t0 = time.perf_counter()
                rows = fn(qt, tl).collect()
                best = min(best, time.perf_counter() - t0)
            out[f"{name}_sec"] = round(best, 2)
            out[f"{name}_qps"] = round(n_queries / best, 1)
            ranks = _ranks6(rows)
            if ref_ranks is None:
                ref_ranks = ranks
            else:
                out[f"{name}_rank_identical"] = ranks == ref_ranks
            print(json.dumps({name: out[f"{name}_qps"]}), flush=True)

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

        out["pruned_beats_barrier_free"] = (
            out["greedy_qps"] >= out["bridge_qps"]
        )
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
