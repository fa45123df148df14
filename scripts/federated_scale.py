#!/usr/bin/env python
"""Federated / selective serving at scale: build one union serving index
and 4 independently-built sub-indexes over the SAME synthetic corpus,
then measure the three serving modes on a large query batch:

- union      : wand_topk_sharded over the single union index (the
               baseline the federated modes must match; the same plan
               every federated leg runs).
- federated  : federated_wand_topk over the 4 compressed legs with merged
               global stats — VERIFIED rank-identical to the union plan
               at the 6-dp grain (the federation correctness claim, here
               checked at 100x the driver-testdata scale).
- selective  : CORI top-m routing (m=2 of 4) — recall@10 vs the union
               ranking is REPORTED, not asserted (bounded recall is the
               selective contract; the number quantifies the trade),
               measured over BOTH shard assignments:
                 random  — doc_id % 4 (the ~m/n recall floor), and
                 topical — queryeng.topical.topical_shard_map (hashed-TF
                           vectors → deterministic k-means → nearest-
                           centroid), which must lift recall well above
                           the floor on the topic-targeted workload
                           (Kulkarni & Callan predict 0.8+).
               The corpus is synth_pages(topics=8) and the recall
               workload synth_topical_queries — topical structure in the
               data and the queries is precisely what selective search
               exploits; a topic-free corpus pins ALL assignments to the
               floor.

Protocol mirrors scripts/scaling_workload.py: corpus materialized to
parquet first, tmpfs-backed outputs, an untimed warmup per plan shape,
fresh serving session after the builds. Prints ONE JSON line and writes
FEDERATED_SCALE.json at the repo root.

Env knobs: SPARK_GRAFT_CPUS (default all), SPARK_GRAFT_FED_DOCS
(default 400_000), SPARK_GRAFT_FED_QUERIES (default 1000),
SPARK_GRAFT_FED_OUT (output file; default FEDERATED_SCALE.json, which
holds the 32-core run — point smaller boxes at a new file).
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
    query_term_map,
)
from themis_search_engine_spark.queryeng.federated import (  # noqa: E402
    federated_wand_topk,
    selective_wand_topk,
)
from themis_search_engine_spark.queryeng.sharded import (  # noqa: E402
    wand_topk_sharded,
)
from themis_search_engine_spark.queryeng.topical import (  # noqa: E402
    topical_shard_map,
)
from themis_search_engine_spark.queryset import (  # noqa: E402
    synth_reference_queries,
    synth_topical_queries,
)
from themis_search_engine_spark.session import get_spark  # noqa: E402

N_LEGS = 4
M_SELECT = 2
K = 10
N_TOPICS = 8


def _rounded_topk_py(rows, k=K):
    """qid -> [doc_id...] : round(score,6) desc, doc_id asc, top-k."""
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(
            (-round(r["score"], 6), r["doc_id"])
        )
    return {q: [d for _, d in sorted(v)[:k]] for q, v in by_q.items()}


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    n_docs = int(os.environ.get("SPARK_GRAFT_FED_DOCS", 400_000))
    n_queries = int(os.environ.get("SPARK_GRAFT_FED_QUERIES", 1000))
    shm = "/dev/shm/themis-fed"
    os.makedirs(shm, exist_ok=True)

    def new_session(tag: str):
        spark = get_spark(
            f"themis-fed-{tag}",
            master=f"local[{cpus}]",
            shuffle_partitions=2 * cpus,
            extra_conf={
                "spark.local.dir": f"{shm}/local",
                "spark.sql.files.maxPartitionBytes": "16m",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    spark = new_session("build")
    tmp = tempfile.mkdtemp(prefix="themis_fed_", dir=shm)
    out: dict = {
        "metric": "federated_serving", "cpus": cpus, "n_docs": n_docs,
        "n_legs": N_LEGS, "m_select": M_SELECT, "k": K,
        "n_queries": n_queries,
    }
    try:
        # SPARK_GRAFT_FED_PAGES: reuse a materialized corpus across
        # parallelism levels (the two-level scaling protocol reads
        # identical bytes at both levels)
        out["n_topics"] = N_TOPICS
        pdir = os.environ.get("SPARK_GRAFT_FED_PAGES") or f"{tmp}/pages"
        if not os.path.isdir(pdir):
            synth_pages(
                spark, n_docs, partitions=64, topics=N_TOPICS
            ).write.mode("overwrite").parquet(pdir)
        corpus = spark.read.parquet(pdir).select(
            F.regexp_extract("url", r"/p/(\d+)", 1).cast("long").alias("doc_id"),
            "text",
        )
        t0 = time.perf_counter()
        build_and_save_serving(corpus, f"{tmp}/union", stem=True)
        out["build_union_sec"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        for i in range(N_LEGS):
            build_and_save_serving(
                corpus.where(F.pmod("doc_id", F.lit(N_LEGS)) == i),
                f"{tmp}/leg{i}", stem=True,
            )
        out["build_legs_sec"] = round(time.perf_counter() - t0, 2)

        # --- topical shard assignment + per-shard leg builds -----------
        # the assignment RIDES THE UNION BUILD'S COUNTING PASS (r5):
        # postings_raw is the (doc_id, term, cnt) table the build already
        # tokenized, the dictionary already aggregated df, global_stats
        # already holds N — so the timed section below costs one
        # bucket-sum agg + sample-Lloyd + classify, not a second
        # tokenize+df pass over the corpus (r4: 89.7 s assignment vs
        # 29.7 s for the four shard builds it feeds, all redundancy)
        t0 = time.perf_counter()
        union_raw = spark.read.parquet(f"{tmp}/union/postings_raw").select(
            "doc_id", "term", "cnt"
        )
        union_dict = spark.read.parquet(f"{tmp}/union/dictionary")
        union_n = spark.read.parquet(f"{tmp}/union/global_stats").collect()[
            0
        ]["n_docs"]
        smap = topical_shard_map(
            corpus, N_LEGS, dim=256, iters=4, train_mod=8,
            counts=union_raw, df_table=union_dict, n_docs=int(union_n),
            # 400k x 256-double vectors (~1 GB) fit this box: pay the
            # vector lineage once, not once for train + once to classify
            cache_vectors=True,
        ).cache()
        sizes = {
            int(r["shard"]): int(r["count"])
            for r in smap.groupBy("shard").count().collect()
        }
        out["topical_assign_sec"] = round(time.perf_counter() - t0, 2)
        out["topical_shard_sizes"] = [sizes.get(i, 0) for i in range(N_LEGS)]
        t0 = time.perf_counter()
        # materialize the assignment ONCE, partitioned by shard, so each
        # leg build is a partition-pruned scan instead of re-running the
        # cluster+classify lineage per leg
        corpus.join(smap, "doc_id").write.partitionBy("shard").mode(
            "overwrite"
        ).parquet(f"{tmp}/sh_pages")
        smap.unpersist()
        sh_corpus = spark.read.parquet(f"{tmp}/sh_pages")
        for i in range(N_LEGS):
            build_and_save_serving(
                sh_corpus.where(F.col("shard") == i).select("doc_id", "text"),
                f"{tmp}/tleg{i}", stem=True,
            )
        out["build_topical_legs_sec"] = round(time.perf_counter() - t0, 2)

        spark.stop()
        spark = new_session("serve")
        union = load_serving_index(spark, f"{tmp}/union")
        legs = tuple(
            load_serving_index(spark, f"{tmp}/leg{i}") for i in range(N_LEGS)
        )
        tlegs = tuple(
            load_serving_index(spark, f"{tmp}/tleg{i}") for i in range(N_LEGS)
        )

        def union_topk(qmap, k):
            return wand_topk_sharded(
                spark, f"{union.path}/postings_comp", qmap, union.dictionary,
                union.avgdl, union.max_doc_id, k, chunk_bits=union.chunk_bits,
            ).collect()

        queries = synth_reference_queries(n_queries)
        qt = qterms_df(spark, queries, stem=True).cache()
        qt.count()
        wq = synth_reference_queries(20)
        wqt = qterms_df(spark, wq, stem=True)

        # --- union baseline (wide k=3K raw, rounded top-K in driver) ---
        union_topk(query_term_map(wq, stem=True), K)  # warmup
        qmap = query_term_map(queries, stem=True)
        t0 = time.perf_counter()
        u_rows = union_topk(qmap, 3 * K)
        u_sec = time.perf_counter() - t0
        union_ranks = _rounded_topk_py(u_rows)
        out.update(
            union_query_sec=round(u_sec, 2),
            union_qps=round(n_queries / u_sec, 1),
        )

        # --- federated over 4 legs: must be rank-identical -------------
        federated_wand_topk(
            wqt, legs, k=K, round_dp=6
        ).collect()  # warmup
        t0 = time.perf_counter()
        f_rows = federated_wand_topk(
            qt, legs, k=K, round_dp=6
        ).collect()
        f_sec = time.perf_counter() - t0
        fed_ranks: dict = {}
        for r in sorted(f_rows, key=lambda r: (r["qid"], r["rank"])):
            fed_ranks.setdefault(r["qid"], []).append(r["doc_id"])
        identical = fed_ranks == union_ranks
        out.update(
            federated_query_sec=round(f_sec, 2),
            federated_qps=round(n_queries / f_sec, 1),
            federated_rank_identical=identical,
        )

        # --- selective m=2 of 4 on the topic-targeted workload:
        #     recall@10 vs the union ranking, random vs topical shards --
        tq = synth_topical_queries(n_queries, N_TOPICS)
        tqt = qterms_df(spark, tq, stem=True).cache()
        tqt.count()
        t_rows = union_topk(query_term_map(tq, stem=True), 3 * K)
        topical_union_ranks = _rounded_topk_py(t_rows)

        def run_selective(leg_set, tag):
            selective_wand_topk(
                wqt, leg_set, k=K, m=M_SELECT, round_dp=6
            ).collect()  # warmup
            t0 = time.perf_counter()
            s_rows = selective_wand_topk(
                tqt, leg_set, k=K, m=M_SELECT, round_dp=6
            ).collect()
            s_sec = time.perf_counter() - t0
            sel: dict = {}
            for r in s_rows:
                sel.setdefault(r["qid"], set()).add(r["doc_id"])
            recalls = [
                len(sel.get(q, set()) & set(docs)) / len(docs)
                for q, docs in topical_union_ranks.items()
                if docs
            ]
            out.update({
                f"{tag}_query_sec": round(s_sec, 2),
                f"{tag}_qps": round(n_queries / s_sec, 1),
                f"{tag}_recall_at_10":
                    round(sum(recalls) / len(recalls), 4),
            })

        # doc_id%N sharding scatters a query's relevant docs uniformly,
        # so top-m-of-N routing captures ~m/N of the union top-k
        # REGARDLESS of the selection formula (Kulkarni & Callan) —
        # the floor the topical assignment must clear.
        run_selective(legs, "selective")
        run_selective(tlegs, "topical_selective")
        out["expected_random_shard_recall"] = round(M_SELECT / N_LEGS, 4)

        print(json.dumps(out))
        dst = os.environ.get(
            "SPARK_GRAFT_FED_OUT", os.path.join(HERE, "FEDERATED_SCALE.json")
        )
        with open(dst, "w") as fh:
            json.dump(out, fh, indent=1)
        if not identical:
            sys.exit(1)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
