#!/usr/bin/env python
"""Measure the partitioned-serving filter: same 50-query WAND batch over
(a) the full single index, (b) all partitions of the lang-partitioned
index, (c) the lang='en' partition subset. Prints one JSON line with
times and the bytes the filtered plan did NOT read (partition pruning).

Usage: python scripts/measure_partitioned.py [sf_dir]
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


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _d, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    from themis_search_engine_spark.corpus import load_documents
    from themis_search_engine_spark.indexing.build import build_and_save_serving
    from themis_search_engine_spark.indexing.partitioned import (
        build_partitioned_serving,
        wand_topk_partitioned,
    )
    from themis_search_engine_spark.queryeng import qterms_df, query_term_list
    from themis_search_engine_spark.queryeng.wand import wand_topk
    from themis_search_engine_spark.queryset import reference_queries
    from themis_search_engine_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("themis-partbench")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_documents(spark, sf_dir).select("doc_id", "text", "lang")
    queries = reference_queries(50)
    qt = qterms_df(spark, queries, stem=False)
    tl = query_term_list(queries, stem=False)

    tmp = tempfile.mkdtemp(prefix="themis_partbench_")
    out: dict = {"sf_dir": sf_dir, "n_queries": len(queries)}
    try:
        t0 = time.perf_counter()
        full = build_and_save_serving(
            docs.select("doc_id", "text"), f"{tmp}/full", stem=False
        )
        out["build_full_sec"] = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        man = build_partitioned_serving(docs, f"{tmp}/parts", "lang", stem=False)
        out["build_partitioned_sec"] = round(time.perf_counter() - t0, 3)
        out["partitions"] = man["values"]

        # warm both (JVM/codegen), then measure
        def run_full():
            return wand_topk(
                qt, full.compressed, full.dictionary, full.avgdl, k=10,
                term_list=tl, chunk_bits=full.chunk_bits,
            ).collect()

        def run_parts(values):
            return wand_topk_partitioned(
                spark, f"{tmp}/parts", qt, values, k=10,
            ).collect()

        run_full()
        t0 = time.perf_counter(); r_full = run_full()
        out["query_full_sec"] = round(time.perf_counter() - t0, 3)
        run_parts(None)
        t0 = time.perf_counter(); r_all = run_parts(None)
        out["query_all_parts_sec"] = round(time.perf_counter() - t0, 3)
        run_parts(["en"])
        t0 = time.perf_counter(); r_en = run_parts(["en"])
        out["query_en_only_sec"] = round(time.perf_counter() - t0, 3)
        out["rows_full"] = len(r_full)
        out["rows_all_parts"] = len(r_all)
        out["rows_en"] = len(r_en)
        # sanity: all-parts must equal the single full index exactly
        key = lambda rows: sorted(
            (r["qid"], r["doc_id"], round(r["score"], 6)) for r in rows
        )
        out["all_parts_match_full"] = key(r_all) == key(r_full)

        comp_bytes = {
            v: _dir_bytes(f"{tmp}/parts/parts/{v}/postings_comp")
            for v in man["values"]
        }
        total_b = sum(comp_bytes.values())
        out["comp_bytes_total"] = total_b
        out["comp_bytes_en"] = comp_bytes.get("en", 0)
        out["io_fraction_en"] = round(
            comp_bytes.get("en", 0) / total_b, 4
        ) if total_b else None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
