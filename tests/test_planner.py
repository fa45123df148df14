"""Physical-plan dispatcher: decision matrix + facade rank-identity."""

from __future__ import annotations

import pytest

from themis_search_engine_spark.corpus import load_documents
from themis_search_engine_spark.indexing.build import build_and_save_serving
from themis_search_engine_spark.queryeng.planner import (
    PLANS,
    choose_query_plan,
    search_serving,
)

SF_DIR = "/root/testdata/sf0.001"


def _plan(**kw):
    n = kw.pop("n", 1)
    return choose_query_plan(n, **kw)["plan"]


def test_decision_matrix():
    # interactive small batches: in-process unless a head term
    assert _plan(n=1, interactive=True) == "local"
    assert _plan(n=4, interactive=True) == "local"
    assert _plan(n=1, interactive=True, max_df_frac=0.5) == "sharded"
    # non-interactive small batches: one-job sequential WAND
    assert _plan(n=8) == "single"
    assert _plan(n=16) == "single"
    # head terms push any batch to the shard-parallel plan
    assert _plan(n=8, max_df_frac=0.2) == "sharded"
    # big batches: throughput plan
    assert _plan(n=50) == "sharded"
    # every decision carries at least one reason
    assert choose_query_plan(50)["reasons"]


def test_decision_grid_three_plans():
    """Every input combination lands on one of the three plans, with a
    reason."""
    for n in (0, 1, 2, 4, 5, 16, 17, 200, 4000):
        for frac in (0.0, 0.01, 0.05, 0.051, 0.5, 1.0):
            for interactive in (False, True):
                d = choose_query_plan(
                    n, max_df_frac=frac, interactive=interactive
                )
                assert d["plan"] in PLANS, (n, frac, interactive, d)
                assert d["reasons"], (n, frac, interactive)
    assert PLANS == ("local", "single", "sharded")


@pytest.fixture(scope="module")
def saved_idx(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("planner") / "idx")
    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    build_and_save_serving(docs, p, stem=False, partitions=8)
    return p


def test_search_serving_plans_rank_identical(spark, saved_idx):
    """All three forced plans return the same (qid, doc_id, rank) sets —
    the dispatcher's choice is purely physical."""
    queries = {1: ["spark", "join"], 2: ["window", "merge", "scan"]}

    def key(df):
        rows = df.collect() if hasattr(df, "collect") else df
        return sorted((r.qid, r.doc_id, r.rank) for r in rows)

    results = {
        p: key(search_serving(spark, saved_idx, queries, k=5, plan=p))
        for p in PLANS
    }
    assert results["local"] == results["single"]
    assert results["local"] == results["sharded"]
    assert len(results["local"]) > 0


def test_search_serving_auto_and_unknown(spark, saved_idx):
    queries = {7: ["spark"]}
    auto = search_serving(
        spark, saved_idx, queries, k=3, interactive=True
    ).collect()
    assert len(auto) == 3 and all(r.qid == 7 for r in auto)
    with pytest.raises(ValueError):
        search_serving(spark, saved_idx, queries, plan="warp")
    # the one-pass DataFrame plan is not a serving plan
    with pytest.raises(ValueError, match="batch"):
        search_serving(spark, saved_idx, queries, plan="batch")


def test_search_serving_legacy_stats_covers_all_chunks(spark, tmp_path):
    """A layout whose global_stats predates max_doc_id must still serve
    every chunk: the id ceiling comes from a doc_stats scan, not a 0
    default that would size the sharded plan to chunk 0 alone."""
    p = str(tmp_path / "idx")
    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    idx = build_and_save_serving(docs, p, stem=False, chunk_bits=4,
                                 partitions=4)
    assert idx.max_doc_id >> 4 >= 2  # the index spans several chunks
    g = spark.read.parquet(f"{p}/global_stats")
    legacy = g.drop("max_doc_id")
    rows = legacy.collect()
    spark.createDataFrame(rows, legacy.schema).write.mode(
        "overwrite"
    ).parquet(f"{p}/global_stats")
    assert "max_doc_id" not in spark.read.parquet(f"{p}/global_stats").columns

    queries = {1: ["spark", "join"], 2: ["window", "merge", "scan"]}

    def key(plan):
        rows = search_serving(spark, p, queries, k=50, plan=plan).collect()
        return sorted((r.qid, r.doc_id, r.rank) for r in rows)

    local = key("local")
    assert max(doc for _, doc, _ in local) >= 16  # beyond chunk 0
    assert key("sharded") == local


def test_scan_filter_matrix():
    from themis_search_engine_spark.queryeng.planner import (
        choose_scan_filter,
    )

    # small vocab over a big dictionary: IN-list prunes the scan
    assert choose_scan_filter(50, 5000)["filter"] == "inlist"
    # vocabulary covering most of the dictionary: predicate is overhead
    # (measured 2.2x at full coverage, INLIST_CROSSOVER.json)
    assert choose_scan_filter(2500, 5000)["filter"] == "join_only"
    assert choose_scan_filter(5000, 5000)["filter"] == "join_only"
    # plan-size bound regardless of dictionary knowledge
    assert choose_scan_filter(20_000, -1)["filter"] == "join_only"
    # unknown dictionary size: literal cap alone
    assert choose_scan_filter(5000, -1)["filter"] == "inlist"
    assert choose_scan_filter(0, 5000)["filter"] == "join_only"
    assert choose_scan_filter(50, 5000)["reasons"]
