"""Physical-plan dispatcher: the decode-volume rule + facade rank-identity
against the naive DataFrame BM25."""

from __future__ import annotations

import math
import uuid

import pytest

from themis_search_engine_spark.corpus import load_documents
from themis_search_engine_spark.indexing.build import build_and_save_serving
from themis_search_engine_spark.queryeng import bm25_topk, qterms_df
from themis_search_engine_spark.queryeng import planner
from themis_search_engine_spark.queryeng.pipeline import query_term_map
from themis_search_engine_spark.queryeng.planner import (
    LOCAL_MAX_VOLUME,
    PLANS,
    choose_query_plan,
    search_serving,
)

SF_DIR = "/root/testdata/sf0.001"
TEXT_QUERIES = {1: "spark join", 2: "window merge scan", 3: "hash"}


def _plan(**kw):
    n = kw.pop("n", 1)
    return choose_query_plan(n, **kw)["plan"]


def test_decision_matrix():
    # the volume rule, both sides of the crossover
    assert _plan(n=200, volume=LOCAL_MAX_VOLUME) == "local"
    assert _plan(n=200, volume=LOCAL_MAX_VOLUME + 1) == "sharded"
    assert _plan(n=1, volume=0) == "local"
    assert _plan(n=1, volume=LOCAL_MAX_VOLUME + 1) == "sharded"
    # a head term counts toward the volume and nothing else: neither the
    # df fraction nor the latency intent moves the choice
    for frac in (0.0, 0.5):
        for interactive in (False, True):
            kw = dict(max_df_frac=frac, interactive=interactive)
            assert _plan(n=8, volume=10, **kw) == "local"
            assert _plan(n=8, volume=LOCAL_MAX_VOLUME * 2, **kw) == "sharded"
    # the empty batch runs in-process
    assert _plan(n=0, volume=LOCAL_MAX_VOLUME * 2) == "local"
    # every decision carries at least one reason
    assert choose_query_plan(50, volume=5)["reasons"]


def test_decision_grid_two_plans():
    """Every input combination — with and without a volume, as the
    benchmark calls it — lands on one of the two plans, with a reason."""
    for n in (0, 1, 2, 4, 5, 16, 17, 200, 4000):
        for frac in (0.0, 0.05, 0.5, 1.0):
            for interactive in (False, True):
                for volume in (None, 0, LOCAL_MAX_VOLUME,
                               LOCAL_MAX_VOLUME + 1, 10**12):
                    d = choose_query_plan(
                        n, max_df_frac=frac, interactive=interactive,
                        volume=volume,
                    )
                    assert d["plan"] in PLANS, (n, frac, volume, d)
                    assert d["reasons"], (n, frac, volume)
                d = choose_query_plan(n, max_df_frac=frac,
                                      interactive=interactive)
                assert d["plan"] in PLANS and d["reasons"]
    assert PLANS == ("local", "sharded")


def _build(spark, path, chunk_bits):
    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    return build_and_save_serving(docs, path, stem=False,
                                  chunk_bits=chunk_bits, partitions=4)


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """(path, index) of the sf0.001 corpus at 16-doc chunks and on the
    auto layout."""
    out = {}
    for name, cb in (("cb4", 4), ("auto", None)):
        p = str(tmp_path_factory.mktemp("planner") / name)
        out[name] = (p, _build(spark, p, cb))
    return out


def _by_qid(rows):
    out = {}
    for r in rows:
        out.setdefault(int(r["qid"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        )
    return {q: sorted(v) for q, v in out.items()}


def _assert_rank_identical(got, want):
    """Same queries, same docs at the same ranks; two docs may trade a
    rank only when their scores tie at float grain (the kernel and the
    naive plan sum in different orders)."""
    assert set(got) == set(want)
    for q in want:
        assert len(got[q]) == len(want[q]), q
        for (gr, gd, gs), (wr, wd, ws) in zip(got[q], want[q]):
            assert gr == wr
            assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), q
            if gd != wd:
                assert gs == pytest.approx(ws, rel=1e-12), (q, gr)


def _naive(spark, idx, text_queries, k):
    qt = qterms_df(spark, text_queries, stem=False)
    return _by_qid(bm25_topk(qt, idx.postings_flat, idx.dictionary,
                             idx.doc_stats, idx.avgdl, k=k).collect())


def _head_term(spark, path):
    return (spark.read.parquet(f"{path}/dictionary")
            .orderBy("df", ascending=False).first()["term"])


def test_search_serving_plans_rank_identical(spark, layouts):
    """Both forced plans equal bm25_topk, on a 16-doc-chunk layout and
    on the auto layout, including a head-term query."""
    for p, idx in layouts.values():
        head = _head_term(spark, p)
        text = {**TEXT_QUERIES, 4: f"{head} shuffle"}
        qmap = query_term_map(text, stem=False)
        want = _naive(spark, idx, text, 5)
        assert set(want) == set(text)
        for plan in PLANS:
            got = _by_qid(search_serving(spark, p, qmap, k=5, plan=plan)
                          .collect())
            _assert_rank_identical(got, want)


@pytest.mark.parametrize("plan", [None, *PLANS])
def test_search_serving_empty_results_keep_schema(spark, layouts, plan):
    """A batch whose terms are all unknown, and an empty batch, return an
    empty (qid int, doc_id long, score double, rank int) frame on every
    plan and layout."""
    for (p, _), queries in [
        (lay, q) for lay in layouts.values()
        for q in ({1: ["zzz_not_a_term", "qqq_nor_this"]}, {})
    ]:
        df = search_serving(spark, p, queries, k=5, plan=plan)
        assert df.collect() == []
        assert [(f.name, f.dataType.simpleString())
                for f in df.schema.fields] == [
            ("qid", "int"), ("doc_id", "bigint"), ("score", "double"),
            ("rank", "int"),
        ]


def _jobs_during(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    gid = f"planner-test-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "count the jobs of one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_search_serving_auto_crossover(spark, layouts, monkeypatch):
    """Below the volume crossover the facade runs no Spark job before,
    during or after the query; above it, it runs the sharded job. Both
    sides return the same ranks."""
    p, _ = layouts["auto"]
    qmap = query_term_map(TEXT_QUERIES, stem=False)
    below, jobs = _jobs_during(
        spark, lambda: search_serving(spark, p, qmap, k=5).collect()
    )
    assert jobs == 0 and below
    monkeypatch.setattr(planner, "LOCAL_MAX_VOLUME", 0)
    above, jobs = _jobs_during(
        spark, lambda: search_serving(spark, p, qmap, k=5).collect()
    )
    assert jobs >= 1
    assert _by_qid(above) == _by_qid(below)


def test_search_serving_auto_and_unknown(spark, layouts):
    p, _ = layouts["cb4"]
    queries = {7: ["spark"]}
    auto = search_serving(spark, p, queries, k=3).collect()
    assert len(auto) == 3 and all(r.qid == 7 for r in auto)
    # removed plans are unknown plans; every one raises before any read
    for gone in ("warp", "batch", "single"):
        with pytest.raises(ValueError, match=gone):
            search_serving(spark, p, queries, plan=gone)


def test_search_serving_sees_merge(spark, tmp_path):
    """No serving state outlives a call: a delta merged between two
    search_serving calls is served by the second, equal to bm25_topk
    over the merged index."""
    from themis_search_engine_spark.indexing.merge import merge_serving_delta

    p = str(tmp_path / "idx")
    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    build_and_save_serving(docs.where("doc_id % 2 = 0"), p, stem=False,
                           chunk_bits=4, partitions=4)
    qmap = query_term_map(TEXT_QUERIES, stem=False)
    before = _by_qid(search_serving(spark, p, qmap, k=10).collect())
    assert all(d % 2 == 0 for v in before.values() for _, d, _ in v)

    idx = merge_serving_delta(spark, p, docs.where("doc_id % 2 = 1"),
                              stem=False, partitions=4)
    after = _by_qid(search_serving(spark, p, qmap, k=10).collect())
    assert any(d % 2 == 1 for v in after.values() for _, d, _ in v)
    _assert_rank_identical(after, _naive(spark, idx, TEXT_QUERIES, 10))


def test_search_serving_legacy_stats_covers_all_chunks(spark, tmp_path):
    """A layout whose global_stats predates max_doc_id must still serve
    every chunk: the id ceiling comes from a doc_stats scan, not a 0
    default that would size the plans to chunk 0 alone."""
    p = str(tmp_path / "idx")
    idx = _build(spark, p, 4)
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
