"""Federated multi-index retrieval (queryeng/federated.py): scoring N
independently-built sub-indexes with merged global stats must be
rank-identical to one index over the union corpus — and provably would
NOT be without the global-stats phase (the distributed-IR pitfall the
module exists to fix).
"""

import pytest
from pyspark.sql import functions as F

from themis_search_engine_spark.indexing import build_index
from themis_search_engine_spark.queryeng import (
    federated_topk,
    merged_global_stats,
    qterms_df,
)
from themis_search_engine_spark.queryeng.bm25 import bm25_score_all, topk

# Skewed on purpose: "fox" is rare in one half and common in the other,
# so local-df scoring visibly disagrees with union-corpus scoring.
DOCS = {
    0: "the quick brown fox jumps over the lazy dog",
    1: "sparking sparks spark sparked in the engine engine",
    2: "a lazy dog and another lazy lazy dog",
    3: "fox fox den",
    4: "quick queries query the index indexes indexing",
    5: "fox field fox trot fox",
    6: "engine engine engine room",
    7: "dog walker walks a dog",
    8: "query the fox index quickly",
    9: "lazy summer day by the engine",
}
QUERIES = {1: "lazy dog", 2: "fox engine", 3: "quick query"}


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        [(k, v) for k, v in DOCS.items()], "doc_id long, text string"
    )


def _splits(docs_df, n):
    return tuple(
        build_index(
            docs_df.where(F.pmod("doc_id", F.lit(n)) == i),
            stem=False, use_arrow=False,
        ).cache()
        for i in range(n)
    )


def _ranked(rows):
    out = {}
    for r in rows:
        out.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
    return {q: [d for _, d in sorted(v)] for q, v in out.items()}


def test_merged_stats_exact(spark, docs_df):
    """N, avgdl, and per-term df merged across sub-indexes equal the
    union index's own stats — the exactness claim of step 1."""
    union = build_index(docs_df, stem=False, use_arrow=False)
    for n in (2, 3):
        gdict, n_total, avgdl = merged_global_stats(_splits(docs_df, n))
        assert n_total == union.n_docs
        assert avgdl == pytest.approx(union.avgdl)
        got = {r["term"]: r["df"] for r in gdict.collect()}
        want = {r["term"]: r["df"] for r in union.dictionary.collect()}
        assert got == want


@pytest.mark.parametrize("n", [2, 3])
def test_federated_rank_identical_to_union(spark, docs_df, n):
    union = build_index(docs_df, stem=False, use_arrow=False).cache()
    qt = qterms_df(spark, QUERIES)
    single = _ranked(
        topk(
            bm25_score_all(
                qt, union.postings_flat, union.dictionary,
                union.doc_stats, union.avgdl,
            ),
            k=5,
        ).collect()
    )
    fed = _ranked(federated_topk(qt, _splits(docs_df, n), k=5).collect())
    assert fed == single


def test_local_stats_would_disagree(spark, docs_df):
    """Negative control: scoring each half with its LOCAL (df, N, avgdl)
    — the naive federation the module's docstring warns about — yields
    scores that disagree with union-corpus scores on the skewed corpus
    (the incomparability pitfall itself). The globally-scored legs, by
    contrast, reproduce every union score exactly. If the naive check
    ever stops failing, the global-stats phase stopped being
    load-bearing."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from themis_search_engine_spark.queryeng.federated import (
        federated_scores,
    )

    union = build_index(docs_df, stem=False, use_arrow=False).cache()
    qt = qterms_df(spark, QUERIES)

    def score_map(df):
        return {
            (r["qid"], r["doc_id"]): round(r["score"], 6)
            for r in df.collect()
        }

    want = score_map(
        bm25_score_all(
            qt, union.postings_flat, union.dictionary,
            union.doc_stats, union.avgdl,
        )
    )
    halves = _splits(docs_df, 2)
    naive = score_map(
        reduce(
            DataFrame.unionByName,
            [
                bm25_score_all(
                    qt, ix.postings_flat, ix.dictionary,
                    ix.doc_stats, ix.avgdl,
                )
                for ix in halves
            ],
        )
    )
    assert naive != want  # local stats: scores not comparable

    fed = score_map(
        reduce(DataFrame.unionByName, federated_scores(qt, halves))
    )
    assert fed == want  # merged stats: exactly the union-index scores


def test_select_shards_bounded(spark, docs_df):
    from themis_search_engine_spark.queryeng.federated import select_shards

    qt = qterms_df(spark, QUERIES)
    sel = select_shards(qt, _splits(docs_df, 3), m=2).collect()
    per_q = {}
    for r in sel:
        per_q.setdefault(r["qid"], set()).add(r["shard"])
    assert per_q  # at least one query routed
    assert all(len(s) <= 2 for s in per_q.values())
    assert all(0 <= sh < 3 for s in per_q.values() for sh in s)


def test_selective_full_selection_equals_federated(spark, docs_df):
    """m = n_shards selects every shard — selective search must then be
    exactly federated search (routing is the ONLY thing it changes)."""
    from themis_search_engine_spark.queryeng.federated import selective_topk

    qt = qterms_df(spark, QUERIES)
    halves = _splits(docs_df, 2)
    fed = sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 6))
        for r in federated_topk(qt, halves, k=5, round_dp=6).collect()
    )
    sel = sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 6))
        for r in selective_topk(qt, halves, k=5, m=2, round_dp=6).collect()
    )
    assert sel == fed


def test_selective_score_fidelity(spark, docs_df):
    """Every (qid, doc) selective search returns carries the UNION
    index's exact score — selection bounds recall, never score values."""
    from themis_search_engine_spark.queryeng.federated import selective_topk

    union = build_index(docs_df, stem=False, use_arrow=False).cache()
    qt = qterms_df(spark, QUERIES)
    want = {
        (r["qid"], r["doc_id"]): round(r["score"], 6)
        for r in bm25_score_all(
            qt, union.postings_flat, union.dictionary,
            union.doc_stats, union.avgdl,
        ).collect()
    }
    got = selective_topk(qt, _splits(docs_df, 3), k=5, m=1, round_dp=6)
    rows = got.collect()
    assert rows
    for r in rows:
        assert round(r["score"], 6) == want[(r["qid"], r["doc_id"])]


def test_federated_wand_equals_union(spark, docs_df, tmp_path):
    """Compressed-serving federation: two on-disk serving indexes with
    DIFFERENT encode-time avgdls (short docs in one leg, long in the
    other, so the per-leg bound scales are exercised in both
    directions), queried via block-max WAND with merged stats — rank-
    and score-identical (at 6 dp) to the union index's naive plan."""
    from pyspark.sql.window import Window

    from themis_search_engine_spark.indexing.build import (
        build_and_save_serving,
        load_serving_index,
    )
    from themis_search_engine_spark.queryeng.federated import (
        federated_wand_topk,
    )

    # split by doc LENGTH so leg avgdls genuinely differ
    short = docs_df.where(F.length("text") < 40)
    long_ = docs_df.where(F.length("text") >= 40)
    legs = []
    for name, part in (("short", short), ("long", long_)):
        p = str(tmp_path / name)
        build_and_save_serving(part, p, stem=False, partitions=4)
        legs.append(load_serving_index(spark, p))
    assert legs[0].avgdl != legs[1].avgdl  # scales non-trivial both ways

    qt = qterms_df(spark, QUERIES, stem=False)
    got = sorted(
        tuple(r)
        for r in federated_wand_topk(qt, legs, k=5, round_dp=6).collect()
    )

    union = build_index(docs_df, stem=False, use_arrow=False).cache()
    scored = bm25_score_all(
        qt, union.postings_flat, union.dictionary, union.doc_stats,
        union.avgdl,
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    want = sorted(
        tuple(r)
        for r in scored.withColumn(
            "rank", F.row_number().over(w).cast("long")
        )
        .where(F.col("rank") <= 5)
        .select("qid", "doc_id", F.round("score", 6).alias("score"), "rank")
        .collect()
    )
    assert got == want


def test_selective_wand_matches_logical_plan(spark, docs_df, tmp_path):
    """Routing and scores are plan-independent: selective search on the
    compressed serving path returns exactly what the logical-table plan
    returns for the same shard split."""
    from themis_search_engine_spark.indexing.build import (
        build_and_save_serving,
        load_serving_index,
    )
    from themis_search_engine_spark.queryeng.federated import (
        selective_topk,
        selective_wand_topk,
    )

    n = 3
    legs = []
    for i in range(n):
        p = str(tmp_path / f"leg{i}")
        build_and_save_serving(
            docs_df.where(F.pmod("doc_id", F.lit(n)) == i), p,
            stem=False, partitions=4,
        )
        legs.append(load_serving_index(spark, p))
    qt = qterms_df(spark, QUERIES, stem=False)
    wand = sorted(
        tuple(r)
        for r in selective_wand_topk(
            qt, legs, k=5, m=2, round_dp=6
        ).collect()
    )
    logical = sorted(
        tuple(r)
        for r in selective_topk(
            qt, _splits(docs_df, n), k=5, m=2, round_dp=6
        ).collect()
    )
    assert wand == logical and wand


def _union_oracle(spark, docs, qt, k=5):
    """(qid, doc_id, score, rank) at the 6-dp grain from the naive plan
    over one index of the union corpus."""
    from pyspark.sql.window import Window

    union = build_index(docs, stem=False, use_arrow=False).cache()
    scored = bm25_score_all(
        qt, union.postings_flat, union.dictionary, union.doc_stats,
        union.avgdl,
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    return sorted(
        tuple(r)
        for r in scored.withColumn(
            "rank", F.row_number().over(w).cast("long")
        )
        .where(F.col("rank") <= k)
        .select("qid", "doc_id", F.round("score", 6).alias("score"), "rank")
        .collect()
    )


def _serving_legs(spark, parts, tmp_path, **kw):
    from themis_search_engine_spark.indexing.build import (
        build_and_save_serving,
    )

    return [
        build_and_save_serving(part, str(tmp_path / f"leg{i}"), stem=False,
                               partitions=4, **kw)
        for i, part in enumerate(parts)
    ]


def test_federated_dense_vocabulary_rank_identity(spark, docs_df, tmp_path):
    """A batch whose vocabulary covers (almost) the whole dictionary —
    every doc's words as one query, plus the normal ones — federates to
    exactly the union oracle, like the sparse batches above."""
    from themis_search_engine_spark.queryeng.federated import (
        federated_wand_topk,
    )

    legs = _serving_legs(spark, [
        docs_df.where(F.pmod("doc_id", F.lit(2)) == i) for i in range(2)
    ], tmp_path)
    dense = dict(QUERIES)
    dense[99] = " ".join(DOCS.values())
    qt = qterms_df(spark, dense, stem=False)
    got = sorted(
        tuple(r)
        for r in federated_wand_topk(qt, legs, k=5, round_dp=6).collect()
    )
    want = _union_oracle(spark, docs_df, qt)
    assert got == want and len(want) > 0


@pytest.mark.parametrize("plan", ["local", "sharded"])
def test_federated_wand_mixed_auto_chunk_bits(spark, docs_df, tmp_path,
                                              monkeypatch, plan):
    """Legs auto-size their chunk layouts independently: one leg's ids
    sit high enough for a coarser layout than the other's. Each leg is
    served on its own chunk_bits and max_doc_id, by either leg plan, and
    the federation is still rank-identical to the union oracle."""
    from themis_search_engine_spark.queryeng import planner
    from themis_search_engine_spark.queryeng.federated import (
        federated_wand_topk,
    )

    if plan == "sharded":  # every batch volume is above the crossover
        monkeypatch.setattr(planner, "LOCAL_MAX_VOLUME", -1)

    shifted = docs_df.select(
        F.when(F.col("doc_id") >= 5, F.col("doc_id") + (1 << 20))
        .otherwise(F.col("doc_id")).alias("doc_id"),
        "text",
    ).cache()
    legs = _serving_legs(spark, [
        shifted.where(F.col("doc_id") < 5),
        shifted.where(F.col("doc_id") >= 5),
    ], tmp_path)  # chunk_bits=None: auto per leg
    assert legs[0].chunk_bits != legs[1].chunk_bits
    qt = qterms_df(spark, QUERIES, stem=False)
    got = sorted(
        tuple(r)
        for r in federated_wand_topk(qt, legs, k=5, round_dp=6).collect()
    )
    want = _union_oracle(spark, shifted, qt)
    assert got == want and any(d >= 1 << 20 for _, d, _, _ in got)


def test_selective_wand_legs_read_only_routed_queries(
    spark, docs_df, tmp_path, monkeypatch
):
    """Each selected leg gets only the queries CORI routed to it, so it
    reads only that sub-batch's vocabulary; unselected legs run
    nothing."""
    from themis_search_engine_spark.queryeng import federated

    legs = _serving_legs(spark, [
        docs_df.where(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)
    ], tmp_path)
    qt = qterms_df(spark, QUERIES, stem=False)
    routed = federated._route(qt, legs, 1)
    calls = {}
    real = federated._serve_layout

    def spy(spark_, path, queries, *a, **kw):
        calls[path] = queries
        return real(spark_, path, queries, *a, **kw)

    monkeypatch.setattr(federated, "_serve_layout", spy)
    rows = federated.selective_wand_topk(qt, legs, k=5, m=1).collect()
    assert rows
    want_terms = federated._query_map(qt)
    assert len(calls) == len(routed)
    for i, qids in routed.items():
        got = calls[legs[i].path]
        assert sorted(got) == sorted(qids)
        assert got == {q: want_terms[q] for q in qids}


def test_federated_leg_plan_uses_leg_df(spark, docs_df, tmp_path,
                                       monkeypatch):
    """A leg picks its plan from its own decode volume (its dictionary's
    df), not the merged df that scores it: with the crossover between
    the largest leg volume and the merged volume, every leg runs local,
    and the result is still the union oracle's."""
    from themis_search_engine_spark.queryeng import federated, planner

    legs = _serving_legs(spark, [
        docs_df.where(F.pmod("doc_id", F.lit(2)) == i) for i in range(2)
    ], tmp_path)
    qt = qterms_df(spark, QUERIES, stem=False)
    queries, priced, _ = federated._merged_batch(qt, legs)
    vocab = {t for ts in queries.values() for t in ts}
    own = [sum(df for df, _ in planner._price_terms(ix.path, vocab).values())
           for ix in legs]
    merged = sum(df for df, _ in priced.values())
    assert max(own) < merged
    monkeypatch.setattr(planner, "LOCAL_MAX_VOLUME", max(own))
    plans = []
    real = federated._serve_layout

    def spy(*a, **kw):
        plans.append(kw["plan"])
        return real(*a, **kw)

    monkeypatch.setattr(federated, "_serve_layout", spy)
    got = sorted(
        tuple(r)
        for r in federated.federated_wand_topk(qt, legs, k=5,
                                               round_dp=6).collect()
    )
    assert plans == ["local", "local"]
    assert got == _union_oracle(spark, docs_df, qt)


def test_selective_wand_empty_selection_keeps_schema(spark, docs_df,
                                                     tmp_path):
    """A batch no leg is routed to returns zero rows with the same
    schema as a non-empty result."""
    from themis_search_engine_spark.queryeng.federated import (
        selective_wand_topk,
    )

    legs = _serving_legs(spark, [
        docs_df.where(F.pmod("doc_id", F.lit(2)) == i) for i in range(2)
    ], tmp_path)
    hit = selective_wand_topk(qterms_df(spark, QUERIES, stem=False), legs,
                              k=5, m=1)
    miss = selective_wand_topk(
        qterms_df(spark, {1: "zzqx unseen"}, stem=False), legs, k=5, m=1
    )
    assert miss.collect() == [] and hit.collect()
    assert miss.dtypes == hit.dtypes
