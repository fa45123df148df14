"""Topical shard assignment (queryeng/topical.py): vectorizer shape and
determinism, planted-topic recovery, balance of the cluster-then-pack
allocation, and the selective-search recall lift it exists for."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from themis_search_engine_spark.corpus import synth_pages, topic_of
from themis_search_engine_spark.queryeng.topical import (
    doc_tf_vectors,
    topical_shard_map,
    vector_shard_map,
)

N_DOCS = 2000
N_TOPICS = 4


@pytest.fixture(scope="module")
def topical_docs(spark):
    return (
        synth_pages(spark, N_DOCS, partitions=8, topics=N_TOPICS)
        .select(
            F.regexp_extract("url", r"/p/(\d+)", 1).cast("long").alias(
                "doc_id"
            ),
            "text",
        )
        .cache()
    )


def test_doc_tf_vectors_shape_and_determinism(spark, topical_docs):
    v1 = doc_tf_vectors(topical_docs, dim=32).orderBy("doc_id").collect()
    assert len(v1) == N_DOCS
    assert all(len(r["embedding"]) == 32 for r in v1[:10])
    # deterministic under a different partitioning of the same input
    v2 = (
        doc_tf_vectors(topical_docs.repartition(3), dim=32)
        .orderBy("doc_id")
        .collect()
    )
    for a, b in zip(v1[:50], v2[:50]):
        assert a["doc_id"] == b["doc_id"]
        assert a["embedding"] == pytest.approx(b["embedding"], rel=1e-9)


def test_doc_tf_vectors_weighting_modes(spark):
    docs = spark.createDataFrame(
        [(0, "alpha alpha beta"), (1, "alpha gamma"), (2, "· · ·")],
        "doc_id long, text string",
    )
    tf = {r["doc_id"]: r["embedding"]
          for r in doc_tf_vectors(docs, dim=8, weighting="tf").collect()}
    # doc 2 normalizes to zero tokens -> NO vector row
    assert set(tf) == {0, 1}
    assert sum(tf[0]) == pytest.approx(3.0)  # raw counts
    tfidf = {r["doc_id"]: r["embedding"]
             for r in doc_tf_vectors(docs, dim=8).collect()}
    # alpha appears in 2/3 docs -> idf log2(3/2); beta/gamma 1/3 -> log2(3)
    assert sum(tfidf[1]) == pytest.approx(
        np.log1p(1) * np.log2(3 / 2) + np.log1p(1) * np.log2(3)
    )
    with pytest.raises(ValueError, match="weighting"):
        doc_tf_vectors(docs, weighting="bogus").collect()


def test_topical_shard_map_covers_balances_and_recovers(spark, topical_docs):
    m = topical_shard_map(
        topical_docs, N_TOPICS, dim=256, iters=2, train_mod=2
    ).collect()
    assert len(m) == N_DOCS  # total function: every doc placed once
    shards = np.array([r["shard"] for r in sorted(m, key=lambda r: r["doc_id"])])
    assert set(np.unique(shards)) <= set(range(N_TOPICS))
    # balance: the pack step targets near-equal doc counts
    sizes = np.bincount(shards, minlength=N_TOPICS)
    assert sizes.min() > 0.5 * N_DOCS / N_TOPICS
    assert sizes.max() < 1.6 * N_DOCS / N_TOPICS
    # planted-topic recovery: most docs land in their topic's majority
    # shard (deterministic pipeline -> this is a fixed number, not flaky)
    topics = np.array([topic_of(i, N_TOPICS) for i in range(N_DOCS)])
    agree = sum(
        np.bincount(shards[topics == t], minlength=N_TOPICS).max()
        for t in range(N_TOPICS)
    ) / N_DOCS
    assert agree > 0.75, f"topic->shard agreement {agree:.3f}"


def test_topical_shard_map_edge_cases(spark):
    docs = spark.createDataFrame(
        [(i, f"word{i % 5} text") for i in range(20)] + [(99, "· · ·")],
        "doc_id long, text string",
    )
    one = topical_shard_map(docs, 1).collect()
    assert len(one) == 21 and all(r["shard"] == 0 for r in one)
    # token-free doc falls back to doc_id % n_shards
    m = {r["doc_id"]: r["shard"] for r in topical_shard_map(docs, 3).collect()}
    assert len(m) == 21
    assert m[99] == 99 % 3
    with pytest.raises(ValueError, match="n_shards"):
        topical_shard_map(docs, 0)


def test_vector_shard_map_on_embeddings(spark):
    # three well-separated planted clusters in 4-d
    rows = []
    for i in range(90):
        c = i % 3
        base = [0.0, 0.0, 0.0, 0.0]
        base[c] = 10.0
        base[(c + 1) % 4] = 0.1 * (i % 7)
        rows.append((i, [float(x) for x in base]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m = vector_shard_map(vecs, 3, n_clusters=3, iters=2).collect()
    assert len(m) == 90
    by_shard = {}
    for r in m:
        by_shard.setdefault(r["shard"], set()).add(r["vec_id"] % 3)
    # each planted cluster maps to exactly one shard
    assert all(len(v) == 1 for v in by_shard.values())
    assert len(by_shard) == 3


def test_selective_recall_lift_over_random(spark, topical_docs, tmp_path):
    """The reason this operator exists: CORI top-m selective serving over
    topical shards recalls far more of the single-index top-k than the
    same serving over random (doc_id % n) shards, on a topic-targeted
    workload. Small-scale twin of scripts/federated_scale.py."""
    from themis_search_engine_spark.indexing.build import (
        build_and_save_serving,
    )
    from themis_search_engine_spark.queryeng import qterms_df
    from themis_search_engine_spark.queryeng.federated import (
        selective_wand_topk,
    )
    from themis_search_engine_spark.queryeng.wand import wand_topk
    from themis_search_engine_spark.queryset import synth_topical_queries

    smap = topical_shard_map(topical_docs, 4, dim=256, iters=2, train_mod=2)
    corpus = topical_docs.join(smap, "doc_id")
    union = build_and_save_serving(
        topical_docs, str(tmp_path / "u"), stem=True, partitions=8
    )
    legs, tlegs = [], []
    for i in range(4):
        legs.append(build_and_save_serving(
            topical_docs.where(F.pmod("doc_id", F.lit(4)) == i),
            str(tmp_path / f"r{i}"), stem=True, partitions=4,
        ))
        tlegs.append(build_and_save_serving(
            corpus.where(F.col("shard") == i).select("doc_id", "text"),
            str(tmp_path / f"t{i}"), stem=True, partitions=4,
        ))

    queries = synth_topical_queries(40, N_TOPICS)
    qt = qterms_df(spark, queries, stem=True)
    want = {}
    for r in wand_topk(qt, union.compressed, union.dictionary, union.avgdl,
                       k=5, chunk_bits=union.chunk_bits).collect():
        want.setdefault(r["qid"], set()).add(r["doc_id"])

    def recall(leg_set):
        got = {}
        for r in selective_wand_topk(qt, tuple(leg_set), k=5, m=2,
                                     round_dp=6).collect():
            got.setdefault(r["qid"], set()).add(r["doc_id"])
        vals = [
            len(got.get(q, set()) & docs) / len(docs)
            for q, docs in want.items() if docs
        ]
        return sum(vals) / len(vals)

    r_rand, r_top = recall(legs), recall(tlegs)
    assert r_top > r_rand + 0.2, (r_rand, r_top)
    assert r_top > 0.8, r_top


def test_build_and_load_topical_serving(spark, topical_docs, tmp_path):
    """The two-call selective story: build_topical_serving →
    load_topical_serving → selective_wand_topk, rank-consistent with
    serving from the in-session legs."""
    from themis_search_engine_spark.queryeng import qterms_df
    from themis_search_engine_spark.queryeng.federated import (
        selective_wand_topk,
    )
    from themis_search_engine_spark.queryeng.topical import (
        build_topical_serving,
        load_topical_serving,
    )
    from themis_search_engine_spark.queryset import synth_topical_queries

    p = str(tmp_path / "tier")
    built = build_topical_serving(
        topical_docs, p, 4, stem=True, partitions=4,
        dim=256, iters=2, train_mod=2,
    )
    assert len(built) == 4
    legs, meta = load_topical_serving(spark, p)
    assert meta["n_shards"] == 4 and len(legs) == 4
    assert sum(leg.n_docs for leg in legs) == N_DOCS

    qt = qterms_df(spark, synth_topical_queries(10, N_TOPICS), stem=True)
    got = sorted(
        (r["qid"], r["doc_id"])
        for r in selective_wand_topk(qt, legs, k=5, m=2, round_dp=6).collect()
    )
    want = sorted(
        (r["qid"], r["doc_id"])
        for r in selective_wand_topk(qt, tuple(built), k=5, m=2,
                                     round_dp=6).collect()
    )
    assert got == want and len(got) > 0


def test_doc_tf_vectors_precomputed_counts_identical(spark, topical_docs,
                                                     tmp_path):
    """Vectors fed from an index build's own tables (postings_raw counts,
    dictionary df, global_stats N) are row-identical to the
    self-computed path — the r5 'ride the build's pass' contract."""
    from themis_search_engine_spark.indexing.build import (
        build_and_save_serving,
    )

    p = str(tmp_path / "sv")
    sv = build_and_save_serving(topical_docs, p, stem=False, partitions=8)
    raw = spark.read.parquet(f"{p}/postings_raw").select(
        "doc_id", "term", "cnt"
    )
    base = doc_tf_vectors(topical_docs, dim=32).orderBy("doc_id").collect()
    fed = (
        doc_tf_vectors(
            topical_docs, dim=32, counts=raw,
            df_table=sv.index.dictionary, n_docs=sv.n_docs,
        )
        .orderBy("doc_id")
        .collect()
    )
    assert len(base) == len(fed)
    for a, b in zip(base, fed):
        assert a["doc_id"] == b["doc_id"]
        assert np.allclose(a["embedding"], b["embedding"], atol=1e-12)

    # and the shard map built from the fed vectors matches end to end
    m1 = topical_shard_map(topical_docs, 4, dim=32).orderBy("doc_id")
    m2 = topical_shard_map(
        topical_docs, 4, dim=32, counts=raw,
        df_table=sv.index.dictionary, n_docs=sv.n_docs,
    ).orderBy("doc_id")
    assert [r.asDict() for r in m1.collect()] == [
        r.asDict() for r in m2.collect()
    ]
