"""Attribute-partitioned serving index (indexing/partitioned.py).

Pins: filtered WAND over the partition subset is rank-identical to the
semi-join filtered plan (global scoring semantics), all-parts equals the
unpartitioned index, excluded partitions contribute zero input (the
query runs with their directories deleted), and bad values fail loud.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from themis_search_engine_spark.indexing import build_index
from themis_search_engine_spark.indexing.partitioned import (
    build_partitioned_serving,
    wand_topk_partitioned,
)
from themis_search_engine_spark.queryeng import qterms_df
from themis_search_engine_spark.queryeng.metadata import bm25_topk_filtered

DOCS = [
    (0, "spark shuffle join spark window", "en"),
    (1, "spark shuffle join", "en"),
    (2, "spark join shuffle merge window window", "de"),
    (3, "spark spark spark shuffle join", "de"),
    (4, "window order group spark", "en"),
    (5, "shuffle window merge", "fr"),
    (6, "join join join window order", "en"),
    (7, "order group merge spark shuffle", "fr"),
]

QS = {1: "spark shuffle join", 2: "window order group"}


@pytest.fixture(scope="module")
def pdocs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def pidx_path(spark, tmp_path_factory, pdocs):
    p = str(tmp_path_factory.mktemp("pidx")) + "/idx"
    build_partitioned_serving(
        pdocs, p, "lang", stem=False, chunk_bits=2, partitions=4
    )
    return p


def _ranked(rows):
    return sorted(
        (r["qid"], r["doc_id"], round(r["score"], 6)) for r in rows
    )


def test_filtered_wand_matches_semijoin_plan(spark, pdocs, pidx_path):
    qt = qterms_df(spark, QS)
    wand = wand_topk_partitioned(spark, pidx_path, qt, ["en"], k=10).collect()
    idx = build_index(pdocs.select("doc_id", "text"), stem=False)
    semi = bm25_topk_filtered(
        qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
        pdocs, F.col("lang") == "en", k=10,
    ).collect()
    assert _ranked(wand) == _ranked(semi)


def test_all_parts_match_unfiltered(spark, pdocs, pidx_path):
    from themis_search_engine_spark.queryeng.bm25 import bm25_score_all, topk

    qt = qterms_df(spark, QS)
    wand = wand_topk_partitioned(spark, pidx_path, qt, None, k=10).collect()
    idx = build_index(pdocs.select("doc_id", "text"), stem=False)
    naive = topk(
        bm25_score_all(
            qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl
        ),
        10,
    ).collect()
    assert _ranked(wand) == _ranked(naive)


@pytest.mark.parametrize("plan", ["local", "sharded"])
def test_parts_with_different_auto_chunk_bits(spark, pdocs, tmp_path,
                                              monkeypatch, plan):
    """chunk_bits=None auto-sizes each part from its own id ceiling, so
    parts can differ; each is served on its own layout by either leg
    plan, and filtered and unfiltered results still equal the
    single-index plans."""
    from themis_search_engine_spark.queryeng import planner
    from themis_search_engine_spark.queryeng.bm25 import bm25_score_all, topk

    if plan == "sharded":  # every batch volume is above the crossover
        monkeypatch.setattr(planner, "LOCAL_MAX_VOLUME", -1)

    shifted = pdocs.withColumn(
        "doc_id",
        F.when(F.col("lang") == "de", F.col("doc_id") + (1 << 20))
        .otherwise(F.col("doc_id")),
    ).cache()
    p = str(tmp_path / "auto")
    from themis_search_engine_spark.indexing.merge import _base_totals

    build_partitioned_serving(shifted, p, "lang", stem=False, partitions=4)
    cbs = {v: _base_totals(spark, f"{p}/parts/{v}")["chunk_bits"]
           for v in ("de", "en")}
    assert cbs["de"] != cbs["en"], cbs

    qt = qterms_df(spark, QS)
    idx = build_index(shifted.select("doc_id", "text"), stem=False)
    naive = topk(
        bm25_score_all(
            qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl
        ),
        10,
    ).collect()
    got = wand_topk_partitioned(spark, p, qt, None, k=10).collect()
    assert _ranked(got) == _ranked(naive)
    assert any(r["doc_id"] >= 1 << 20 for r in got)
    for vals in (["de"], ["en", "fr"]):
        semi = bm25_topk_filtered(
            qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
            shifted, F.col("lang").isin(vals), k=10,
        ).collect()
        wand = wand_topk_partitioned(spark, p, qt, vals, k=10).collect()
        assert _ranked(wand) == _ranked(semi), vals


def test_partition_pruning_zero_io_for_excluded(spark, pidx_path, tmp_path):
    """A query over parts/en runs unchanged with every other part's
    directory deleted: excluded partitions are never opened."""
    import shutil

    qt = qterms_df(spark, QS)
    want = wand_topk_partitioned(spark, pidx_path, qt, ["en"], k=10).collect()
    pruned = str(tmp_path / "pruned")
    shutil.copytree(pidx_path, pruned)
    for v in ("de", "fr"):
        shutil.rmtree(f"{pruned}/parts/{v}")
    got = wand_topk_partitioned(spark, pruned, qt, ["en"], k=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and want


def test_unknown_value_raises(spark, pidx_path):
    with pytest.raises(ValueError, match="unknown partition"):
        wand_topk_partitioned(spark, pidx_path, qterms_df(spark, QS), ["xx"])


def test_unsafe_value_raises(spark, pdocs, tmp_path):
    with pytest.raises(ValueError, match="filesystem-safe"):
        build_partitioned_serving(
            pdocs.withColumn("lang", F.lit("a/b")),
            str(tmp_path) + "/bad", "lang", stem=False,
        )


def test_duplicate_values_deduplicated(spark, pidx_path):
    """['en','en'] must serve parts/en once — a part served twice would
    return every hit twice."""
    qt = qterms_df(spark, QS)
    twice = wand_topk_partitioned(spark, pidx_path, qt, ["en", "en"], k=10)
    once = wand_topk_partitioned(spark, pidx_path, qt, ["en"], k=10)
    got = sorted(map(tuple, twice.collect()))
    assert got == sorted(map(tuple, once.collect())) and got
    assert len({(r[0], r[1]) for r in got}) == len(got)


def test_empty_selection_raises(spark, pidx_path):
    with pytest.raises(ValueError, match="empty partition selection"):
        wand_topk_partitioned(spark, pidx_path, qterms_df(spark, QS), [])


def test_explicit_values_must_cover_corpus(spark, pdocs, tmp_path):
    """An explicit partition list that misses corpus values must raise —
    silently dropping docs would corrupt the global stats and break
    score-identity with the semi-join filtered plan."""
    with pytest.raises(ValueError, match="not in the explicit partition"):
        build_partitioned_serving(
            pdocs, str(tmp_path) + "/partial", "lang",
            stem=False, values=["en", "de"],  # corpus also has fr
        )


def test_ivf_add_delta_equals_full_build(spark, tmp_path):
    """Delta-appended IVF ≡ full build with the same centroids: results
    identical, fresh-id guard raises on re-adds, probed cells really
    hold files from both generations."""
    import os

    from themis_search_engine_spark.pipeline_ops.simsearch import (
        build_ivf_index,
        ivf_add_delta,
        ivf_topk_persisted,
    )

    rows = [(i, [float((i * 3 + d) % 9) - 4.0 for d in range(8)])
            for i in range(60)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = embs.where("vec_id % 20 = 0").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    full = str(tmp_path / "full")
    build_ivf_index(embs, full, every_m=10)
    merged = str(tmp_path / "merged")
    build_ivf_index(
        embs.where("vec_id % 2 = 0 OR vec_id % 10 = 0"), merged, every_m=10
    )
    n = ivf_add_delta(
        spark, merged, embs.where("vec_id % 2 = 1 AND vec_id % 10 <> 0")
    )
    assert n == embs.where("vec_id % 2 = 1 AND vec_id % 10 <> 0").count()

    def _res(path):
        return sorted(
            (r["query_id"], r["rank"], r["vec_id"], round(r["cosine"], 9))
            for r in ivf_topk_persisted(spark, path, queries, k=3,
                                        n_probe=2).collect()
        )

    assert _res(merged) == _res(full)

    # a probed cell dir holds parquet files from both write generations
    cell_dirs = [d for d in os.listdir(f"{merged}/vectors")
                 if d.startswith("cell=")]
    frag = max(
        len([f for f in os.listdir(f"{merged}/vectors/{d}")
             if f.endswith(".parquet")])
        for d in cell_dirs
    )
    assert frag > 1

    with pytest.raises(ValueError, match="already exists"):
        ivf_add_delta(spark, merged, embs.where("vec_id = 1"))
