"""Query-result cache (queryeng/cache.py): hit/miss accounting, result
identity with the uncached path, generation invalidation on index
mutation, LRU cap."""

import os

import pytest

from themis_search_engine_spark.corpus import load_documents
from themis_search_engine_spark.indexing.build import (
    build_and_save_serving,
    load_serving_index,
)
from themis_search_engine_spark.indexing.merge import merge_serving_delta
from themis_search_engine_spark.queryeng.cache import (
    cached_query_topk,
    index_generation,
)
from themis_search_engine_spark.queryeng.sharded import collect_idf_map
from themis_search_engine_spark.queryeng.wand import wand_topk_local

SF_DIR = "/root/testdata/sf0.001"
QUERIES = {1: ["spark", "shuffl", "join"], 2: ["queri", "plan"],
           3: ["zzz_no_such_term"]}


def _rows(pdf):
    return sorted(
        (int(r.qid), int(r.rank), int(r.doc_id), round(float(r.score), 9))
        for r in pdf.itertuples()
    )


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cache_idx") / "serving")
    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    build_and_save_serving(
        docs.where("doc_id % 2 = 0"), p, stem=True, partitions=8
    )
    return p, docs


def test_cache_hit_identity_and_invalidation(spark, served, tmp_path):
    p, docs = served
    cache_dir = str(tmp_path / "qcache")
    idx = load_serving_index(spark, p)
    idf = collect_idf_map(idx.dictionary)
    args = dict(cache_dir=cache_dir, chunk_bits=idx.chunk_bits)

    direct = wand_topk_local(
        f"{p}/postings_comp", QUERIES, idf, idx.avgdl, 5,
        chunk_bits=idx.chunk_bits,
    )
    first, s1 = cached_query_topk(p, QUERIES, idf, idx.avgdl, 5, **args)
    assert (s1["hits"], s1["misses"]) == (0, 3)
    assert _rows(first) == _rows(direct)

    second, s2 = cached_query_topk(p, QUERIES, idf, idx.avgdl, 5, **args)
    assert (s2["hits"], s2["misses"]) == (3, 0)
    assert _rows(second) == _rows(direct)
    assert s1["generation"] == s2["generation"]

    # overlapping batch: shared queries hit, the new one misses
    part = {1: QUERIES[1], 4: ["benchmark"]}
    _, s3 = cached_query_topk(p, part, idf, idx.avgdl, 5, **args)
    assert (s3["hits"], s3["misses"]) == (1, 1)

    # mutate the index: generation changes, nothing stale is served
    merge_serving_delta(
        spark, p, docs.where("doc_id % 2 = 1"), stem=True, partitions=8
    )
    assert index_generation(p) != s1["generation"]
    idx2 = load_serving_index(spark, p)
    idf2 = collect_idf_map(idx2.dictionary)
    direct2 = wand_topk_local(
        f"{p}/postings_comp", QUERIES, idf2, idx2.avgdl, 5,
        chunk_bits=idx2.chunk_bits,
    )
    third, s4 = cached_query_topk(
        p, QUERIES, idf2, idx2.avgdl, 5, cache_dir=cache_dir,
        chunk_bits=idx2.chunk_bits,
    )
    assert (s4["hits"], s4["misses"]) == (0, 3)
    assert _rows(third) == _rows(direct2)
    assert _rows(third) != _rows(direct)  # merged corpus reranks


def test_cache_lru_cap(spark, served, tmp_path):
    p, _ = served
    cache_dir = str(tmp_path / "tiny")
    idx = load_serving_index(spark, p)
    idf = collect_idf_map(idx.dictionary)
    cached_query_topk(
        p, QUERIES, idf, idx.avgdl, 5, cache_dir=cache_dir,
        chunk_bits=idx.chunk_bits, max_entries=1,
    )
    files = [f for f in os.listdir(cache_dir) if f.endswith(".parquet")]
    assert len(files) == 1
