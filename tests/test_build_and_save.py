"""build_and_save (streamlined salted-shuffle build) ≡ build_index."""

import pytest
from pyspark.sql import functions as F

from themis_search_engine_spark.corpus import load_documents
from themis_search_engine_spark.indexing import build_index
from themis_search_engine_spark.indexing.build import build_and_save

SF_DIR = "/root/testdata/sf0.001"


def test_build_and_save_equals_logical_build(spark, tmp_path):
    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    idx_d = build_and_save(docs, str(tmp_path / "idx"), stem=True,
                           term_buckets=8)
    idx_m = build_index(docs, stem=True)

    a = sorted(
        (r["term"], r["doc_id"], round(r["tf"], 9), r["length"])
        for r in idx_d.postings_flat.collect()
    )
    b = sorted(
        (r["term"], r["doc_id"], round(r["tf"], 9), r["length"])
        for r in idx_m.postings_flat.collect()
    )
    assert a == b
    da = sorted((r["term"], r["df"]) for r in idx_d.dictionary.collect())
    db = sorted((r["term"], r["df"]) for r in idx_m.dictionary.collect())
    assert da == db
    assert idx_d.n_docs == idx_m.n_docs
    assert idx_d.avgdl == pytest.approx(idx_m.avgdl)
    sa = sorted((r["doc_id"], r["length"]) for r in idx_d.doc_stats.collect())
    sb = sorted((r["doc_id"], r["length"]) for r in idx_m.doc_stats.collect())
    assert sa == sb


def test_build_and_save_serving_equals_logical_build(spark, tmp_path):
    """Serving build (raw sorted shuffle + observe + shuffle-free compress)
    produces the same logical tables AND the same compressed chunks as the
    reference in-memory path; WAND over them matches naive BM25."""
    from themis_search_engine_spark.indexing.build import (
        build_and_save_serving,
        load_serving_index,
    )
    from themis_search_engine_spark.indexing.compress import (
        build_postings_compressed,
        decode_postings,
    )
    from themis_search_engine_spark.queryeng import bm25_topk, qterms_df
    from themis_search_engine_spark.queryeng.wand import wand_topk

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    sv = build_and_save_serving(docs, str(tmp_path / "sv"), stem=True)
    idx_m = build_index(docs, stem=True)

    assert sv.n_docs == idx_m.n_docs
    assert sv.avgdl == pytest.approx(idx_m.avgdl)
    assert sv.n_postings == idx_m.postings_flat.count()

    a = sorted(
        (r["term"], r["doc_id"], round(r["tf"], 9), r["length"])
        for r in sv.postings_flat.collect()
    )
    b = sorted(
        (r["term"], r["doc_id"], round(r["tf"], 9), r["length"])
        for r in idx_m.postings_flat.collect()
    )
    assert a == b
    da = sorted((r["term"], r["df"]) for r in sv.dictionary.collect())
    db = sorted((r["term"], r["df"]) for r in idx_m.dictionary.collect())
    assert da == db
    # serving doc_stats holds only docs with >=1 posting (zero-token docs
    # are inert in every scoring path; they still count in N and avgdl)
    sa = sorted((r["doc_id"], r["length"]) for r in sv.doc_stats.collect())
    sb = sorted((r["doc_id"], r["length"])
                for r in idx_m.doc_stats.collect() if r["length"] > 0)
    assert sa == sb

    # compressed chunks decode to the identical postings
    ref = build_postings_compressed(idx_m.counts, idx_m.doc_stats, idx_m.avgdl)
    ca = sorted(
        (r["term"], r["doc_id"], round(r["tf"], 9))
        for r in decode_postings(sv.compressed).collect()
    )
    cb = sorted(
        (r["term"], r["doc_id"], round(r["tf"], 9))
        for r in decode_postings(ref).collect()
    )
    assert ca == cb and len(ca) > 0

    # reload round-trip + rank identity: WAND (batch plan) vs naive BM25
    sv2 = load_serving_index(spark, str(tmp_path / "sv"))
    qt = qterms_df(spark, {1: "spark shuffle join", 2: "merge sort window"},
                   stem=True)
    naive = sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(qt, sv2.postings_flat, sv2.dictionary,
                           sv2.doc_stats, sv2.avgdl, k=5).collect()
    )
    wand = sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in wand_topk(qt, sv2.compressed, sv2.dictionary, sv2.avgdl,
                           k=5, chunk_bits=sv2.chunk_bits).collect()
    )
    assert naive == wand and len(naive) > 0


def test_serving_chunk_bits_persisted_and_reload_exact(spark, tmp_path):
    """chunk_bits != default survives the layout round-trip: the reloaded
    index carries it, and WAND served with idx.chunk_bits reproduces naive
    BM25 exactly (a reader defaulting to 16 would decode wrong doc_ids)."""
    import copy

    from themis_search_engine_spark.corpus import load_documents
    from themis_search_engine_spark.indexing.build import (
        build_and_save_serving,
        load_serving_index,
    )
    from themis_search_engine_spark.queryeng import bm25_topk, qterms_df
    from themis_search_engine_spark.queryeng.wand import wand_topk

    docs = load_documents(spark, "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    built = build_and_save_serving(
        docs, str(tmp_path / "sv8"), stem=False, chunk_bits=8, partitions=8
    )
    assert built.chunk_bits == 8
    idx = load_serving_index(spark, str(tmp_path / "sv8"))
    assert idx.chunk_bits == 8
    assert idx.n_docs == docs.count()  # observe-based N == corpus size

    qt = qterms_df(spark, {1: "spark shuffle join", 2: "window order"},
                   stem=False)
    naive = sorted(
        (r["qid"], r["rank"], r["doc_id"])
        for r in bm25_topk(qt, idx.postings_flat, idx.dictionary,
                           idx.doc_stats, idx.avgdl, k=5).collect()
    )
    wand = sorted(
        (r["qid"], r["rank"], r["doc_id"])
        for r in wand_topk(qt, idx.compressed, idx.dictionary, idx.avgdl,
                           k=5, chunk_bits=idx.chunk_bits).collect()
    )
    assert naive == wand and len(naive) > 0

    # __getattr__ guard: copying must raise nothing and missing attrs give
    # AttributeError, not RecursionError
    assert copy.copy(idx).chunk_bits == 8
    try:
        idx.no_such_attr
        raise AssertionError("expected AttributeError")
    except AttributeError:
        pass


def test_empty_corpus_builds_valid_empty_index(spark, tmp_path):
    """An EMPTY corpus (a legitimate input at scale: a fully-filtered or
    empty topical shard, reaching the build as a zero-task pruned scan)
    must build a loadable, servable empty index — not die on Observation
    metrics or parquet schema inference over bare directories."""
    from themis_search_engine_spark.indexing import build_and_save_serving
    from themis_search_engine_spark.indexing.build import load_serving_index
    from themis_search_engine_spark.queryeng import bm25_topk, qterms_df
    from themis_search_engine_spark.queryeng.sharded import wand_topk_sharded

    base = spark.createDataFrame(
        [(i, f"alpha beta w{i}", i % 3) for i in range(9)],
        "doc_id long, text string, shard int",
    )
    src = str(tmp_path / "sharded_corpus")
    base.write.partitionBy("shard").parquet(src)
    # shard 9 does not exist -> partition-pruned ZERO-task scan
    docs = (
        spark.read.parquet(src)
        .where(F.col("shard") == 9)
        .select("doc_id", "text")
    )
    p = str(tmp_path / "empty_idx")
    idx = build_and_save_serving(docs, p, stem=False, chunk_bits=4,
                                 partitions=2)
    assert idx.n_docs == 0 and idx.max_doc_id == 0

    re = load_serving_index(spark, p)
    assert re.n_docs == 0
    assert re.dictionary.count() == 0 and re.compressed.count() == 0

    qt = qterms_df(spark, {1: "alpha"}, stem=False)
    assert bm25_topk(
        qt, re.index.postings_flat, re.dictionary, re.index.doc_stats,
        re.avgdl, k=5,
    ).count() == 0
    assert wand_topk_sharded(
        spark, f"{p}/postings_comp", {1: ["alpha"]}, re.dictionary,
        re.avgdl, re.max_doc_id, k=5, chunk_bits=re.chunk_bits,
    ).count() == 0


def test_choose_chunk_bits_layout_rule():
    """Auto layout: production 16 whenever it yields >=128 atoms, finer
    below, floored at 10 — and monotone in corpus size."""
    from themis_search_engine_spark.indexing.compress import (
        DEFAULT_CHUNK_BITS,
        MIN_CHUNK_BITS,
        choose_chunk_bits,
    )

    # web scale: always the production layout
    assert choose_chunk_bits(10**12) == DEFAULT_CHUNK_BITS
    assert choose_chunk_bits((128 << 16) - 1) == DEFAULT_CHUNK_BITS
    # the r4 scaling corpus: exactly the measured-good 13-bit layout
    assert choose_chunk_bits(1_199_999) == 13
    assert (1_199_999 >> 13) + 1 >= 128
    # small corpora floor at 2^10-doc chunks rather than shredding rows
    assert choose_chunk_bits(50_000) == MIN_CHUNK_BITS
    assert choose_chunk_bits(0) == MIN_CHUNK_BITS
    # monotone: more docs never picks a finer layout
    prev = MIN_CHUNK_BITS
    for n in [10**4, 10**5, 10**6, 10**7, 10**8, 10**9]:
        cb = choose_chunk_bits(n)
        assert cb >= prev
        prev = cb
    # explicit bounds always honored
    assert choose_chunk_bits(10**6, lo=4, hi=8) == 8


def test_build_auto_chunk_bits_persists_and_serves(spark, tmp_path):
    """Default (chunk_bits=None) build auto-sizes the layout, persists it
    in global_stats, and the sharded plan serves it rank-identically to
    naive BM25; max_doc_id_hint skips the sizing pre-pass with the same
    result."""
    from themis_search_engine_spark.indexing.build import (
        build_and_save_serving,
        load_serving_index,
    )
    from themis_search_engine_spark.indexing.compress import (
        choose_chunk_bits,
    )
    from themis_search_engine_spark.queryeng import bm25_topk, qterms_df
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.sharded import wand_topk_sharded

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    want_cb = choose_chunk_bits(int(max_id))

    sv = build_and_save_serving(docs, str(tmp_path / "auto"), stem=True)
    assert sv.chunk_bits == want_cb
    reloaded = load_serving_index(spark, str(tmp_path / "auto"))
    assert reloaded.chunk_bits == want_cb

    hinted = build_and_save_serving(
        docs, str(tmp_path / "hinted"), stem=True,
        max_doc_id_hint=int(max_id),
    )
    assert hinted.chunk_bits == want_cb

    queries = {1: "spark shuffle join", 2: "batch scan"}
    got = wand_topk_sharded(
        spark, str(tmp_path / "auto") + "/postings_comp",
        query_term_map(queries), sv.index.dictionary, sv.index.avgdl,
        sv.max_doc_id, k=5, chunk_bits=sv.chunk_bits,
    ).orderBy("qid", "rank").collect()
    ref = bm25_topk(
        qterms_df(spark, queries), sv.index.postings_flat,
        sv.index.dictionary, sv.index.doc_stats, sv.index.avgdl, k=5,
    ).orderBy("qid", "rank").collect()
    assert [(r["qid"], r["doc_id"], r["rank"]) for r in got] == [
        (r["qid"], r["doc_id"], r["rank"]) for r in ref
    ]
    assert all(
        abs(a["score"] - b["score"]) < 1e-9 for a, b in zip(got, ref)
    )
