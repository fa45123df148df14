"""Varbyte codec property tests + compressed-postings round-trip."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from themis_search_engine_spark.indexing import build_index
from themis_search_engine_spark.indexing.compress import (
    build_postings_compressed,
    compression_metrics,
    decode_postings,
    vb_decode,
    vb_encode,
)


def test_vb_known_values():
    assert vb_encode(np.array([], dtype=np.uint64)) == b""
    assert vb_encode(np.array([0])) == b"\x00"
    assert vb_encode(np.array([1])) == b"\x01"
    assert vb_encode(np.array([127])) == b"\x7f"
    assert vb_encode(np.array([128])) == b"\x80\x01"  # LE 7-bit groups
    assert list(vb_decode(b"\x80\x01")) == [128]


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**64 - 1), min_size=0, max_size=500
    )
)
@settings(max_examples=200, deadline=None)
def test_vb_roundtrip_property(values):
    arr = np.array(values, dtype=np.uint64)
    assert list(vb_decode(vb_encode(arr))) == values


def test_vb_edge_values():
    edges = np.array(
        [0, 1, 127, 128, 16383, 16384, 2**32 - 1, 2**63, 2**64 - 1],
        dtype=np.uint64,
    )
    out = vb_decode(vb_encode(edges))
    assert np.array_equal(out, edges)


@pytest.fixture(scope="module")
def idx(tiny_docs_df):
    return build_index(tiny_docs_df, stem=True).cache()


def test_compressed_roundtrip_exact(spark, idx):
    comp = build_postings_compressed(idx.counts, idx.doc_stats, idx.avgdl)
    dec = decode_postings(comp)
    got = {(r["term"], r["doc_id"]): (r["tf"], r["length"])
           for r in dec.collect()}
    flat = {(r["term"], r["doc_id"]): r["tf"] for r in idx.postings_flat.collect()}
    lens = {r["doc_id"]: r["length"] for r in idx.doc_stats.collect()}
    assert set(got) == set(flat)
    for key, (tf, ln) in got.items():
        assert tf == flat[key]  # EXACT: same IEEE division cnt/maxcnt
        assert ln == lens[key[1]]


def test_block_max_bounds(spark, idx):
    from themis_search_engine_spark.indexing.compress import (
        bm25_core,
        decode_chunk_row,
    )

    comp = build_postings_compressed(idx.counts, idx.doc_stats, idx.avgdl)
    for row in comp.collect():
        doc_ids, tf, dl = decode_chunk_row(row)
        core = bm25_core(tf, dl.astype(float), idx.avgdl)
        assert row["core_max"] == pytest.approx(core.max())
        assert row["core_min"] == pytest.approx(core.min())
        assert max(row["block_max"]) == pytest.approx(core.max())
        assert sorted(doc_ids) == list(doc_ids)  # chunk is doc-sorted


def test_sorted_compressor_identical_chunks(spark, idx):
    """The streaming sorted-partition compressor must emit byte-identical
    chunk rows to the groupBy/applyInPandas reference path."""
    from themis_search_engine_spark.indexing.compress import (
        build_postings_compressed_sorted,
    )

    ref = build_postings_compressed(idx.counts, idx.doc_stats, idx.avgdl)
    fast = build_postings_compressed_sorted(idx.counts, idx.doc_stats, idx.avgdl)

    def key(rows):
        return {
            (r["term"], r["chunk"]): (
                r["df_chunk"], bytes(r["doc_bytes"]), bytes(r["cnt_bytes"]),
                bytes(r["mc_bytes"]), bytes(r["dl_bytes"]),
                round(r["core_min"], 12), round(r["core_max"], 12),
                tuple(round(x, 12) for x in r["block_max"]),
            )
            for r in rows
        }

    a, b = key(ref.collect()), key(fast.collect())
    assert a == b and len(a) > 0


def test_sorted_compressor_batch_boundaries(spark, tiny_docs_df):
    """Groups spanning Arrow batches must be carried correctly: force 1-row
    batches so EVERY multi-posting group crosses a batch boundary."""
    from themis_search_engine_spark.indexing.compress import (
        build_postings_compressed_sorted,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        idx2 = build_index(tiny_docs_df, stem=True)
        ref = build_postings_compressed(idx2.counts, idx2.doc_stats, idx2.avgdl)
        fast = build_postings_compressed_sorted(
            idx2.counts, idx2.doc_stats, idx2.avgdl
        )
        a = {(r["term"], r["chunk"]): bytes(r["doc_bytes"])
             for r in ref.collect()}
        b = {(r["term"], r["chunk"]): bytes(r["doc_bytes"])
             for r in fast.collect()}
        assert a == b and len(a) > 0
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_compression_wins_on_real_data(spark):
    """On sf0.001 the varbyte chunks must be well under the reference's
    56 B/posting record format."""
    from themis_search_engine_spark.corpus import load_documents

    docs = load_documents(spark, "/root/testdata/sf0.001")
    idx = build_index(docs, stem=True)
    comp = build_postings_compressed(idx.counts, idx.doc_stats, idx.avgdl)
    m = compression_metrics(comp).agg(
        {"bytes_compressed": "sum", "bytes_uncompressed": "sum", "df_chunk": "sum"}
    ).collect()[0]
    comp_b = m["sum(bytes_compressed)"]
    raw_b = m["sum(bytes_uncompressed)"]
    assert comp_b < raw_b / 5, (comp_b, raw_b)
    assert comp_b / m["sum(df_chunk)"] < 8  # < 8 bytes per posting


def test_save_load_compressed_roundtrip(spark, tmp_path):
    from themis_search_engine_spark.corpus import load_documents
    from themis_search_engine_spark.indexing import build_index
    from themis_search_engine_spark.indexing.compress import (
        DEFAULT_CHUNK_BITS,
        build_postings_compressed,
        decode_postings,
        load_compressed,
        save_compressed,
    )

    docs = load_documents(spark, "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    idx = build_index(docs, stem=False)
    comp = build_postings_compressed(idx.counts, idx.doc_stats, idx.avgdl)
    save_compressed(comp, str(tmp_path / "comp"), term_buckets=8)
    comp2 = load_compressed(spark, str(tmp_path / "comp"))

    a = sorted(
        (r["term"], r["doc_id"], round(r["tf"], 9))
        for r in decode_postings(comp).collect()
    )
    b = sorted(
        (r["term"], r["doc_id"], round(r["tf"], 9))
        for r in decode_postings(comp2).collect()
    )
    assert a == b and len(a) > 0

    # WAND over the RELOADED chunks matches WAND over in-memory chunks
    from themis_search_engine_spark.queryeng import qterms_df
    from themis_search_engine_spark.queryeng.wand import wand_topk

    qt = qterms_df(spark, {1: "spark shuffle join", 2: "merge sort"},
                   stem=False)
    kw = dict(k=5, chunk_bits=DEFAULT_CHUNK_BITS)
    ra = sorted(map(tuple, wand_topk(qt, comp, idx.dictionary, idx.avgdl,
                                     **kw).collect()))
    rb = sorted(map(tuple, wand_topk(qt, comp2, idx.dictionary, idx.avgdl,
                                     **kw).collect()))
    assert ra == rb


def test_compress_files_equals_reference(spark, idx, tmp_path):
    """The file-parallel pyarrow compressor (one task per raw file) must
    produce the same chunk set as the groupBy reference path."""
    from pyspark.sql import functions as F

    from themis_search_engine_spark.indexing.compress import compress_files

    raw = (
        idx.counts.withColumn(
            "chunk", (F.col("doc_id") / F.lit(1 << 16)).cast("int")
        )
        .select("term", "chunk", "doc_id", "cnt", "maxcnt", "length")
        .repartition("term", "chunk")
        .sortWithinPartitions("term", "chunk", "doc_id")
    )
    raw.write.mode("overwrite").parquet(str(tmp_path / "raw"))
    metrics = compress_files(
        spark, str(tmp_path / "raw"), str(tmp_path / "comp"), idx.avgdl
    )
    assert sum(m["postings"] for m in metrics) == idx.postings_flat.count()
    assert all(m["seconds"] >= 0 for m in metrics)

    fast = spark.read.parquet(str(tmp_path / "comp"))
    ref = build_postings_compressed(idx.counts, idx.doc_stats, idx.avgdl)

    def key(rows):
        return {
            (r["term"], r["chunk"]): (
                r["df_chunk"], bytes(r["doc_bytes"]), bytes(r["cnt_bytes"]),
                bytes(r["mc_bytes"]), bytes(r["dl_bytes"]),
                round(r["core_min"], 12), round(r["core_max"], 12),
                tuple(round(x, 12) for x in r["block_max"]),
            )
            for r in rows
        }

    a, b = key(ref.collect()), key(fast.collect())
    assert a == b and len(a) > 0


def test_compress_files_uri_route(spark, idx, tmp_path):
    """Object-store routing: compress_files over file:// URIs (resolved
    through pyarrow.fs in the driver listing AND inside each task) must
    produce byte-identical chunks to the plain-path run, plus the
    _SUCCESS marker through the filesystem handle."""
    import os

    from pyspark.sql import functions as F

    from themis_search_engine_spark.indexing.compress import compress_files

    raw = (
        idx.counts.withColumn(
            "chunk", (F.col("doc_id") / F.lit(1 << 16)).cast("int")
        )
        .select("term", "chunk", "doc_id", "cnt", "maxcnt", "length")
        .repartition("term", "chunk")
        .sortWithinPartitions("term", "chunk", "doc_id")
    )
    raw.write.mode("overwrite").parquet(str(tmp_path / "raw"))

    compress_files(
        spark, str(tmp_path / "raw"), str(tmp_path / "comp_plain"), idx.avgdl
    )
    metrics = compress_files(
        spark,
        f"file://{tmp_path}/raw",
        f"file://{tmp_path}/comp_uri",
        idx.avgdl,
    )
    assert sum(m["postings"] for m in metrics) == idx.postings_flat.count()
    assert all(m["bytes_in"] > 0 for m in metrics)
    assert os.path.exists(tmp_path / "comp_uri" / "_SUCCESS")

    def key(rows):
        return {
            (r["term"], r["chunk"]): (
                r["df_chunk"], bytes(r["doc_bytes"]), bytes(r["cnt_bytes"]),
                bytes(r["mc_bytes"]), bytes(r["dl_bytes"]),
            )
            for r in rows
        }

    a = key(spark.read.parquet(str(tmp_path / "comp_plain")).collect())
    b = key(spark.read.parquet(str(tmp_path / "comp_uri")).collect())
    assert a == b and len(a) > 0
