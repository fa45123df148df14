"""The slab-kernel plans vs naive DataFrame BM25: identical top-k
membership, ranks and scores (to float-sum tolerance), for the
DataFrame-input plan, the in-process plan and the sharded plan."""

import os

import pandas as pd
import pytest

from themis_search_engine_spark.corpus import load_documents
from themis_search_engine_spark.indexing import build_index
from themis_search_engine_spark.indexing.compress import build_postings_compressed
from themis_search_engine_spark.queryeng import bm25_topk, qterms_df
from themis_search_engine_spark.queryeng.wand import wand_topk

QUERIES = {
    1: "spark shuffle join",
    2: "window order group",
    3: "dup",
    4: "fast key value vector batch",
    5: "hash",
}


@pytest.fixture(scope="module")
def bundle(spark):
    docs = load_documents(spark, "/root/testdata/sf0.001")
    idx = build_index(docs, stem=True).cache()
    comp = build_postings_compressed(idx.counts, idx.doc_stats, idx.avgdl).cache()
    return idx, comp


def _by_qid(rows):
    out = {}
    for r in rows:
        out.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {q: sorted(v) for q, v in out.items()}


def test_sharded_equals_bridge_plan(spark, tmp_path):
    """Doc-sharded file-parallel serving (queryeng/sharded.py) must be
    rank- and score-identical to the applyInPandas batch plan over the
    SAME persisted index — single-segment AND delta-merged (fragmented)
    layouts, across shard widths."""
    from themis_search_engine_spark.indexing import (
        build_and_save_serving,
        merge_serving_delta,
    )
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.sharded import wand_topk_sharded

    docs = load_documents(spark, "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    p = str(tmp_path / "idx")
    build_and_save_serving(docs.where("doc_id % 2 = 0"), p, stem=True,
                           chunk_bits=5, partitions=8)
    idx = merge_serving_delta(spark, p, docs.where("doc_id % 2 = 1"),
                              stem=True, partitions=8)

    qt = qterms_df(spark, QUERIES, stem=True)
    want = _by_qid(
        wand_topk(qt, idx.compressed, idx.dictionary, idx.avgdl, k=10,
                  chunk_bits=idx.chunk_bits).collect()
    )
    from themis_search_engine_spark.queryeng.sharded import collect_idf_map

    qmap = query_term_map(QUERIES, stem=True)
    idf_map = collect_idf_map(idx.dictionary)
    # (n_shards, merge path, idf source) combinations: driver merge vs
    # window merge, per-batch dictionary scan vs hot idf_map
    cases = [
        dict(n_shards=1, driver_merge_limit=2_000_000, idf_map=None),
        dict(n_shards=3, driver_merge_limit=0, idf_map=idf_map),
        dict(n_shards=3, driver_merge_limit=2_000_000, idf_map=idf_map),
        # query-group second dimension (chunk-quantization escape):
        # every (range x group) task holds a query's FULL accumulator,
        # so results stay exact at any group count incl. groups > |Q|
        dict(n_shards=2, n_query_groups=2, idf_map=idf_map),
        dict(n_shards=1, n_query_groups=5, idf_map=idf_map),
        dict(n_shards=3, n_query_groups=99, driver_merge_limit=0,
             idf_map=idf_map),
    ]
    for kw in cases:
        got = _by_qid(
            wand_topk_sharded(
                spark, f"{p}/postings_comp", qmap, idx.dictionary,
                idx.avgdl, idx.max_doc_id, k=10, chunk_bits=idx.chunk_bits,
                **kw,
            ).collect()
        )
        assert set(got) == set(want), kw
        for qid in want:
            assert [x[1] for x in want[qid]] == [x[1] for x in got[qid]]
            for (_, _, s1), (_, _, s2) in zip(want[qid], got[qid]):
                assert s1 == pytest.approx(s2, rel=1e-9)


def test_local_equals_dataframe_plan(spark, tmp_path):
    """The in-process interactive path (wand_topk_local, zero Spark jobs)
    must match the DataFrame-input plan row for row, bit for bit, on the
    same persisted index — including on a delta-merged (multi-segment)
    layout, whose bound scales it accepts and ignores."""
    from themis_search_engine_spark.indexing import (
        build_and_save_serving,
        merge_serving_delta,
        serving_bound_scales,
    )
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.sharded import collect_idf_map
    from themis_search_engine_spark.queryeng.wand import wand_topk_local

    docs = load_documents(spark, "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    p = str(tmp_path / "idx")
    build_and_save_serving(docs.where("doc_id % 2 = 0"), p, stem=True,
                           chunk_bits=5, partitions=8)
    idx = merge_serving_delta(spark, p, docs.where("doc_id % 2 = 1"),
                              stem=True, partitions=8)
    scales = serving_bound_scales(spark, p)

    want = _by_qid(
        wand_topk(
            qterms_df(spark, QUERIES, stem=True), idx.compressed,
            idx.dictionary, idx.avgdl, k=10, chunk_bits=idx.chunk_bits,
        ).collect()
    )
    local = wand_topk_local(
        f"{p}/postings_comp", query_term_map(QUERIES, stem=True),
        collect_idf_map(idx.dictionary), idx.avgdl, k=10,
        chunk_bits=idx.chunk_bits, bound_scales=scales,
    )
    got = {}
    for r in local.itertuples():
        got.setdefault(r.qid, []).append((r.rank, r.doc_id, r.score))
    got = {q: sorted(v) for q, v in got.items()}
    assert want and got == want

    # all-unknown-term batch: typed empty frame
    none = wand_topk_local(
        f"{p}/postings_comp", {9: ["zzzznope"]},
        collect_idf_map(idx.dictionary), idx.avgdl, k=5,
        chunk_bits=idx.chunk_bits,
    )
    assert len(none) == 0 and list(none.columns) == [
        "qid", "doc_id", "score", "rank",
    ]


def test_sharded_covers_sparse_doc_ids(spark, tmp_path):
    """Regression: shard coverage must come from the persisted id CEILING
    (max_doc_id), not the doc count — an index over a filtered corpus
    (doc_ids sparse in [0, max_id]) must still return docs from the high
    chunks. With chunk_bits=2 and ids {0, 4, 8, ..., 60}, a count-derived
    chunk space would cover only chunks 0-3 and silently drop 3/4 of the
    corpus."""
    from themis_search_engine_spark.indexing import build_and_save_serving
    from themis_search_engine_spark.queryeng.sharded import wand_topk_sharded

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}") for i in range(0, 64, 4)],  # 16 docs
        "doc_id long, text string",
    )
    p = str(tmp_path / "idx")
    idx = build_and_save_serving(docs, p, stem=False, chunk_bits=2,
                                 partitions=2)
    assert idx.n_docs == 16 and idx.max_doc_id == 60

    got = wand_topk_sharded(
        spark, f"{p}/postings_comp", {1: ["alpha"]}, idx.dictionary,
        idx.avgdl, idx.max_doc_id, k=100, chunk_bits=2, n_shards=4,
    ).collect()
    assert {r["doc_id"] for r in got} == set(range(0, 64, 4))


def test_sharded_edge_cases(spark, tmp_path):
    """All-stopword batch → empty typed result; unknown terms drop like
    the join-based plans; k larger than the candidate set returns all
    candidates; non-local paths refuse loudly."""
    from themis_search_engine_spark.indexing import build_and_save_serving
    from themis_search_engine_spark.queryeng.sharded import wand_topk_sharded

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}") for i in range(6)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "idx")
    idx = build_and_save_serving(docs, p, stem=False, chunk_bits=2,
                                 partitions=2)
    comp = f"{p}/postings_comp"

    empty = wand_topk_sharded(
        spark, comp, {1: []}, idx.dictionary, idx.avgdl, idx.max_doc_id, k=5,
        chunk_bits=2,
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "qid", "doc_id", "score", "rank",
    ]

    got = wand_topk_sharded(
        spark, comp, {7: ["alpha", "zzz_not_a_term"]}, idx.dictionary,
        idx.avgdl, idx.max_doc_id, k=100, chunk_bits=2,
    ).collect()
    assert {r["doc_id"] for r in got} == set(range(6))  # k > candidates
    assert all(r["qid"] == 7 for r in got)

    # a PLAIN path is driver-local: refused on any non-local master; a
    # URI resolves per-task via pyarrow.fs and is allowed from anywhere
    from themis_search_engine_spark.queryeng.sharded import _check_comp_path

    with pytest.raises(NotImplementedError, match="driver-local"):
        _check_comp_path("/mnt/idx/postings_comp", "spark://host:7077")
    _check_comp_path("s3://bucket/postings_comp", "spark://host:7077")
    _check_comp_path("/tmp/idx/postings_comp", "local[32]")


def test_sharded_uri_route_equals_plain_path(spark, tmp_path):
    """The pyarrow.fs URI route (file:// here; s3://, hdfs:// by the same
    FileSystem.from_uri code path) must be rank- and score-identical to
    the plain-path route over the SAME persisted index — the in-sandbox
    evidence for the object-storage serving lane."""
    from themis_search_engine_spark.indexing import build_and_save_serving
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.sharded import wand_topk_sharded

    docs = load_documents(spark, "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    p = str(tmp_path / "idx")
    idx = build_and_save_serving(docs, p, stem=True, chunk_bits=5,
                                 partitions=8)
    qmap = query_term_map(QUERIES, stem=True)
    kw = dict(k=10, chunk_bits=idx.chunk_bits, n_shards=3)
    want = _by_qid(
        wand_topk_sharded(
            spark, f"{p}/postings_comp", qmap, idx.dictionary,
            idx.avgdl, idx.max_doc_id, **kw,
        ).collect()
    )
    got = _by_qid(
        wand_topk_sharded(
            spark, f"file://{p}/postings_comp", qmap, idx.dictionary,
            idx.avgdl, idx.max_doc_id, **kw,
        ).collect()
    )
    assert want and got == want


def test_wand_equals_naive(spark, bundle, tmp_path):
    """Both kernel entry points (wand_topk on the DataFrame, wand_topk_local
    on the same chunks written to disk) are rank- and score-identical to
    naive BM25 at 2^16-doc chunks and at chunk_bits=6 (dozens of chunks
    per term), for k below and above the candidate count — incl. the
    negative-idf query (1, 4: head terms) and the single-rare-term
    query (3)."""
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.sharded import collect_idf_map
    from themis_search_engine_spark.queryeng.wand import wand_topk_local

    idx, comp16 = bundle
    qt = qterms_df(spark, QUERIES, stem=True)
    qmap = query_term_map(QUERIES, stem=True)
    hot = collect_idf_map(idx.dictionary)
    comp6 = build_postings_compressed(
        idx.counts, idx.doc_stats, idx.avgdl, chunk_bits=6
    ).cache()
    for cb, comp in ((16, comp16), (6, comp6)):
        path = str(tmp_path / f"comp{cb}")
        comp.write.parquet(path)
        for k in (10, 7, 5):
            naive = _by_qid(
                bm25_topk(
                    qt, idx.postings_flat, idx.dictionary, idx.doc_stats,
                    idx.avgdl, k=k,
                ).collect()
            )
            wand = _by_qid(
                wand_topk(qt, comp, idx.dictionary, idx.avgdl, k=k,
                          chunk_bits=cb).collect()
            )
            local = _by_qid(
                wand_topk_local(path, qmap, hot, idx.avgdl, k=k,
                                chunk_bits=cb).to_dict("records")
            )
            assert set(naive) == set(wand), (cb, k)
            assert local == wand, (cb, k)
            for qid in naive:
                n, w = naive[qid], wand[qid]
                assert [x[1] for x in n] == [x[1] for x in w], (cb, k, qid)
                for (_, _, s1), (_, _, s2) in zip(n, w):
                    assert s1 == pytest.approx(s2, rel=1e-9)


def test_wand_pruned_negative_idf_many_chunks(spark, tmp_path):
    """Regression: with all-negative idf (head terms, df > N/2) a doc
    matching FEWER terms outscores the sum of per-term bounds; a naive
    Σ-bounds ub once under-estimated and a pruned plan skipped the chunk
    holding the true best doc. Both kernel entry points (the DataFrame
    plan and the in-process plan fed a hot idf map) must keep the naive
    top-k at chunk_bits=6 on the negative-idf query."""
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.sharded import collect_idf_map
    from themis_search_engine_spark.queryeng.wand import wand_topk_local

    docs = load_documents(spark, "/root/testdata/sf0.001")
    idx = build_index(docs, stem=True).cache()
    comp = build_postings_compressed(
        idx.counts, idx.doc_stats, idx.avgdl, chunk_bits=6
    ).cache()
    path = str(tmp_path / "comp")
    comp.write.parquet(path)
    qt = qterms_df(spark, {1: "spark shuffle join"}, stem=True)
    qmap = query_term_map({1: "spark shuffle join"}, stem=True)
    hot = collect_idf_map(idx.dictionary)
    priced = [hot[t] for t in qmap[1] if t in hot]
    assert priced and max(priced) < 0  # every priced term is a head term
    naive = sorted(
        (r["rank"], r["doc_id"])
        for r in bm25_topk(
            qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
            k=7,
        ).collect()
    )
    local = sorted(
        (int(r.rank), int(r.doc_id))
        for r in wand_topk_local(
            path, qmap, hot, idx.avgdl, k=7, chunk_bits=6,
        ).itertuples()
    )
    frame = sorted(
        (r["rank"], r["doc_id"])
        for r in wand_topk(
            qt, comp, idx.dictionary, idx.avgdl, k=7, chunk_bits=6
        ).collect()
    )
    assert naive == local == frame


def test_block_max_bounds_sound_at_float_grain(spark, tmp_path):
    """The stored chunk bound must dominate every score THE KERNEL
    (sharded.score_rows) produces at the raw float grain: score_i =
    idf·core_i computed with the encoder's association (core first, idf
    after). The other association (idf·tf·… left-to-right) drifts ±1
    ulp, which once let an early-exit walk skip a doc TYING the k-th
    place (1.2M-doc shootout catch). Pinned bit-exactly here, per
    (term, chunk)."""
    import numpy as np
    import pyarrow as pa

    from themis_search_engine_spark.indexing import build_and_save_serving
    from themis_search_engine_spark.queryeng.sharded import score_rows

    docs = load_documents(spark, "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    p = str(tmp_path / "idx")
    idx = build_and_save_serving(docs, p, stem=True, chunk_bits=5,
                                 partitions=4)
    idf = {r["term"]: float(r["idf"]) for r in idx.dictionary.collect()}
    cols = ["term", "chunk", "df_chunk", "doc_bytes", "cnt_bytes",
            "mc_bytes", "dl_bytes"]
    rows = idx.compressed.collect()
    checked = 0
    for r in rows[:400]:
        w = idf[r["term"]]
        tbl = pa.table({c: [r[c]] for c in cols})
        blob = score_rows(tbl, r["chunk"], {r["term"]: frozenset({1})},
                          {r["term"]: w}, 1 << 5, idx.avgdl, 5)
        sc = np.frombuffer(blob[2], dtype=np.float64)
        assert len(sc) == r["df_chunk"]
        bound = max(w * r["core_max"], w * r["core_min"])
        assert sc.max() <= bound, (r["term"], r["chunk"], sc.max(), bound)
        # single-term scores: the max must EQUAL the bound bit-for-bit
        # (same floats through the same ops) — inequality would mean the
        # kernel and encoder associations diverged again
        if w > 0:
            assert sc.max() == bound
        checked += 1
    assert checked > 100


def test_sharded_rejects_zero_df_chunk(tmp_path):
    """An empty postings_comp row (df_chunk = 0, empty streams) would
    make the sharded kernel's segmented cumsum read cs[-1] as the next
    row's base and shift its doc ids silently; the kernel must refuse
    the file. The same file with a non-empty first row scores normally."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from themis_search_engine_spark.indexing.compress import vb_encode
    from themis_search_engine_spark.queryeng.sharded import _score_shard

    def vb(xs):
        return vb_encode(np.asarray(xs, dtype=np.int64))

    def write(d, a_docs):
        os.makedirs(d)
        ones = [1] * len(a_docs)
        pq.write_table(pa.table({
            "term": ["a", "b"],
            "chunk": pa.array([0, 0], pa.int64()),
            "df_chunk": pa.array([len(a_docs), 2], pa.int64()),
            "doc_bytes": [vb(a_docs), vb([0, 3])],
            "cnt_bytes": [vb(ones), vb([2, 1])],
            "mc_bytes": [vb(ones), vb([2, 1])],
            "dl_bytes": [vb([3] * len(a_docs)), vb([3, 3])],
        }), f"{d}/part-0.parquet")
        return d

    args = (("a", "b"), {"a": frozenset({1}), "b": frozenset({1})},
            {"a": 1.0, "b": 1.0}, 5, 3.0, 4)
    good = write(str(tmp_path / "good"), [1, 2])
    assert _score_shard(good, (0, 1), *args) is not None
    bad = write(str(tmp_path / "bad"), [])
    with pytest.raises(ValueError, match="df_chunk=0"):
        _score_shard(bad, (0, 1), *args)


@pytest.mark.parametrize("chunk_bits", [4, None])
def test_multi_window_rank_identity(spark, tmp_path, chunk_bits):
    """Doc ids i * 40_000 spread 16 docs over ~10 kernel windows of 2^16
    doc cells, at chunk_bits=4 and at the auto layout: every plan
    (wand_topk, wand_topk_local, search_serving local and sharded) must
    rank exactly like bm25_topk. ``common`` sits in 12 of 16 docs, so
    its idf is negative; query 2 has only that term."""
    from themis_search_engine_spark.indexing import build_and_save_serving
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.planner import search_serving
    from themis_search_engine_spark.queryeng.sharded import collect_idf_map
    from themis_search_engine_spark.queryeng.wand import wand_topk_local

    def text(i):
        words = ["alpha"] * (i % 5 + 1) if i % 3 == 0 else []
        words += ["common"] if i % 4 else []
        words += ["beta"] if i % 5 == 0 else []
        return " ".join(words + ["filler"] * (i + 1))

    docs = spark.createDataFrame(
        [(i * 40_000, text(i)) for i in range(16)], "doc_id long, text string"
    )
    p = str(tmp_path / "idx")
    idx = build_and_save_serving(docs, p, stem=False, chunk_bits=chunk_bits,
                                 partitions=2)
    assert idx.max_doc_id >> 16 >= 9  # the ids span many kernel windows
    queries = {1: "alpha", 2: "common", 3: "alpha common beta",
               4: "beta zzz", 5: "filler alpha"}
    qt = qterms_df(spark, queries, stem=False)
    qmap = query_term_map(queries, stem=False)
    idf = collect_idf_map(idx.dictionary)
    assert idf["common"] < 0
    k = 5

    def ranked(rows):
        return {q: [d for _, d, _ in v] for q, v in _by_qid(rows).items()}

    want = ranked(bm25_topk(qt, idx.postings_flat, idx.dictionary,
                            idx.doc_stats, idx.avgdl, k=k).collect())
    assert set(want) == {1, 2, 3, 4, 5}
    plans = {
        "wand_topk": wand_topk(qt, idx.compressed, idx.dictionary,
                               idx.avgdl, k=k,
                               chunk_bits=idx.chunk_bits).collect(),
        "local": wand_topk_local(f"{p}/postings_comp", qmap, idf, idx.avgdl,
                                 k, chunk_bits=idx.chunk_bits)
        .to_dict("records"),
        **{
            f"serving_{plan}": search_serving(spark, p, qmap, k,
                                              plan=plan).collect()
            for plan in ("local", "sharded")
        },
    }
    for name, rows in plans.items():
        assert ranked(rows) == want, name


def test_chunk_bits_is_required():
    """chunk_bits maps chunk offsets back to doc ids, so a defaulted value
    silently returned wrong ids on any other layout: every kernel entry
    point and both decoders refuse a call that omits it."""
    from themis_search_engine_spark.indexing.compress import (
        decode_chunk_row,
        decode_postings,
    )
    from themis_search_engine_spark.queryeng.cache import cached_query_topk
    from themis_search_engine_spark.queryeng.sharded import wand_topk_sharded
    from themis_search_engine_spark.queryeng.wand import wand_topk_local

    calls = [
        lambda: wand_topk(None, None, None, 1.0, 10),
        lambda: wand_topk_local("p", {}, {}, 1.0, 10),
        lambda: wand_topk_sharded(None, "p", {}, None, 1.0, 0, 10),
        lambda: cached_query_topk("p", {}, {}, 1.0, 10, cache_dir="c"),
        lambda: decode_chunk_row({}),
        lambda: decode_postings(None),
    ]
    for call in calls:
        with pytest.raises(TypeError, match="chunk_bits"):
            call()
