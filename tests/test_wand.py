"""Block-max WAND vs naive DataFrame BM25: identical top-k membership,
ranks and scores (to float-sum tolerance), for the one-pass plan and the
early-exit plans."""

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


def test_local_equals_single_task_plan(spark, tmp_path):
    """The in-process interactive path (wand_topk_local, zero Spark jobs)
    must match the distributed single-task WAND plan row for row on the
    same persisted index — including on a delta-merged (multi-segment)
    layout with bound scales."""
    from themis_search_engine_spark.indexing import (
        build_and_save_serving,
        merge_serving_delta,
        serving_bound_scales,
    )
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.sharded import collect_idf_map
    from themis_search_engine_spark.queryeng.wand import (
        wand_topk_local,
        wand_topk_single,
    )

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
        wand_topk_single(
            qterms_df(spark, QUERIES, stem=True), idx.compressed,
            idx.dictionary, idx.avgdl, k=10, chunk_bits=idx.chunk_bits,
            bound_scales=scales,
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
    assert set(got) == set(want)
    for qid in want:
        assert [x[1] for x in want[qid]] == [x[1] for x in got[qid]]
        for (_, _, s1), (_, _, s2) in zip(want[qid], got[qid]):
            assert s1 == pytest.approx(s2, rel=1e-9)

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


def test_wand_equals_naive(spark, bundle):
    idx, comp = bundle
    qt = qterms_df(spark, QUERIES, stem=True)
    naive = _by_qid(
        bm25_topk(
            qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl, k=10
        ).collect()
    )
    wand = _by_qid(
        wand_topk(qt, comp, idx.dictionary, idx.avgdl, k=10).collect()
    )
    assert set(naive) == set(wand)
    for qid in naive:
        n, w = naive[qid], wand[qid]
        assert [x[1] for x in n] == [x[1] for x in w], (qid, n, w)
        for (_, _, s1), (_, _, s2) in zip(n, w):
            assert s1 == pytest.approx(s2, rel=1e-9)


def test_wand_pruning_skips_chunks(spark):
    """With small chunks, the early-exit plan's chunk skipping must keep
    the naive top-k on a single rare-term query."""
    from themis_search_engine_spark.queryeng.wand import wand_topk_single

    docs = load_documents(spark, "/root/testdata/sf0.001")
    idx = build_index(docs, stem=True).cache()
    comp = build_postings_compressed(
        idx.counts, idx.doc_stats, idx.avgdl, chunk_bits=6
    ).cache()
    qt = qterms_df(spark, {3: "dup"}, stem=True)
    res = wand_topk_single(
        qt, comp, idx.dictionary, idx.avgdl, k=5, chunk_bits=6
    ).collect()
    naive = bm25_topk(
        qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl, k=5
    ).collect()
    assert sorted(r["doc_id"] for r in res) == sorted(r["doc_id"] for r in naive)


def test_wand_single_equals_naive(spark, bundle):
    """Single-task sequential WAND (one job per batch, early-exit θ loop)
    is rank- and score-identical to naive BM25 — incl. the negative-idf
    query (4: head terms) and the single-rare-term query (3)."""
    from themis_search_engine_spark.queryeng.wand import wand_topk_single

    idx, comp = bundle
    qt = qterms_df(spark, QUERIES, stem=True)
    naive = _by_qid(
        bm25_topk(
            qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
            k=10,
        ).collect()
    )
    single = _by_qid(
        wand_topk_single(qt, comp, idx.dictionary, idx.avgdl, k=10).collect()
    )
    assert set(naive) == set(single)
    for qid in naive:
        n, s = naive[qid], single[qid]
        assert [x[1] for x in n] == [x[1] for x in s], (qid, n, s)
        for (_, _, s1), (_, _, s2) in zip(n, s):
            assert s1 == pytest.approx(s2, rel=1e-9)


def test_wand_single_hot_serving_form(spark, bundle):
    """The dict-form hot-serving path (driver-side {qid: terms} + RAM
    idf_map, no dictionary join in the per-query job) is rank- AND
    score-identical to the DataFrame form; unknown terms drop exactly like
    a dictionary-join miss; dict form without idf_map fails loudly."""
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.sharded import collect_idf_map
    from themis_search_engine_spark.queryeng.wand import wand_topk_single

    idx, comp = bundle
    qt = qterms_df(spark, QUERIES, stem=True)
    df_form = _by_qid(
        wand_topk_single(qt, comp, idx.dictionary, idx.avgdl, k=10).collect()
    )
    qmap = query_term_map(QUERIES, stem=True)
    qmap[max(qmap) + 1] = ["zzz_not_a_term"]  # vocabulary miss → no rows
    hot = collect_idf_map(idx.dictionary)
    dict_form = _by_qid(
        wand_topk_single(qmap, comp, None, idx.avgdl, k=10, idf_map=hot)
        .collect()
    )
    assert set(df_form) == set(dict_form)
    for qid in df_form:
        assert [x[1] for x in df_form[qid]] == [x[1] for x in dict_form[qid]]
        for (_, _, s1), (_, _, s2) in zip(df_form[qid], dict_form[qid]):
            assert s1 == pytest.approx(s2, rel=1e-12)

    # SINGLE-query dict form takes the join-free literal plan (qid lit +
    # idf map-literal, no BroadcastExchange) — must stay rank/score-
    # identical per query and contain no join node
    for qid, terms in query_term_map(QUERIES, stem=True).items():
        one = wand_topk_single(
            {qid: terms}, comp, None, idx.avgdl, k=10, idf_map=hot
        )
        got = _by_qid(one.collect()).get(qid, [])
        assert [x[1] for x in df_form.get(qid, [])] == [x[1] for x in got]
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan

    with pytest.raises(ValueError, match="idf_map"):
        wand_topk_single(qmap, comp, None, idx.avgdl, k=10)


def test_wand_single_many_chunks(spark):
    """chunk_bits=6 → dozens of chunks per term: the θ early-exit must not
    drop any true top-k member across chunk boundaries."""
    from themis_search_engine_spark.queryeng.wand import wand_topk_single

    docs = load_documents(spark, "/root/testdata/sf0.001")
    idx = build_index(docs, stem=True).cache()
    comp = build_postings_compressed(
        idx.counts, idx.doc_stats, idx.avgdl, chunk_bits=6
    ).cache()
    qt = qterms_df(spark, QUERIES, stem=True)
    naive = _by_qid(
        bm25_topk(
            qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
            k=7,
        ).collect()
    )
    single = _by_qid(
        wand_topk_single(
            qt, comp, idx.dictionary, idx.avgdl, k=7, chunk_bits=6
        ).collect()
    )
    assert set(naive) == set(single)
    for qid in naive:
        assert [x[1] for x in naive[qid]] == [x[1] for x in single[qid]]


def test_wand_pruned_negative_idf_many_chunks(spark):
    """Regression: with all-negative idf (head terms, df > N/2) a doc
    matching FEWER terms outscores the sum of per-term bounds; the naive
    Σ-bounds ub under-estimated and the pruned plan skipped the chunk
    holding the true best doc. Both forms of the early-exit plan (the
    hot-serving literal plan and the DataFrame join plan) must survive
    chunk_bits=6 on the negative-idf query."""
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.sharded import collect_idf_map
    from themis_search_engine_spark.queryeng.wand import wand_topk_single

    docs = load_documents(spark, "/root/testdata/sf0.001")
    idx = build_index(docs, stem=True).cache()
    comp = build_postings_compressed(
        idx.counts, idx.doc_stats, idx.avgdl, chunk_bits=6
    ).cache()
    qt = qterms_df(spark, {1: "spark shuffle join"}, stem=True)
    naive = sorted(
        (r["rank"], r["doc_id"])
        for r in bm25_topk(
            qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
            k=7,
        ).collect()
    )
    pruned = sorted(
        (r["rank"], r["doc_id"])
        for r in wand_topk_single(
            query_term_map({1: "spark shuffle join"}, stem=True), comp,
            None, idx.avgdl, k=7, chunk_bits=6,
            idf_map=collect_idf_map(idx.dictionary),
        ).collect()
    )
    single = sorted(
        (r["rank"], r["doc_id"])
        for r in wand_topk_single(
            qt, comp, idx.dictionary, idx.avgdl, k=7, chunk_bits=6
        ).collect()
    )
    assert naive == pruned == single


def test_block_max_bounds_sound_at_float_grain(spark, tmp_path):
    """The stored chunk bound must dominate every score THE SCORER
    produces at the raw float grain: score_i = idf·core_i computed with
    the encoder's association (core first, idf after). The other
    association (idf·tf·… left-to-right) drifts ±1 ulp, which once let
    the greedy early-exit skip a doc TYING the k-th place (1.2M-doc
    shootout catch). Pinned bit-exactly here, per (term, chunk)."""
    import numpy as np

    from themis_search_engine_spark.indexing import build_and_save_serving
    from themis_search_engine_spark.queryeng.wand import _score_chunk_rows

    docs = load_documents(spark, "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    p = str(tmp_path / "idx")
    idx = build_and_save_serving(docs, p, stem=True, chunk_bits=5,
                                 partitions=4)
    idf = {r["term"]: float(r["idf"]) for r in idx.dictionary.collect()}
    rows = idx.compressed.collect()
    checked = 0
    for r in rows[:400]:
        w = idf[r["term"]]
        pdf = pd.DataFrame([{
            "term": r["term"], "idf": w, "chunk": r["chunk"],
            "doc_bytes": r["doc_bytes"], "cnt_bytes": r["cnt_bytes"],
            "mc_bytes": r["mc_bytes"], "dl_bytes": r["dl_bytes"],
        }])
        offs, sc = _score_chunk_rows(pdf, 1 << 5, idx.avgdl)
        bound = max(w * r["core_max"], w * r["core_min"])
        assert sc.max() <= bound, (r["term"], r["chunk"], sc.max(), bound)
        # single-term scores: the max must EQUAL the bound bit-for-bit
        # (same floats through the same ops) — inequality would mean the
        # scorer and encoder associations diverged again
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
