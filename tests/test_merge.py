"""Delta merge ≡ full rebuild: merging a delta corpus into a base serving
index must be indistinguishable (stats, dictionary, scores, ranks) from
rebuilding over the union — the reference has no incremental path
(Indexer.java rebuilds), so the rebuild IS the semantics oracle."""

import pytest

from themis_search_engine_spark.corpus import load_documents
from themis_search_engine_spark.indexing.build import (
    build_and_save_serving,
    load_serving_index,
)
from themis_search_engine_spark.indexing.merge import (
    compact_serving_index,
    merge_serving_delta,
    serving_bound_scales,
)
from themis_search_engine_spark.oracle_sql import QUERYSET
from themis_search_engine_spark.queryeng import qterms_df
from themis_search_engine_spark.queryeng.wand import wand_topk

SF_DIR = "/root/testdata/sf0.001"
CB = 4  # tiny chunks so even/odd splits create base+delta fragments


def _ranked(df):
    return sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.collect()
    )


def _ranked_pdf(pdf):
    return sorted(
        (int(r.qid), int(r.rank), int(r.doc_id), round(float(r.score), 9))
        for r in pdf.itertuples()
    )


def _dict_rows(idx):
    return sorted(
        (r["term"], r["df"], round(r["idf"], 12))
        for r in idx.dictionary.collect()
    )


def _stats_rows(idx):
    return sorted(
        (r["doc_id"], r["length"], r["maxcnt"]) for r in idx.doc_stats.collect()
    )


@pytest.fixture(scope="module")
def docs(spark):
    return load_documents(spark, SF_DIR).select("doc_id", "text").cache()


@pytest.fixture(scope="module")
def full_idx(spark, docs, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("full") / "idx")
    return build_and_save_serving(docs, p, stem=False, chunk_bits=CB,
                                  partitions=8)


def test_merge_equals_full_rebuild(spark, docs, full_idx, tmp_path):
    base = docs.where("doc_id % 2 = 0")
    delta = docs.where("doc_id % 2 = 1")
    p = str(tmp_path / "idx")
    build_and_save_serving(base, p, stem=False, chunk_bits=CB, partitions=8)
    merged = merge_serving_delta(spark, p, delta, stem=False, partitions=8)

    assert merged.n_docs == full_idx.n_docs
    assert merged.avgdl == full_idx.avgdl  # exact: long total_len arithmetic
    assert merged.chunk_bits == full_idx.chunk_bits == CB
    assert _dict_rows(merged) == _dict_rows(full_idx)
    assert _stats_rows(merged) == _stats_rows(full_idx)

    # the interleaved split must actually exercise fragments: same
    # (term, chunk) present in both the base and the delta segment
    frags = (
        merged.compressed.groupBy("term", "chunk").count()
        .where("count > 1").count()
    )
    assert frags > 0

    qt = qterms_df(spark, QUERYSET, stem=False)
    got = wand_topk(qt, merged.compressed, merged.dictionary,
                    merged.avgdl, k=10, chunk_bits=CB)
    want = wand_topk(qt, full_idx.compressed, full_idx.dictionary,
                     full_idx.avgdl, k=10, chunk_bits=CB)
    assert _ranked(got) == _ranked(want)

    # reload from disk: persisted layout carries everything needed
    re = load_serving_index(spark, p)
    assert re.n_docs == merged.n_docs and re.avgdl == merged.avgdl
    got2 = wand_topk(qt, re.compressed, re.dictionary, re.avgdl,
                     k=10, chunk_bits=re.chunk_bits)
    assert _ranked(got2) == _ranked(want)


def test_two_generation_merge(spark, docs, full_idx, tmp_path):
    p = str(tmp_path / "idx")
    build_and_save_serving(docs.where("doc_id % 3 = 0"), p, stem=False,
                           chunk_bits=CB, partitions=8)
    merge_serving_delta(spark, p, docs.where("doc_id % 3 = 1"),
                        stem=False, partitions=8)
    merged = merge_serving_delta(spark, p, docs.where("doc_id % 3 = 2"),
                                 stem=False, partitions=8)

    assert merged.n_docs == full_idx.n_docs
    assert merged.avgdl == full_idx.avgdl
    assert _dict_rows(merged) == _dict_rows(full_idx)

    import json
    import os
    log = json.load(open(os.path.join(p, "merge_log.json")))
    assert [e["gen"] for e in log] == [1, 2]
    assert log[1]["n_docs_after"] == full_idx.n_docs
    assert all(e["postings_added"] > 0 for e in log)

    qt = qterms_df(spark, QUERYSET, stem=False)
    got = wand_topk(qt, merged.compressed, merged.dictionary, merged.avgdl,
                    k=10, chunk_bits=CB)
    want = wand_topk(qt, full_idx.compressed, full_idx.dictionary,
                     full_idx.avgdl, k=10, chunk_bits=CB)
    assert _ranked(got) == _ranked(want)


def test_compact_restores_single_segment(spark, docs, full_idx, tmp_path):
    """After two delta merges, compaction must (a) collapse every
    (term, chunk) group back to ONE fragment row, (b) reset the pruning
    envelope so bound scales are exactly (1.0, 1.0), and (c) leave stats,
    dictionary and ranks indistinguishable from a fresh full build."""
    p = str(tmp_path / "idx")
    build_and_save_serving(docs.where("doc_id % 3 = 0"), p, stem=False,
                           chunk_bits=CB, partitions=8)
    merge_serving_delta(spark, p, docs.where("doc_id % 3 = 1"),
                        stem=False, partitions=8)
    merge_serving_delta(spark, p, docs.where("doc_id % 3 = 2"),
                        stem=False, partitions=8)
    assert (
        load_serving_index(spark, p).compressed
        .groupBy("term", "chunk").count().where("count > 1").count() > 0
    )

    idx = compact_serving_index(spark, p, partitions=8)

    max_frags = (
        idx.compressed.groupBy("term", "chunk").count()
        .agg({"count": "max"}).collect()[0][0]
    )
    assert max_frags == 1
    assert serving_bound_scales(spark, p) == (1.0, 1.0)
    assert idx.n_docs == full_idx.n_docs
    assert idx.avgdl == full_idx.avgdl
    assert idx.chunk_bits == CB
    assert _dict_rows(idx) == _dict_rows(full_idx)
    assert _stats_rows(idx) == _stats_rows(full_idx)

    qt = qterms_df(spark, QUERYSET, stem=False)
    got = wand_topk(qt, idx.compressed, idx.dictionary, idx.avgdl, k=10,
                    chunk_bits=CB)
    want = wand_topk(qt, full_idx.compressed, full_idx.dictionary,
                     full_idx.avgdl, k=10, chunk_bits=CB)
    assert _ranked(got) == _ranked(want)

    import json
    import os
    log = json.load(open(os.path.join(p, "merge_log.json")))
    assert log[-1]["type"] == "compact"
    assert log[-1]["postings"] > 0 and log[-1]["chunk_rows"] > 0


def test_fresh_build_totals_need_no_doc_stats(spark, docs, full_idx,
                                              tmp_path):
    """The build persists every global_stats column, so _base_totals on a
    fresh index never reads doc_stats: with doc_stats/ deleted it still
    returns the totals a doc_stats aggregate gives."""
    import shutil

    from pyspark.sql import functions as F

    from themis_search_engine_spark.indexing.build import GLOBAL_STATS_SCHEMA
    from themis_search_engine_spark.indexing.merge import _base_totals

    p = str(tmp_path / "idx")
    idx = build_and_save_serving(docs, p, stem=False, chunk_bits=CB,
                                 partitions=8)
    want = idx.doc_stats.agg(F.sum("length").alias("t"),
                             F.max("doc_id").alias("m")).collect()[0]
    cols = [c.split()[0] for c in GLOBAL_STATS_SCHEMA.split(", ")]
    assert spark.read.parquet(f"{p}/global_stats").columns == cols
    shutil.rmtree(f"{p}/doc_stats")
    g = _base_totals(spark, p)
    assert g["total_len"] == int(want["t"])
    assert g["max_doc_id"] == int(want["m"])
    assert g["n_docs"] == full_idx.n_docs and g["avgdl"] == idx.avgdl
    assert g["chunk_bits"] == CB
    assert g["n_terms"] == idx.dictionary.count()
    assert (g["min_enc_avgdl"], g["max_enc_avgdl"]) == (idx.avgdl,) * 2


def test_n_terms_survives_merge_and_compact(spark, docs, tmp_path):
    """Merge and compaction rewrite global_stats through the build's
    writer, so the dictionary cardinality stays current instead of
    dropping to unknown (-1)."""
    p = str(tmp_path / "idx")
    first = build_and_save_serving(docs.where("doc_id < 200"), p,
                                   stem=False, chunk_bits=CB, partitions=8)
    merged = merge_serving_delta(spark, p, docs.where("doc_id >= 200"),
                                 stem=False, partitions=8)
    assert merged.n_terms == merged.dictionary.count() >= first.n_terms > 0
    compacted = compact_serving_index(spark, p, partitions=8)
    assert compacted.n_terms == compacted.dictionary.count()
    assert compacted.n_terms == merged.n_terms


def test_describe_index_tracks_lifecycle(spark, docs, tmp_path):
    """describe_index reports fragmentation and envelope looseness rising
    through merges and collapsing after compaction."""
    from themis_search_engine_spark.indexing.merge import describe_index

    p = str(tmp_path / "idx")
    build_and_save_serving(docs.where("doc_id % 2 = 0"), p, stem=False,
                           chunk_bits=CB, partitions=8)
    d0 = describe_index(spark, p)
    assert d0["segments"] == 1
    assert d0["max_fragments_per_group"] == 1
    assert d0["bound_scales"] == (1.0, 1.0)

    merge_serving_delta(spark, p, docs.where("doc_id % 2 = 1"),
                        stem=False, partitions=8)
    d1 = describe_index(spark, p)
    assert d1["segments"] == 2
    assert d1["max_fragments_per_group"] > 1
    assert d1["fragmentation"] > 1.0
    assert d1["envelope_looseness"] >= 1.0
    assert d1["n_docs"] > d0["n_docs"]
    assert d1["postings"] > d0["postings"]

    compact_serving_index(spark, p, partitions=8)
    d2 = describe_index(spark, p)
    assert d2["segments"] == 1
    assert d2["max_fragments_per_group"] == 1
    assert d2["fragmentation"] == 1.0
    assert d2["bound_scales"] == (1.0, 1.0)
    assert d2["postings"] == d1["postings"]
    # absolute bytes/posting is corpus-scale-dependent (4.0 at 83M
    # postings; parquet+varbyte overhead dominates this tiny fixture) —
    # only sanity-check it's present and positive
    assert d2["bytes_per_posting"] > 0

    # the maintenance policy reads these snapshots: fresh and compacted
    # indexes need nothing; the fragmented one trips the (tightened)
    # fragmentation trigger; tombstone pressure trips independently.
    from themis_search_engine_spark.indexing.merge import plan_compaction

    assert plan_compaction(d0)["compact"] is False
    p1 = plan_compaction(d1, max_fragmentation=1.0, max_segments=1)
    assert p1["compact"] is True
    assert len(p1["reasons"]) == 2
    assert plan_compaction(d2)["compact"] is False
    pt = plan_compaction(
        d2, n_tombstones=d2["n_docs"] // 2, max_tombstone_frac=0.2
    )
    assert pt["compact"] is True and "tombstone_frac" in pt["reasons"][0]
    assert pt["metrics"]["tombstone_frac"] > 0.2


def test_merge_rejects_duplicate_doc_ids(spark, docs, tmp_path):
    p = str(tmp_path / "idx")
    build_and_save_serving(docs.where("doc_id % 2 = 0"), p, stem=False,
                           chunk_bits=CB, partitions=8)
    with pytest.raises(ValueError, match="already exists"):
        merge_serving_delta(spark, p, docs.where("doc_id % 4 = 0"),
                            stem=False, partitions=8)


def test_avgdl_shift_pruning_stays_sound(spark, tmp_path):
    """Delta docs 20× longer than base: merged avgdl far above the base
    segment's encode-time avgdl, so unscaled base core_max UNDER-states
    true chunk bounds (bm25_core rises with avgdl) — the stale metadata
    that once let a pruned walk skip true top-k chunks. The kernel reads
    no bound: the DataFrame plan and the in-process plan both rank like
    naive BM25 on the merged layout."""
    from themis_search_engine_spark.queryeng import bm25_topk
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.sharded import collect_idf_map
    from themis_search_engine_spark.queryeng.wand import wand_topk_local

    base_rows = [
        (i, f"alpha beta gamma doc{i}") for i in range(0, 24, 2)
    ]
    delta_rows = [
        (i, "alpha " + " ".join(f"filler{j} beta" for j in range(40)))
        for i in range(1, 25, 2)
    ]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
    p = str(tmp_path / "idx")
    build_and_save_serving(base, p, stem=False, chunk_bits=2, partitions=4)
    merged = merge_serving_delta(spark, p, delta, stem=False, partitions=4)

    hi, lo = serving_bound_scales(spark, p)
    assert hi > 1.0  # the scenario actually stresses the stale bounds
    assert lo == 1.0

    queries = {1: "alpha beta", 2: "gamma"}
    qt = qterms_df(spark, queries, stem=False)
    naive = _ranked(bm25_topk(qt, merged.postings_flat, merged.dictionary,
                              merged.doc_stats, merged.avgdl, k=3))
    exact = _ranked(wand_topk(qt, merged.compressed, merged.dictionary,
                              merged.avgdl, k=3, chunk_bits=2))
    assert [r[:3] for r in exact] == [r[:3] for r in naive]
    local = wand_topk_local(
        f"{p}/postings_comp", query_term_map(queries, stem=False),
        collect_idf_map(merged.dictionary), merged.avgdl, k=3,
        chunk_bits=2, bound_scales=(hi, lo),
    )
    assert _ranked_pdf(local) == exact


def test_early_exit_needs_bound_scales(spark, tmp_path):
    """Short base docs encoded at avgdl 2 carry chunk bounds far below
    their scores at the merged avgdl, while delta docs (encoded at the
    merged avgdl) score between the two — the layout on which an
    unscaled early-exit walk once visited the delta chunk first, filled
    the top-k and stopped before the base chunk holding the true top-k.
    The kernel skips no chunk, so every plan returns the base docs."""
    from themis_search_engine_spark.queryeng.pipeline import query_term_map
    from themis_search_engine_spark.queryeng.planner import search_serving
    from themis_search_engine_spark.queryeng.sharded import collect_idf_map
    from themis_search_engine_spark.queryeng.wand import wand_topk_local

    base_rows = [(i, f"gamma b{i}") for i in range(3)] + [
        (i, f"beta b{i}") for i in range(3, 12)
    ]
    filler = " ".join(f"w{j}" for j in range(100))
    delta_rows = [
        (i, "gamma " + " ".join(f"d{i}x{j}" for j in range(5)))
        for i in range(12, 15)
    ] + [(i, filler) for i in range(15, 24)]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
    p = str(tmp_path / "idx")
    build_and_save_serving(base, p, stem=False, chunk_bits=2, partitions=2)
    merged = merge_serving_delta(spark, p, delta, stem=False, partitions=2)
    scales = serving_bound_scales(spark, p)
    assert scales[0] > 10.0

    qt = qterms_df(spark, {1: "gamma"}, stem=False)
    exact = _ranked(wand_topk(qt, merged.compressed, merged.dictionary,
                              merged.avgdl, k=3, chunk_bits=2))
    assert [d for _, _, d, _ in exact] == [0, 1, 2]
    qmap = query_term_map({1: "gamma"}, stem=False)
    idf = collect_idf_map(merged.dictionary)
    for bs in (scales, (1.0, 1.0)):
        local = wand_topk_local(f"{p}/postings_comp", qmap, idf,
                                merged.avgdl, k=3, chunk_bits=2,
                                bound_scales=bs)
        assert _ranked_pdf(local) == exact
    for plan in ("local", "sharded"):
        assert _ranked(search_serving(spark, p, qmap, 3, plan=plan)) == exact


# --- snapshot-pinned reader --------------------------------------------------

def test_pinned_snapshot_survives_concurrent_merge(spark, tmp_path):
    """A reader pinned at generation g returns IDENTICAL results after a
    delta merge lands (snapshot isolation), while a fresh load sees the
    merged corpus; pinning past a compaction fails loudly."""
    import pytest as _pytest

    from themis_search_engine_spark.indexing.build import (
        build_and_save_serving,
        load_serving_index,
    )
    from themis_search_engine_spark.indexing.merge import (
        compact_serving_index,
        merge_serving_delta,
        pin_serving_snapshot,
    )
    from themis_search_engine_spark.queryeng import qterms_df
    from themis_search_engine_spark.queryeng.wand import wand_topk

    from tests.conftest import TINY_DOCS

    docs = spark.createDataFrame(
        [(k, v) for k, v in TINY_DOCS.items()], "doc_id long, text string"
    )
    p = str(tmp_path / "idx")
    build_and_save_serving(
        docs.where("doc_id <= 3"), p, stem=False, partitions=2
    )
    # one delta so the log has a stats-bearing generation to pin
    merge_serving_delta(
        spark, p, docs.where("doc_id = 4"), stem=False, partitions=2
    )
    snap = pin_serving_snapshot(spark, p)  # pin at gen 1 (5 docs)
    qt = qterms_df(spark, {1: "lazy dog", 2: "quick fox"}, stem=False)

    def run(ix):
        return sorted(
            (r["qid"], r["rank"], r["doc_id"], round(r["score"], 6))
            for r in wand_topk(
                qt, ix.compressed, ix.dictionary, ix.avgdl, k=5,
                chunk_bits=ix.chunk_bits,
            ).collect()
        )

    before = run(snap)
    assert snap.n_docs == 5

    # concurrent write: another snapshot lands while the pin is open
    merge_serving_delta(
        spark, p, docs.where("doc_id = 5"), stem=False, partitions=2
    )
    # the PIN is unmoved — same files, same stats, same results
    after = run(snap)
    assert after == before
    re_pin = pin_serving_snapshot(spark, p, gen=snap.gen)
    assert run(re_pin) == before

    # a fresh (latest) view sees the new doc
    live = load_serving_index(spark, p)
    assert live.n_docs == 6
    latest = pin_serving_snapshot(spark, p)
    assert latest.n_docs == 6
    assert latest.gen > snap.gen

    # compaction expires older snapshots: re-pinning gen 1 must raise
    compact_serving_index(spark, p, partitions=2)
    with _pytest.raises(ValueError, match="predates a compaction"):
        pin_serving_snapshot(spark, p, gen=snap.gen)
    # pinning AT/after the compaction works and matches the live view
    post = pin_serving_snapshot(spark, p)
    assert post.n_docs == 6
