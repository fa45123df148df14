"""Query registry: Spark-side callables matching ``oracle_sql`` builders.

Consumed by ``__spark_entry__.py`` (the driver contract). Every SQL-oracled
callable here runs the engine's own operators over the driver's
``documents.parquet`` and must value-match its DuckDB twin at sf=0.01.
Index bundles are memoized per (sf_dir, stem, path) so the 72 registered
queries don't rebuild the index each.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import oracle_sql as osql
from .corpus import load_documents
from .indexing import InvertedIndex, build_index
from .indexing.build import vsm_doc_norms
from .queryeng import bm25_topk, qterms_df
from .queryeng.bm25 import bm25_score_all, topk
from .queryeng.existential import existential
from .queryeng.vsm import vsm_score_all
from .session import _ship_package, scratch_dir

_CACHE: dict[tuple, InvertedIndex] = {}


def get_index(
    spark: SparkSession, sf_dir: str, *, stem: bool = False, arrow: bool | None = None
) -> InvertedIndex:
    arrow = stem if arrow is None else arrow
    key = (sf_dir, stem, arrow)
    if key not in _CACHE:
        _ship_package(spark)
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        _CACHE[key] = build_index(docs, stem=stem, use_arrow=arrow).cache()
    return _CACHE[key]


def _qt(spark: SparkSession, *, stem: bool) -> DataFrame:
    return qterms_df(spark, osql.QUERYSET, stem=stem)


# --- SQL-oracled queries (unstemmed pipeline) ------------------------------

def q_tok_counts(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return idx.counts.select("doc_id", "term", F.col("cnt").cast("long").alias("cnt"))


def q_doc_lengths(spark, sf_dir):
    return get_index(spark, sf_dir).doc_stats.select("doc_id", "length")


def q_dictionary(spark, sf_dir):
    return get_index(spark, sf_dir).dictionary.select("term", "df")


def q_global_stats(spark, sf_dir):
    return get_index(spark, sf_dir).global_stats.select(
        "n_docs", F.round("avgdl", 6).alias("avgdl")
    )


def q_idf_bm25(spark, sf_dir):
    return get_index(spark, sf_dir).dictionary.select(
        "term", F.round("idf", 6).alias("idf")
    )


def q_tf_maxnorm(spark, sf_dir):
    return get_index(spark, sf_dir).postings_flat.select(
        "doc_id", "term", F.round("tf", 6).alias("tf")
    )


def q_bm25_scores(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    scored = bm25_score_all(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    return scored.select("qid", "doc_id", F.round("score", 6).alias("score"))


def _rounded_rank_topk(scored: DataFrame, k: int = 10) -> DataFrame:
    """Rank on round(score,6) + doc_id: engine-independent deterministic
    ordering (float-sum dust across Spark/numpy/DuckDB is ~1e-15 ≪ 5e-7)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "doc_id", F.round("score", 6).alias("score"), "rank")
    )


def q_bm25_topk(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    scored = bm25_score_all(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    return _rounded_rank_topk(scored, 10)


def q_existential(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    return existential(_qt(spark, stem=False), idx.postings_flat).select(
        "qid", "doc_id", "score"
    )


def q_doc_norms(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    norms = vsm_doc_norms(idx.postings_flat, idx.dictionary, idx.n_docs)
    return norms.select("doc_id", F.round("norm", 6).alias("norm"))


def q_vsm_scores(spark, sf_dir):
    idx = get_index(spark, sf_dir)
    stats = idx.doc_stats.join(
        vsm_doc_norms(idx.postings_flat, idx.dictionary, idx.n_docs), "doc_id"
    )
    scored = vsm_score_all(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary, stats,
        idx.n_docs,
    )
    return scored.select("qid", "doc_id", F.round("score", 6).alias("score"))


def q_vsm_topk(spark, sf_dir):
    """Q5 top-k variant (VSM.java:276-436): same generic rounded-rank
    window over the VSM scores."""
    idx = get_index(spark, sf_dir)
    stats = idx.doc_stats.join(
        vsm_doc_norms(idx.postings_flat, idx.dictionary, idx.n_docs), "doc_id"
    )
    scored = vsm_score_all(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary, stats,
        idx.n_docs,
    )
    return _rounded_rank_topk(scored, 10)


def q_existential_topk(spark, sf_dir):
    """Q6 top-k variant (Existential.java:123-126): all hits score 1.0, so
    rank order is the deterministic doc_id tiebreak."""
    idx = get_index(spark, sf_dir)
    hits = existential(_qt(spark, stem=False), idx.postings_flat)
    return _rounded_rank_topk(hits.select("qid", "doc_id", "score"), 10)


# --- compressed-postings paths ---------------------------------------------

_CCACHE: dict[tuple, DataFrame] = {}


def get_compressed(spark, sf_dir, *, stem: bool = False) -> DataFrame:
    from .indexing.compress import build_postings_compressed

    key = (sf_dir, stem)
    if key not in _CCACHE:
        idx = get_index(spark, sf_dir, stem=stem)
        _CCACHE[key] = build_postings_compressed(
            idx.counts, idx.doc_stats, idx.avgdl
        ).cache()
    return _CCACHE[key]


def q_postings_roundtrip(spark, sf_dir):
    """delta+varbyte encode∘decode == identity, proven against the SQL
    tf oracle (same rows as tf_maxnorm)."""
    from .indexing.compress import decode_postings

    dec = decode_postings(get_compressed(spark, sf_dir))
    return dec.select("doc_id", "term", F.round("tf", 6).alias("tf"))


def q_bm25_topk_wand(spark, sf_dir):
    """Block-max WAND over compressed chunks; must equal the naive top-k
    oracle (score everything, sort, take k)."""
    from .indexing.compress import DEFAULT_CHUNK_BITS
    from .queryeng.wand import wand_topk

    idx = get_index(spark, sf_dir)
    comp = get_compressed(spark, sf_dir)
    # over-fetch (k*3) at raw-score granularity, then final rounded ranking
    wide = wand_topk(
        _qt(spark, stem=False), comp, idx.dictionary, idx.avgdl, k=30,
        chunk_bits=DEFAULT_CHUNK_BITS,
    )
    return _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)


def q_bm25_topk_wand_batch(spark, sf_dir):
    """WAND batch plan (one chunk-scoring pass) over chunks from the
    streaming sorted-partition compressor
    (compress.build_postings_compressed_sorted) — the serving-path physical
    plan of scripts/scaling_workload.py, against the same naive SQL oracle."""
    from .indexing.compress import (
        DEFAULT_CHUNK_BITS,
        build_postings_compressed_sorted,
    )
    from .queryeng.wand import wand_topk

    idx = get_index(spark, sf_dir)
    comp = build_postings_compressed_sorted(idx.counts, idx.doc_stats, idx.avgdl)
    wide = wand_topk(
        _qt(spark, stem=False), comp, idx.dictionary, idx.avgdl, k=30,
        chunk_bits=DEFAULT_CHUNK_BITS,
    )
    return _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)


def q_bm25_topk_serving(spark, sf_dir):
    """The serving facade end-to-end (queryeng/planner.search_serving:
    pyarrow dictionary pricing, volume-based plan choice, the slab
    kernel) over the persisted full-corpus serving index, against the
    same naive top-k oracle."""
    from .queryeng.pipeline import query_term_map
    from .queryeng.planner import search_serving

    _, p = _serving_bundle(spark, sf_dir)
    wide = search_serving(
        spark, p, query_term_map(osql.QUERYSET, stem=False), k=30
    )
    return _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)


_MCACHE: dict[str, tuple] = {}


def _delta_merged_bundle(spark, sf_dir):
    """Even-half build + odd-half delta merge, built once per sf_dir —
    shared by the delta-merge and compaction queries (compaction copies
    the directory before rewriting, so this bundle stays valid)."""
    from .indexing.build import build_and_save_serving
    from .indexing.merge import merge_serving_delta

    if sf_dir not in _MCACHE:
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        p = scratch_dir("themis_delta_merge_") + "/idx"
        # chunk_bits=8 so the interleaved halves land in the SAME chunks →
        # every consulted (term, chunk) group really is fragmented
        build_and_save_serving(
            docs.where("doc_id % 2 = 0"), p, stem=False, chunk_bits=8,
            partitions=16,
        )
        idx = merge_serving_delta(
            spark, p, docs.where("doc_id % 2 = 1"), stem=False, partitions=16
        )
        _MCACHE[sf_dir] = (idx, p)
    return _MCACHE[sf_dir]


def q_delta_merge_topk(spark, sf_dir):
    """Incremental segment merge end-to-end (indexing/merge.py): a serving
    index built over the even-doc_id half, delta-merged with the odd half,
    must produce BM25 top-k rank-identical to the full-corpus oracle (same
    naive SQL twin as bm25_topk_wand). Exercises fragment accumulation in
    the slab kernel (wand_topk)."""
    from .queryeng.wand import wand_topk

    idx, _ = _delta_merged_bundle(spark, sf_dir)
    wide = wand_topk(
        _qt(spark, stem=False), idx.compressed, idx.dictionary, idx.avgdl,
        k=30, chunk_bits=idx.chunk_bits,
    )
    return _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)


_COMPACT_CACHE: dict[str, tuple] = {}


def q_compacted_topk(spark, sf_dir):
    """Full segment lifecycle end-to-end (indexing/merge.py): build over
    the even-doc_id half, delta-merge the odd half, then COMPACT — the
    compacted single-segment index must produce BM25 top-k rank-identical
    to the full-corpus oracle, with the pruning envelope reset to
    (1.0, 1.0). Reuses the delta-merged bundle (copied first — compaction
    rewrites segments in place and must not invalidate the shared one)."""
    import shutil

    from .indexing.merge import compact_serving_index, serving_bound_scales
    from .queryeng.wand import wand_topk

    if sf_dir not in _COMPACT_CACHE:
        _, src = _delta_merged_bundle(spark, sf_dir)
        p = scratch_dir("themis_compact_") + "/idx"
        shutil.copytree(src, p)
        idx = compact_serving_index(spark, p, partitions=16)
        assert serving_bound_scales(spark, p) == (1.0, 1.0)
        _COMPACT_CACHE[sf_dir] = (idx,)
    (idx,) = _COMPACT_CACHE[sf_dir]
    wide = wand_topk(
        _qt(spark, stem=False), idx.compressed, idx.dictionary, idx.avgdl,
        k=30, chunk_bits=idx.chunk_bits,
    )
    return _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)


_TOMBSTONE_CACHE: dict[str, tuple] = {}


def _tombstoned_bundle(spark, sf_dir):
    """Copy of the delta-merged serving index with every doc_id % 7 == 0
    doc tombstoned via indexing.merge.delete_serving_docs (NOT compacted)
    — the live-index delete state both delete queries start from."""
    import shutil

    from .indexing.build import load_serving_index
    from .indexing.merge import delete_serving_docs, load_tombstones

    if sf_dir not in _TOMBSTONE_CACHE:
        _, src = _delta_merged_bundle(spark, sf_dir)
        p = scratch_dir("themis_tombstone_") + "/idx"
        shutil.copytree(src, p)
        ids = load_documents(spark, sf_dir).select("doc_id").where(
            "doc_id % 7 = 0"
        )
        delete_serving_docs(spark, p, ids)
        idx = load_serving_index(spark, p)
        tomb = load_tombstones(spark, p)
        assert tomb is not None
        _TOMBSTONE_CACHE[sf_dir] = (idx, tomb.cache(), p)
    return _TOMBSTONE_CACHE[sf_dir]


def q_bm25_topk_deleted(spark, sf_dir):
    """Tombstoned serving index BEFORE compaction (indexing/merge.py
    delete_serving_docs): Lucene liveDocs semantics — the tombstone set
    is anti-joined out of the postings BEFORE aggregation (so every
    query still returns k live docs no matter how many of its best
    candidates died), while df/N/avgdl remain the stale full-corpus
    statistics the index still stores. Oracle: full-corpus stats,
    candidate mask (sql_bm25_topk_deleted)."""
    idx, tomb, _ = _tombstoned_bundle(spark, sf_dir)
    live = idx.postings_flat.join(F.broadcast(tomb), "doc_id", "left_anti")
    scored = bm25_score_all(
        _qt(spark, stem=False), live, idx.dictionary, idx.doc_stats,
        idx.avgdl,
    )
    return _rounded_rank_topk(scored, 10)


_DELCOMPACT_CACHE: dict[str, tuple] = {}


def q_compacted_deletes_topk(spark, sf_dir):
    """Full delete lifecycle end-to-end (indexing/merge.py): tombstone
    doc_id % 7 == 0, then COMPACT — postings physically dropped, every
    statistic (N, total_len, avgdl, df, idf) recomputed over survivors,
    pruning envelope reset to (1.0, 1.0), tombstones spent. The compacted
    index must rank-match a DuckDB BM25 built over the surviving corpus
    alone (sql_compacted_deletes_topk). Copies the tombstoned bundle
    first — compaction rewrites in place."""
    import os
    import shutil

    from .indexing.merge import compact_serving_index, serving_bound_scales
    from .queryeng.wand import wand_topk

    if sf_dir not in _DELCOMPACT_CACHE:
        _, _, src = _tombstoned_bundle(spark, sf_dir)
        p = scratch_dir("themis_delcompact_") + "/idx"
        shutil.copytree(src, p)
        idx = compact_serving_index(spark, p, partitions=16)
        assert not os.path.exists(f"{p}/tombstones")  # deletes are spent
        assert serving_bound_scales(spark, p) == (1.0, 1.0)
        _DELCOMPACT_CACHE[sf_dir] = (idx,)
    (idx,) = _DELCOMPACT_CACHE[sf_dir]
    wide = wand_topk(
        _qt(spark, stem=False), idx.compressed, idx.dictionary, idx.avgdl,
        k=30, chunk_bits=idx.chunk_bits,
    )
    return _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)


_RECRAWL_CACHE: dict[str, tuple] = {}


def _recrawl_bundle(spark, sf_dir):
    """The incremental-recrawl state: a serving index over the PREVIOUS
    crawl (each URL's second-latest snapshot, = snapshot_diff's
    prev_doc_id set), updated in place via indexing.merge.
    update_serving_docs with exactly what websnap.snapshot_diff says the
    new crawl changed — 'new'/'changed' curs merged as a fresh segment,
    superseded prevs tombstoned, 'unchanged' pages never re-tokenized
    (the O(|changed|)-not-O(crawl) property that makes recrawl ingestion
    viable at 10^12 pages)."""
    from .indexing.build import build_and_save_serving, load_serving_index
    from .indexing.merge import load_tombstones, update_serving_docs
    from .pipeline_ops.websnap import snapshot_diff, snapshot_view

    if sf_dir not in _RECRAWL_CACHE:
        docs = load_documents(spark, sf_dir).select(
            "doc_id", "text", "source", "n_chars"
        )
        diff = snapshot_diff(snapshot_view(docs, with_text=True)).cache()
        base_ids = diff.where("prev_doc_id IS NOT NULL").select(
            F.col("prev_doc_id").alias("doc_id")
        )
        new_ids = diff.where("status IN ('new', 'changed')").select(
            F.col("cur_doc_id").alias("doc_id")
        )
        dead_ids = diff.where("status = 'changed'").select(
            F.col("prev_doc_id").alias("doc_id")
        )
        p = scratch_dir("themis_recrawl_") + "/idx"
        build_and_save_serving(
            docs.join(base_ids, "doc_id", "semi").select("doc_id", "text"),
            p, stem=False, chunk_bits=8, partitions=16,
        )
        update_serving_docs(
            spark, p,
            docs.join(new_ids, "doc_id", "semi").select("doc_id", "text"),
            dead_ids, stem=False, partitions=16,
        )
        idx = load_serving_index(spark, p)
        tomb = load_tombstones(spark, p)
        assert tomb is not None
        _RECRAWL_CACHE[sf_dir] = (idx, tomb.cache(), p)
    return _RECRAWL_CACHE[sf_dir]


def q_recrawl_update_topk(spark, sf_dir):
    """Incremental recrawl ingestion end-to-end, pre-compaction grain
    (indexing/merge.update_serving_docs driven by websnap.snapshot_diff):
    the index serves the new crawl's changed pages and masks their
    superseded versions via the tombstone anti-join, while df/N/avgdl
    still count the superseded versions (Lucene's stale-stats liveDocs
    contract until the next compaction). Oracle: stats over prev ∪
    merged-cur, candidates restricted to the live set
    (sql_recrawl_update_topk)."""
    idx, tomb, _ = _recrawl_bundle(spark, sf_dir)
    live = idx.postings_flat.join(F.broadcast(tomb), "doc_id", "left_anti")
    scored = bm25_score_all(
        _qt(spark, stem=False), live, idx.dictionary, idx.doc_stats,
        idx.avgdl,
    )
    return _rounded_rank_topk(scored, 10)


_RECRAWL_COMPACT_CACHE: dict[str, tuple] = {}


def q_recrawl_compacted_topk(spark, sf_dir):
    """Recrawl update followed by compaction: superseded page versions
    physically purged, statistics recomputed — the index must rank-match
    a DuckDB BM25 built over the post-recrawl live corpus alone (each
    URL's surviving snapshot: the new version where the crawl changed
    it, the old one where it didn't). Copies the recrawl bundle first —
    compaction rewrites in place."""
    import shutil

    from .indexing.merge import compact_serving_index, load_tombstones
    from .queryeng.wand import wand_topk

    if sf_dir not in _RECRAWL_COMPACT_CACHE:
        _, _, src = _recrawl_bundle(spark, sf_dir)
        p = scratch_dir("themis_recrawl_compact_") + "/idx"
        shutil.copytree(src, p)
        idx = compact_serving_index(spark, p, partitions=16)
        assert load_tombstones(spark, p) is None  # deletes are spent
        _RECRAWL_COMPACT_CACHE[sf_dir] = (idx,)
    (idx,) = _RECRAWL_COMPACT_CACHE[sf_dir]
    wide = wand_topk(
        _qt(spark, stem=False), idx.compressed, idx.dictionary, idx.avgdl,
        k=30, chunk_bits=idx.chunk_bits,
    )
    return _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)


_SCACHE: dict[str, tuple] = {}


def _serving_bundle(spark, sf_dir):
    """Persisted full-corpus serving index, built once per sf_dir —
    shared by the sharded and in-process serving queries."""
    from .indexing.build import build_and_save_serving

    if sf_dir not in _SCACHE:
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        p = scratch_dir("themis_sharded_") + "/idx"
        idx = build_and_save_serving(
            docs, p, stem=False, chunk_bits=8, partitions=16
        )
        _SCACHE[sf_dir] = (idx, p)
    return _SCACHE[sf_dir]


def q_bm25_topk_wand_sharded(spark, sf_dir):
    """Doc-sharded file-parallel serving (queryeng/sharded.py): one task
    per chunk set of a PERSISTED serving index, pyarrow reads + numpy
    scoring, only per-shard top-k rows leaving Python — against the same
    naive top-k oracle as every other WAND plan."""
    from .queryeng.pipeline import query_term_map
    from .queryeng.sharded import wand_topk_sharded

    idx, p = _serving_bundle(spark, sf_dir)
    wide = wand_topk_sharded(
        spark, f"{p}/postings_comp", query_term_map(osql.QUERYSET, stem=False),
        idx.dictionary, idx.avgdl, idx.max_doc_id, k=30,
        chunk_bits=idx.chunk_bits, n_shards=3,
    )
    return _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)


def q_bm25_topk_wand_local(spark, sf_dir):
    """In-process interactive serving (queryeng/wand.wand_topk_local — zero
    Spark jobs per query, pyarrow term-pruned read + the slab kernel)
    against the same naive top-k oracle. The pandas
    result is lifted into a DataFrame only for the driver compare."""
    from .queryeng.pipeline import query_term_map
    from .queryeng.sharded import collect_idf_map
    from .queryeng.wand import wand_topk_local

    idx, p = _serving_bundle(spark, sf_dir)
    local = wand_topk_local(
        f"{p}/postings_comp", query_term_map(osql.QUERYSET, stem=False),
        collect_idf_map(idx.dictionary), idx.avgdl, k=30,
        chunk_bits=idx.chunk_bits,
    )
    wide = spark.createDataFrame(
        local, "qid int, doc_id long, score double, rank int"
    )
    return _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)


# --- stemmed pipeline (SQL-oracled through the corpus-derived (term, stem)
# mapping — oracle_sql.tok_cte_stemmed; porter.py itself is pinned by
# hand-verified goldens in tests/test_porter.py) -----------------------------

def q_dictionary_stemmed(spark, sf_dir):
    return get_index(spark, sf_dir, stem=True).dictionary.select("term", "df")


def q_bm25_topk_stemmed(spark, sf_dir):
    idx = get_index(spark, sf_dir, stem=True)
    scored = bm25_score_all(
        _qt(spark, stem=True), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    return _rounded_rank_topk(scored, 10)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "tok_counts": q_tok_counts,
    "doc_lengths": q_doc_lengths,
    "dictionary": q_dictionary,
    "global_stats": q_global_stats,
    "idf_bm25": q_idf_bm25,
    "tf_maxnorm": q_tf_maxnorm,
    "bm25_scores": q_bm25_scores,
    "bm25_topk": q_bm25_topk,
    "existential": q_existential,
    "doc_norms": q_doc_norms,
    "vsm_scores": q_vsm_scores,
    "vsm_topk": q_vsm_topk,
    "existential_topk": q_existential_topk,
    "dictionary_stemmed": q_dictionary_stemmed,
    "bm25_topk_stemmed": q_bm25_topk_stemmed,
    "postings_roundtrip": q_postings_roundtrip,
    "bm25_topk_wand": q_bm25_topk_wand,
    "bm25_topk_wand_batch": q_bm25_topk_wand_batch,
    "bm25_topk_serving": q_bm25_topk_serving,
    "bm25_topk_wand_sharded": q_bm25_topk_wand_sharded,
    "bm25_topk_wand_local": q_bm25_topk_wand_local,
    "delta_merge_topk": q_delta_merge_topk,
    "compacted_topk": q_compacted_topk,
}

ORACLE_SQL: dict[str, str] = {
    "tok_counts": osql.sql_tok_counts(),
    "doc_lengths": osql.sql_doc_lengths(),
    "dictionary": osql.sql_dictionary(),
    "global_stats": osql.sql_global_stats(),
    "idf_bm25": osql.sql_idf_bm25(),
    "tf_maxnorm": osql.sql_tf_maxnorm(),
    "bm25_scores": osql.sql_bm25_scores(),
    "bm25_topk": osql.sql_bm25_topk(10),
    "existential": osql.sql_existential(),
    "doc_norms": osql.sql_doc_norms(),
    "vsm_scores": osql.sql_vsm_scores(),
    "vsm_topk": osql.sql_vsm_topk(10),
    "existential_topk": osql.sql_existential_topk(10),
    "dictionary_stemmed": osql.sql_dictionary_stemmed(),
    "bm25_topk_stemmed": osql.sql_bm25_topk_stemmed(10),
    "postings_roundtrip": osql.sql_tf_maxnorm(),
    "bm25_topk_wand": osql.sql_bm25_topk(10),
    "bm25_topk_wand_batch": osql.sql_bm25_topk(10),
    "bm25_topk_serving": osql.sql_bm25_topk(10),
    "bm25_topk_wand_sharded": osql.sql_bm25_topk(10),
    "bm25_topk_wand_local": osql.sql_bm25_topk(10),
    "delta_merge_topk": osql.sql_bm25_topk(10),
    "compacted_topk": osql.sql_bm25_topk(10),
}


def q_eval_ap_ndcg(spark, sf_dir):
    """E1+E2: AP + nDCG of the bm25 top-20 ranking against deterministic
    synthetic judgments (judged-only position walk per the reference),
    over the wide EVAL_QUERYSET (≥20 queries: repeated terms, unknown
    terms, all-stopword, and zero-judged NaN-skip cases)."""
    from .corpus import load_documents
    from .queryeng.evalmetrics import ap_ndcg, synthetic_judgments

    idx = get_index(spark, sf_dir)
    scored = bm25_score_all(
        qterms_df(spark, osql.EVAL_QUERYSET, stem=False),
        idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
    )
    ranked = _rounded_rank_topk(scored, 20)
    judgments = synthetic_judgments(
        load_documents(spark, sf_dir).select("doc_id"), osql.EVAL_QUERYSET
    )
    return ap_ndcg(ranked, judgments)


QUERIES["eval_ap_ndcg"] = q_eval_ap_ndcg
ORACLE_SQL["eval_ap_ndcg"] = osql.sql_eval_ap_ndcg(20)


def q_eval_rbp_err(spark, sf_dir):
    """E-family extension: rank-biased precision (persistence 0.5) and
    binary-grade expected reciprocal rank over the same ranking +
    judgments as eval_ap_ndcg (evalmetrics.rbp_err; dyadic powers keep
    both metrics engine-exact)."""
    from .corpus import load_documents
    from .queryeng.evalmetrics import rbp_err, synthetic_judgments

    idx = get_index(spark, sf_dir)
    scored = bm25_score_all(
        qterms_df(spark, osql.EVAL_QUERYSET, stem=False),
        idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
    )
    ranked = _rounded_rank_topk(scored, 20)
    judgments = synthetic_judgments(
        load_documents(spark, sf_dir).select("doc_id"), osql.EVAL_QUERYSET
    )
    return rbp_err(ranked, judgments, 20)


QUERIES["eval_rbp_err"] = q_eval_rbp_err
ORACLE_SQL["eval_rbp_err"] = osql.sql_eval_rbp_err(20, 0.5)


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for retrieval-model training
    (queryeng/ltr.hard_negatives — the DPR recipe): judged positives ×
    the query's highest-ranked non-relevant BM25 results; one qid-keyed
    window over a results page, pos×neg bounded per query."""
    from .corpus import load_documents
    from .queryeng.evalmetrics import synthetic_judgments
    from .queryeng.ltr import hard_negatives

    idx = get_index(spark, sf_dir)
    scored = bm25_score_all(
        qterms_df(spark, osql.EVAL_QUERYSET, stem=False),
        idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
    )
    ranked = _rounded_rank_topk(scored, 20)
    judgments = synthetic_judgments(
        load_documents(spark, sf_dir).select("doc_id"), osql.EVAL_QUERYSET
    )
    return hard_negatives(ranked, judgments, per_query=3)


QUERIES["hard_negatives"] = q_hard_negatives
ORACLE_SQL["hard_negatives"] = osql.sql_hard_negatives(20, 3)


def q_eval_prf_mrr(spark, sf_dir):
    """E-family extension: precision@k / recall@k / MRR over the same
    ranking + judgments as eval_ap_ndcg (full-rank positions —
    evalmetrics.prf_mrr; the reference walks AP/nDCG only)."""
    from .queryeng.evalmetrics import prf_mrr, synthetic_judgments

    idx = get_index(spark, sf_dir)
    scored = bm25_score_all(
        qterms_df(spark, osql.EVAL_QUERYSET, stem=False),
        idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
    )
    ranked = _rounded_rank_topk(scored, 20)
    judgments = synthetic_judgments(
        load_documents(spark, sf_dir).select("doc_id"), osql.EVAL_QUERYSET
    )
    return prf_mrr(ranked, judgments, 20)


QUERIES["eval_prf_mrr"] = q_eval_prf_mrr
ORACLE_SQL["eval_prf_mrr"] = osql.sql_eval_prf_mrr(20)


def q_query_expansion(spark, sf_dir):
    """P6/P7 operator: prefix-synonym expansion of the batch query set,
    capped per qid at the original distinct-term count."""
    from .queryeng.expansion import expand_queries, prefix_synonyms

    idx = get_index(spark, sf_dir)
    return expand_queries(
        _qt(spark, stem=False), prefix_synonyms(idx.dictionary, 4)
    )


QUERIES["query_expansion"] = q_query_expansion
ORACLE_SQL["query_expansion"] = osql.sql_query_expansion(4, 0.5)


def _emb_synonyms(spark, sf_dir):
    """Shared embedding-NN synonym source (P7 resource) for the
    expansion and expanded-retrieval queries."""
    from .corpus import load_embeddings
    from .queryeng.expansion import embedding_synonyms

    idx = get_index(spark, sf_dir)
    return embedding_synonyms(
        idx.counts, load_embeddings(spark, sf_dir), top_n=2
    )


def _expanded_retrieval(spark, sf_dir, synonyms) -> DataFrame:
    """expansion → qweight-weighted BM25 → rounded-rank top-k — the one
    Search.java:75 flow both synonym sources feed (mirrors the shared
    SQL tail in oracle_sql)."""
    from .queryeng.expansion import expand_queries

    idx = get_index(spark, sf_dir)
    expanded = expand_queries(
        _qt(spark, stem=False), synonyms, expansion_weight=0.5
    )
    scored = bm25_score_all(
        expanded, idx.postings_flat, idx.dictionary, idx.doc_stats,
        idx.avgdl, use_qweight=True,
    )
    return _rounded_rank_topk(scored, 10)


def q_query_expansion_emb(spark, sf_dir):
    """P7 with a REAL embedding resource (Glove.java:20-55 shape): term
    vectors derived as the mean of containing docs' embeddings, synonyms
    = top-2 cosine neighbors, fed through the same capped expansion
    operator as the prefix source."""
    from .queryeng.expansion import expand_queries

    return expand_queries(_qt(spark, stem=False), _emb_synonyms(spark, sf_dir))


QUERIES["query_expansion_emb"] = q_query_expansion_emb
ORACLE_SQL["query_expansion_emb"] = osql.sql_query_expansion_emb(2, 0.5)


def q_bm25_topk_expanded(spark, sf_dir):
    """Expanded retrieval end-to-end (Search.java:75): P6/P7 expansion
    output feeds BM25 top-k, expansion terms at reduced qweight."""
    from .queryeng.expansion import prefix_synonyms

    idx = get_index(spark, sf_dir)
    return _expanded_retrieval(
        spark, sf_dir, prefix_synonyms(idx.dictionary, 4)
    )


QUERIES["bm25_topk_expanded"] = q_bm25_topk_expanded
ORACLE_SQL["bm25_topk_expanded"] = osql.sql_bm25_topk_expanded(10, 4, 0.5)


def q_bm25_topk_expanded_emb(spark, sf_dir):
    """Expanded retrieval with the embedding-NN synonym source (P7 →
    Search.java:75 flow)."""
    return _expanded_retrieval(spark, sf_dir, _emb_synonyms(spark, sf_dir))


QUERIES["bm25_topk_expanded_emb"] = q_bm25_topk_expanded_emb
ORACLE_SQL["bm25_topk_expanded_emb"] = osql.sql_bm25_topk_expanded_emb(
    10, 2, 0.5
)


def q_bm25_topk_filtered(spark, sf_dir):
    """Metadata-filtered retrieval: BM25 top-10 restricted to lang='en'
    docs — predicate pushed to the attribute scan, semi-join below the
    score aggregation (queryeng/metadata.py)."""
    from .queryeng.metadata import bm25_topk_filtered as _filtered

    idx = get_index(spark, sf_dir)
    return _filtered(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
        load_documents(spark, sf_dir), F.col("lang") == "en", 10,
        topk_fn=_rounded_rank_topk,
    )


QUERIES["bm25_topk_filtered"] = q_bm25_topk_filtered
ORACLE_SQL["bm25_topk_filtered"] = osql.sql_bm25_topk_filtered(10, "dd.lang = 'en'")


def q_facet_counts(spark, sf_dir):
    """Per-query facet distribution over (lang): distinct existential
    matches rolled up per attribute value (queryeng/metadata.py)."""
    from .queryeng.metadata import facet_counts as _facets

    idx = get_index(spark, sf_dir)
    return _facets(
        _qt(spark, stem=False), idx.postings_flat,
        load_documents(spark, sf_dir), ("lang",),
    )


QUERIES["facet_counts"] = q_facet_counts
ORACLE_SQL["facet_counts"] = osql.sql_facet_counts(("lang",))


def q_sort_field_topk(spark, sf_dir):
    """Field-sorted retrieval: newest-first top-10 of each query's match
    set, ordered by the deterministic warc_ts fixture instead of the
    score (queryeng/metadata.sort_by_field_topk — the Lucene
    Sort(SortField) surface; warc_ts collides above 1000 docs, so the
    doc_id tiebreak is exercised at every sf)."""
    from .pipeline_ops.websnap import snapshot_view
    from .queryeng.metadata import sort_by_field_topk

    idx = get_index(spark, sf_dir)
    page_ts = snapshot_view(load_documents(spark, sf_dir)).select(
        "doc_id", "warc_ts"
    )
    return sort_by_field_topk(
        _qt(spark, stem=False), idx.postings_flat, page_ts, "warc_ts", 10
    )


QUERIES["sort_field_topk"] = q_sort_field_topk
ORACLE_SQL["sort_field_topk"] = osql.sql_sort_field_topk(10)

# mixes rare ('dup', df≈0.05·N at every sf) with head terms (df≈0.77·N),
# so demotion, the all-common fallback, and rare-only queries all fire
CT_QUERYSET = {1: "dup spark", 2: "spark join", 3: "dup"}


def q_common_terms_topk(spark, sf_dir):
    """Head-term demotion (queryeng/metadata.common_terms_topk — the
    Lucene CommonTermsQuery): common terms (df > 0.5·N) stop generating
    candidates and are read through a doc_id semi-join on the rare
    terms' match set; surviving docs keep their EXACT full-OR BM25
    score. qid 1 demotes 'spark', qid 2 falls back to plain OR (all
    terms common), qid 3 is rare-only."""
    from .queryeng.metadata import common_terms_topk

    idx = get_index(spark, sf_dir)
    return common_terms_topk(
        qterms_df(spark, CT_QUERYSET, stem=False), idx.postings_flat,
        idx.dictionary, idx.doc_stats, idx.avgdl, idx.n_docs, 10,
        max_df_frac=0.5, topk_fn=_rounded_rank_topk,
    )


QUERIES["common_terms_topk"] = q_common_terms_topk
ORACLE_SQL["common_terms_topk"] = osql.sql_common_terms_topk(
    10, 0.5, CT_QUERYSET
)


def q_interleave_topk(spark, sf_dir):
    """Team-draft interleaving of two LIVE rankers — relevance (BM25
    top-10, team a) vs freshness (newest-first top-10, team b) — the
    online-A/B impression (queryeng/interleave.team_draft_interleave).
    The DuckDB twin replays the draft as a recursive CTE with the SAME
    md5(qid|round) coin, so the greedy merge is value-pinned end to
    end."""
    from .queryeng.interleave import team_draft_interleave

    a = q_bm25_topk(spark, sf_dir).select("qid", "doc_id", "rank")
    b = q_sort_field_topk(spark, sf_dir).select("qid", "doc_id", "rank")
    return team_draft_interleave(a, b)


QUERIES["interleave_topk"] = q_interleave_topk
ORACLE_SQL["interleave_topk"] = osql.sql_interleave_topk(10)


def q_bm25_topk_recency(spark, sf_dir):
    """Recency-boosted retrieval: BM25 top-10 with a 7-day-half-life
    time-decay boost from the deterministic warc_ts fixture — the boost
    join is candidate-bounded, after the score agg (queryeng/temporal.py)."""
    from .pipeline_ops.websnap import snapshot_view
    from .queryeng.temporal import bm25_topk_recency as _recency

    idx = get_index(spark, sf_dir)
    page_ts = snapshot_view(load_documents(spark, sf_dir)).select(
        "doc_id", "warc_ts"
    )
    return _recency(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl, page_ts,
        now_ts=1546300800 + 999 * 3600, half_life_days=7.0, k=10,
        topk_fn=_rounded_rank_topk,
    )


QUERIES["bm25_topk_recency"] = q_bm25_topk_recency
ORACLE_SQL["bm25_topk_recency"] = osql.sql_bm25_topk_recency(
    10, 1546300800 + 999 * 3600, 7.0
)


def q_percolate(spark, sf_dir):
    """Reverse search: every (document, stored query) pair where the doc
    contains ALL the query's terms — broadcast query set, map-side-
    combinable match count (queryeng/percolate.py)."""
    from .queryeng.percolate import percolate as _percolate

    idx = get_index(spark, sf_dir)
    return _percolate(
        idx.postings_flat.select("doc_id", "term"),
        _qt(spark, stem=False), mode="all",
    )


QUERIES["percolate"] = q_percolate
ORACLE_SQL["percolate"] = osql.sql_percolate("all")


def q_ltr_features(spark, sf_dir):
    """Learning-to-rank feature vectors per (query, candidate doc):
    bm25 + match/tf/idf/length features in ONE grouped pass over the
    pruned postings scan (queryeng/ltr.py)."""
    from .queryeng.ltr import ltr_features as _ltr

    idx = get_index(spark, sf_dir)
    f = _ltr(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    return f.select(
        "qid", "doc_id", F.round("bm25", 6).alias("bm25"), "n_matched",
        F.round("coverage", 6).alias("coverage"),
        F.round("sum_tf", 6).alias("sum_tf"),
        F.round("max_tf", 6).alias("max_tf"),
        F.round("min_idf", 6).alias("min_idf"),
        F.round("max_idf", 6).alias("max_idf"), "length",
    )


QUERIES["ltr_features"] = q_ltr_features
ORACLE_SQL["ltr_features"] = osql.sql_ltr_features()

# an offline-trained linear ranker: relevance ~ bm25 + coverage bonus +
# tf evidence − length prior (the registered model-apply fixture).
# Weights are integers (plus an exact-2-decimal length prior) so the dot
# over 6-dp-rounded features stays AT the 6-dp grain — a 0.5-style
# weight would manufacture exact 7th-decimal midpoints where Spark
# (BigDecimal HALF_UP on binary) and DuckDB (×1e6 float rounding)
# legitimately disagree.
LTR_WEIGHTS = {"bm25": 1.0, "coverage": 2.0, "max_tf": 3.0,
               "length": -0.01}


def q_ltr_rerank_topk(spark, sf_dir):
    """LTR end-to-end: the feature pass feeding a linear model apply
    (queryeng/ltr.ltr_rerank_topk — ONE codegen projection, no UDF) and
    a per-query top-10. Features are rounded at the house 6-dp grain
    before the dot product so both engines score identical doubles."""
    from .queryeng.ltr import ltr_features as _ltr2
    from .queryeng.ltr import ltr_rerank_topk

    idx = get_index(spark, sf_dir)
    f = _ltr2(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    rounded = f.select(
        "qid", "doc_id",
        *[F.round(c, 6).alias(c) for c in sorted(LTR_WEIGHTS)],
    )
    return ltr_rerank_topk(rounded, LTR_WEIGHTS, 10)


QUERIES["ltr_rerank_topk"] = q_ltr_rerank_topk
ORACLE_SQL["ltr_rerank_topk"] = osql.sql_ltr_rerank_topk(LTR_WEIGHTS, 10)


def q_index_profile(spark, sf_dir):
    """Index observability: log2-bucketed df histogram of the dictionary
    — the Zipf profile the scale knobs (salting, chunk layout, broadcast
    thresholds) are sized from (indexing/profile.py)."""
    from .indexing.profile import dictionary_profile

    return dictionary_profile(get_index(spark, sf_dir).dictionary)


QUERIES["index_profile"] = q_index_profile
ORACLE_SQL["index_profile"] = osql.sql_index_profile()


def q_more_like_this(spark, sf_dir):
    """Related-documents retrieval: each source doc's top cnt·idf terms
    queried through the standard BM25 plan, source excluded
    (queryeng/mlt.py)."""
    from .queryeng.mlt import more_like_this

    idx = get_index(spark, sf_dir)
    scored = more_like_this(
        list(osql.MLT_DOC_IDS), idx.counts, idx.postings_flat,
        idx.dictionary, idx.doc_stats, idx.avgdl, top_terms=5,
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["more_like_this"] = q_more_like_this
ORACLE_SQL["more_like_this"] = osql.sql_more_like_this(10, 5)


def q_doc_keywords(spark, sf_dir):
    """Corpus-wide keyword extraction: top cnt·idf terms per document
    (queryeng/mlt.py)."""
    from .queryeng.mlt import doc_keywords

    idx = get_index(spark, sf_dir)
    return doc_keywords(idx.counts, idx.dictionary, top_terms=3)


QUERIES["doc_keywords"] = q_doc_keywords
ORACLE_SQL["doc_keywords"] = osql.sql_doc_keywords(3)


def q_bm25_topk_pruned(spark, sf_dir):
    """BM25 top-k over a statically pruned index (each term keeps its 20
    highest-impact postings — indexing/prune.py): the index-size/quality
    serving knob, oracle replicates the pruning so values match."""
    from .indexing.prune import prune_postings

    idx = get_index(spark, sf_dir)
    pruned = prune_postings(idx.postings_flat, per_term=20)
    scored = bm25_score_all(
        _qt(spark, stem=False), pruned, idx.dictionary, idx.doc_stats,
        idx.avgdl,
    )
    return _rounded_rank_topk(scored, 10)


def q_did_you_mean_topk(spark, sf_dir):
    """Did-you-mean retrieval end-to-end: unknown query terms rewrite to
    their best distance-1 dictionary correction, then standard BM25
    top-k (queryeng/spell.correct_qterms)."""
    from .queryeng.spell import correct_qterms

    idx = get_index(spark, sf_dir)
    qt = qterms_df(spark, osql.MISSPELLED_QUERYSET, stem=False)
    corrected = correct_qterms(qt, idx.dictionary)
    scored = bm25_score_all(
        corrected, idx.postings_flat, idx.dictionary, idx.doc_stats,
        idx.avgdl,
    )
    return _rounded_rank_topk(scored, 10)


def q_bm25_explain_topk(spark, sf_dir):
    """Per-term score breakdown (Lucene-style explain) for each query's
    top-3 docs (queryeng/explain.py); Σ part == the scorer's score."""
    from .queryeng.explain import explain_scores

    idx = get_index(spark, sf_dir)
    qt = _qt(spark, stem=False)
    scored = bm25_score_all(
        qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl
    )
    pairs = _rounded_rank_topk(scored, 3).select("qid", "doc_id")
    out = explain_scores(
        qt, pairs, idx.postings_flat, idx.dictionary, idx.doc_stats,
        idx.avgdl,
    )
    return out.select(
        "qid", "doc_id", "term",
        F.round("tf", 6).alias("tf"),
        "df",
        F.round("idf", 6).alias("idf"),
        "length",
        F.round("part", 6).alias("part"),
    )


QUERIES["bm25_explain_topk"] = q_bm25_explain_topk
ORACLE_SQL["bm25_explain_topk"] = osql.sql_bm25_explain_topk(3)


def q_search_after_topk(spark, sf_dir):
    """Cursor pagination: page 2 via the search_after filter under the
    salted top-k (queryeng/explain.py) — must equal ranks 11..20 of the
    canonical ordering exactly."""
    from .queryeng.explain import search_after

    idx = get_index(spark, sf_dir)
    scored = bm25_score_all(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    page1 = _rounded_rank_topk(scored, 10)
    cursors = page1.where(F.col("rank") == 10).select(
        "qid",
        F.col("score").alias("after_score"),
        F.col("doc_id").alias("after_doc_id"),
    )
    page2 = search_after(scored, cursors, 10)
    return page2.select(
        "qid", "doc_id", F.round("score", 6).alias("score"), "rank"
    )


QUERIES["search_after_topk"] = q_search_after_topk
ORACLE_SQL["search_after_topk"] = osql.sql_search_after_topk(10)


QUERIES["did_you_mean_topk"] = q_did_you_mean_topk
ORACLE_SQL["did_you_mean_topk"] = osql.sql_did_you_mean_topk(10)


QUERIES["bm25_topk_pruned"] = q_bm25_topk_pruned
ORACLE_SQL["bm25_topk_pruned"] = osql.sql_bm25_topk_pruned(10, 20)


def q_bm25f_topk(spark, sf_dir):
    """Field-weighted BM25F retrieval: title tokens (positional field
    view of the flat documents table) weighted 2×, body 1×
    (queryeng/bm25f.py)."""
    from .corpus import load_documents
    from .queryeng.bm25f import bm25f_score_all, fielded_counts

    docs = load_documents(spark, sf_dir)
    fc = fielded_counts(docs, title_tokens=8)
    scored = bm25f_score_all(_qt(spark, stem=False), fc, docs)
    return _rounded_rank_topk(scored, 10)


QUERIES["bm25f_topk"] = q_bm25f_topk
ORACLE_SQL["bm25f_topk"] = osql.sql_bm25f_topk(10, 8, 2.0, 1.0)


def q_phrase_topk(spark, sf_dir):
    """Quoted-phrase search over the positional index — exact adjacency
    on the unfiltered normalized token stream, ranked by phrase
    frequency (queryeng/phrase.py)."""
    from .queryeng.phrase import phrase_topk, positional_index

    pos = positional_index(load_documents(spark, sf_dir))
    phrases = {qid: p.split() for qid, p in osql.PHRASESET.items()}
    return phrase_topk(pos, phrases, k=10)


QUERIES["phrase_topk"] = q_phrase_topk
ORACLE_SQL["phrase_topk"] = osql.sql_phrase_topk(10)


def q_phrase_near_topk(spark, sf_dir):
    """Proximity ("near") phrase search: ordered occurrence with at most
    one intervening token between consecutive terms
    (queryeng/phrase.py, max_gap=1)."""
    from .queryeng.phrase import phrase_topk, positional_index

    pos = positional_index(load_documents(spark, sf_dir))
    phrases = {qid: p.split() for qid, p in osql.PHRASESET.items()}
    return phrase_topk(pos, phrases, k=10, max_gap=1)


QUERIES["phrase_near_topk"] = q_phrase_near_topk
ORACLE_SQL["phrase_near_topk"] = osql.sql_phrase_near_topk(10, 1)


def q_bm25_topk_conjunctive(spark, sf_dir):
    """AND-semantics retrieval: BM25 top-10 over docs containing ALL of
    the query's known terms (queryeng/metadata.conjunctive_scores)."""
    from .queryeng.metadata import conjunctive_scores

    idx = get_index(spark, sf_dir)
    scored = conjunctive_scores(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["bm25_topk_conjunctive"] = q_bm25_topk_conjunctive
ORACLE_SQL["bm25_topk_conjunctive"] = osql.sql_bm25_topk_conjunctive(10)


def q_bm25_topk_msm(spark, sf_dir):
    """minimum_should_match retrieval (Lucene's msm, the web-search
    middle ground between OR and AND): BM25 top-10 over docs matching at
    least min(2, #known-terms) of the query's distinct known terms —
    same plan as conjunctive_scores, the requirement rides the one
    aggregation as a post-agg filter."""
    from .queryeng.metadata import conjunctive_scores

    idx = get_index(spark, sf_dir)
    scored = conjunctive_scores(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl, min_match=2,
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["bm25_topk_msm"] = q_bm25_topk_msm
ORACLE_SQL["bm25_topk_msm"] = osql.sql_bm25_topk_msm(10, 2)


def q_bm25_topk_negated(spark, sf_dir):
    """NOT-semantics retrieval: standard BM25 top-10 minus docs matching
    any of the qid's negated terms (queryeng/metadata.negated_scores)."""
    from .queryeng.metadata import negated_scores
    from .queryeng.pipeline import qterms_df

    idx = get_index(spark, sf_dir)
    neg = qterms_df(spark, osql.NEG_QUERYSET, stem=False)
    scored = negated_scores(
        _qt(spark, stem=False), neg, idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["bm25_topk_negated"] = q_bm25_topk_negated
ORACLE_SQL["bm25_topk_negated"] = osql.sql_bm25_topk_negated(10)


# distance-1 misspellings of corpus vocabulary + one unmatchable term
SPELL_TERMS = ("spak", "shufle", "joim", "windoq", "merg", "zzzz")
AUTOCOMPLETE_PREFIXES = ("sp", "wi", "qu")


def q_spell_suggest(spark, sf_dir):
    """Did-you-mean: deletion-key banded candidates + bounded levenshtein
    verify over the dictionary (queryeng/spell.py)."""
    from .queryeng.spell import spell_suggest

    idx = get_index(spark, sf_dir)
    terms = spark.createDataFrame([(t,) for t in SPELL_TERMS], "term string")
    return spell_suggest(terms, idx.dictionary, top_n=3)


QUERIES["spell_suggest"] = q_spell_suggest
ORACLE_SQL["spell_suggest"] = osql.sql_spell_suggest(SPELL_TERMS, 3)


def q_autocomplete(spark, sf_dir):
    """Prefix autocomplete: most frequent dictionary completions — the
    range-scan form (term >= p AND term < p⁺ pushes into the dictionary
    scan; queryeng/spell.autocomplete_terms)."""
    from .queryeng.spell import autocomplete_terms

    idx = get_index(spark, sf_dir)
    return autocomplete_terms(
        idx.dictionary, list(AUTOCOMPLETE_PREFIXES), top_n=5
    )


QUERIES["autocomplete"] = q_autocomplete
ORACLE_SQL["autocomplete"] = osql.sql_autocomplete(AUTOCOMPLETE_PREFIXES, 5)


_PCACHE: dict[str, str] = {}


def q_bm25_topk_wand_filtered(spark, sf_dir):
    """Filtered retrieval on the PRODUCTION path: lang-partitioned
    serving index, lang='en' query touches only parts/en (partition
    pruning, no filter join) — score-identical to the semi-join plan, so
    it shares sql_bm25_topk_filtered's oracle
    (indexing/partitioned.py)."""
    from .indexing.partitioned import (
        build_partitioned_serving,
        wand_topk_partitioned,
    )

    if sf_dir not in _PCACHE:
        p = scratch_dir("themis_parts_") + "/pidx"
        build_partitioned_serving(
            load_documents(spark, sf_dir).select("doc_id", "text", "lang"),
            p, "lang", stem=False, chunk_bits=8, partitions=8,
        )
        _PCACHE[sf_dir] = p
    wide = wand_topk_partitioned(
        spark, _PCACHE[sf_dir], _qt(spark, stem=False), ["en"], k=30,
    )
    return _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)


QUERIES["bm25_topk_wand_filtered"] = q_bm25_topk_wand_filtered
ORACLE_SQL["bm25_topk_wand_filtered"] = osql.sql_bm25_topk_filtered(
    10, "dd.lang = 'en'"
)


def q_related_terms(spark, sf_dir):
    """Related-searches surface: top-5 PMI co-occurring terms per query
    over the match set (queryeng/related.py)."""
    from .queryeng.related import related_terms

    idx = get_index(spark, sf_dir)
    return related_terms(
        _qt(spark, stem=False), idx.postings_flat, idx.counts,
        idx.dictionary, idx.n_docs, top_n=5, min_df=2,
    )


QUERIES["related_terms"] = q_related_terms
ORACLE_SQL["related_terms"] = osql.sql_related_terms(5, 2)


def q_collapse_topk(spark, sf_dir):
    """Diversified retrieval: BM25 top-10 with at most 2 results per
    source per query (queryeng/metadata.collapse_topk)."""
    from .queryeng.metadata import collapse_topk

    idx = get_index(spark, sf_dir)
    scored = bm25_score_all(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    return collapse_topk(
        scored, load_documents(spark, sf_dir), "source", 2, 10
    )


QUERIES["collapse_topk"] = q_collapse_topk
ORACLE_SQL["collapse_topk"] = osql.sql_collapse_topk(10, "source", 2)


def q_grouped_topk(spark, sf_dir):
    """Group-major retrieval (ES collapse+inner_hits / top_hits): top-5
    sources per query ranked by their best doc, each with its inner
    top-3 (queryeng/metadata.grouped_topk)."""
    from .queryeng.metadata import grouped_topk

    idx = get_index(spark, sf_dir)
    scored = bm25_score_all(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    return grouped_topk(
        scored, load_documents(spark, sf_dir), "source", 5, 3
    )


QUERIES["grouped_topk"] = q_grouped_topk
ORACLE_SQL["grouped_topk"] = osql.sql_grouped_topk(5, 3, "source")


FIELDED_QUERYSET: dict[int, str] = {
    1: "lang:en spark shuffle partition",
    2: "source:src3 query engine",
    3: "spark sql join",                    # no filter: plain retrieval
    4: "lang:de source:src0 spark",        # two ANDed restrictions
    5: "lang:xx spark",                    # filter matches nothing → 0 rows
    6: "-lang:en spark shuffle",           # exclusion-only (Lucene -field:)
    7: "source:src1 -lang:zh spark",       # mixed include + exclude
}


def q_fielded_topk(spark, sf_dir):
    """Fielded query syntax (queryeng/fielded.py): Lucene-style
    field:value restrictions mixed with free text, heterogeneous per
    query, one plan for the batch; oracle compiles the SAME parse to a
    per-qid CASE over the documents attributes."""
    from .queryeng.fielded import fielded_topk

    idx = get_index(spark, sf_dir)
    return fielded_topk(
        spark, FIELDED_QUERYSET, idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl, load_documents(spark, sf_dir),
        k=10, round_dp=6,
    )


QUERIES["fielded_topk"] = q_fielded_topk
ORACLE_SQL["fielded_topk"] = osql.sql_fielded_topk(FIELDED_QUERYSET, 10)


def q_snippets_topk(spark, sf_dir):
    """Q10 gap closed: doc fetch (IN-pushed point lookup) + KWIC snippet
    around the first query-term occurrence, over the BM25 top-5
    (queryeng/snippets.py)."""
    from .queryeng.snippets import kwic_snippets

    idx = get_index(spark, sf_dir)
    qt = _qt(spark, stem=False)
    scored = bm25_score_all(
        qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl,
    )
    hits = _rounded_rank_topk(scored, 5)
    return kwic_snippets(hits, load_documents(spark, sf_dir), qt)


QUERIES["snippets_topk"] = q_snippets_topk
ORACLE_SQL["snippets_topk"] = osql.sql_snippets_topk(5, 30, 80)


def q_s2_extract(spark, sf_dir):
    """S2 source end-to-end: JSONL → schema-on-read parse with the
    reference's missing-field defaults → P1 field concat. Runs over the
    checked-in fixture (sf_dir-independent); DuckDB parses the same file
    independently."""
    from .sources import read_s2_jsonl, s2_doc_text

    return s2_doc_text(read_s2_jsonl(spark, osql.S2_FIXTURE))


QUERIES["s2_extract"] = q_s2_extract
ORACLE_SQL["s2_extract"] = osql.sql_s2_extract()


# training-data pipeline operators (dedup / ANN / text analysis / media)
from .registry_ops import OPS_ORACLE_SQL, OPS_QUERIES  # noqa: E402

QUERIES["bm25_topk_deleted"] = q_bm25_topk_deleted
ORACLE_SQL["bm25_topk_deleted"] = osql.sql_bm25_topk_deleted(10)
QUERIES["compacted_deletes_topk"] = q_compacted_deletes_topk
ORACLE_SQL["compacted_deletes_topk"] = osql.sql_compacted_deletes_topk(10)
QUERIES["recrawl_update_topk"] = q_recrawl_update_topk
ORACLE_SQL["recrawl_update_topk"] = osql.sql_recrawl_update_topk(10)
QUERIES["recrawl_compacted_topk"] = q_recrawl_compacted_topk
ORACLE_SQL["recrawl_compacted_topk"] = osql.sql_recrawl_compacted_topk(10)

PREFIX_QUERYSET = {1: "spar", 2: "sh", 3: "optimiz", 4: "qu"}


def q_prefix_topk(spark, sf_dir):
    """Wildcard (prefix) retrieval end-to-end (queryeng/spell.
    prefix_qterms): each prefix expands to its top-df dictionary
    completions through the RANGE-predicate dictionary scan — Lucene's
    PrefixQuery → BooleanQuery rewrite with a deterministic
    maxClauseCount cap — then the standard OR-scored BM25 plan with
    IN-list postings pushdown."""
    from .queryeng.spell import prefix_qterms

    idx = get_index(spark, sf_dir)
    qt = prefix_qterms(spark, idx.dictionary, PREFIX_QUERYSET, max_terms=16)
    scored = bm25_score_all(
        qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["prefix_topk"] = q_prefix_topk
ORACLE_SQL["prefix_topk"] = osql.sql_prefix_topk(PREFIX_QUERYSET, 16, 10)

SUFFIX_QUERYSET = {1: "er", 2: "an", 3: "le", 4: "w"}


def q_suffix_topk(spark, sf_dir):
    """Leading-wildcard (*suffix) retrieval end-to-end
    (queryeng/spell.suffix_qterms): each suffix expands through the
    REVERSED-term dictionary's RANGE predicate (the Lucene
    ReversedWildcardFilter trick — an unanchored LIKE becomes a prefix
    scan on reverse(term)), capped df-desc like PrefixQuery's rewrite,
    then the standard OR-scored BM25 plan with IN-list postings
    pushdown."""
    from .queryeng.spell import suffix_qterms

    idx = get_index(spark, sf_dir)
    qt = suffix_qterms(spark, idx.dictionary, SUFFIX_QUERYSET, max_terms=16)
    scored = bm25_score_all(
        qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["suffix_topk"] = q_suffix_topk
ORACLE_SQL["suffix_topk"] = osql.sql_suffix_topk(SUFFIX_QUERYSET, 16, 10)

INFIX_QUERYSET = {1: "uer", 2: "trea", 3: "ind", 4: "olum"}


_GRAM_CACHE: dict[tuple[str, str], str] = {}


def _load_grams(spark, sf_dir, kind):
    """The persisted ``kind`` trigram artifact (trigram_terms or
    doc_trigrams) of ``sf_dir``, built once per (sf_dir, serving index)
    in the r5 serving form (gram-sorted parquet, queried via load_* +
    gram IN-list row-group pruning) so the infix/regex/grep queries
    exercise the PERSISTED path, not the derive-per-query fallback.
    Both artifacts are built from the sf_dir's serving index
    (:func:`_serving_bundle`) and stamped with its path: a rebuild at
    the same sf_dir in one process gets a new serving path and so new
    grams, and the load raises StaleSecondaryIndexError if the index
    moved past the stamp."""
    from .queryeng.grepdocs import load_doc_trigrams, save_doc_trigrams
    from .queryeng.trigram import load_trigram_terms, save_trigram_terms

    idx, serving_path = _serving_bundle(spark, sf_dir)
    key = (sf_dir, serving_path)
    if key not in _GRAM_CACHE:
        base = scratch_dir("themis_grams_")
        save_trigram_terms(idx.dictionary, f"{base}/trigram_terms",
                           serving_path=serving_path)
        save_doc_trigrams(
            load_documents(spark, sf_dir), f"{base}/doc_trigrams",
            serving_path=serving_path,
        )
        _GRAM_CACHE[key] = base
    load = {"trigram_terms": load_trigram_terms,
            "doc_trigrams": load_doc_trigrams}[kind]
    return load(spark, f"{_GRAM_CACHE[key]}/{kind}",
                serving_path=serving_path)


def q_infix_topk(spark, sf_dir):
    """Infix (*pattern*) retrieval end-to-end (queryeng/trigram.
    infix_qterms): each pattern's trigrams equi-join into the PERSISTED
    gram→term artifact (the Cox/pg_trgm vocabulary trigram index,
    save_trigram_terms — candidate generation linear in the matched gram
    postings, never a |V| LIKE scan; df joined live so the artifact
    carries no stale-able statistics), candidates verify with exact
    contains, cap df-desc like PrefixQuery's rewrite, then the standard
    OR-scored BM25 plan with IN-list postings pushdown."""
    from .queryeng.trigram import infix_qterms

    idx = get_index(spark, sf_dir)
    gt = _load_grams(spark, sf_dir, "trigram_terms")
    qt = infix_qterms(
        spark, idx.dictionary, INFIX_QUERYSET, max_terms=16, gram_table=gt
    )
    scored = bm25_score_all(
        qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["infix_topk"] = q_infix_topk
ORACLE_SQL["infix_topk"] = osql.sql_infix_topk(INFIX_QUERYSET, 16, 10)

FUZZY_QUERYSET = {1: "quer", 2: "scam", 3: "sprk", 4: "tables",
                  5: "hush", 6: "sort"}


def q_fuzzy_topk(spark, sf_dir):
    """Fuzzy (edit-distance-1) retrieval end-to-end
    (queryeng/spell.fuzzy_qterms): each query term expands through the
    SymSpell deletion-key equi-join to its full distance-1 dictionary
    neighborhood (candidate-bounded levenshtein verify, never a |V|
    scan per query), capped df-desc like the other MultiTermQuery
    rewrites, then the standard OR-scored BM25 plan with IN-list
    postings pushdown."""
    from .queryeng.spell import fuzzy_qterms

    idx = get_index(spark, sf_dir)
    qt = fuzzy_qterms(spark, idx.dictionary, FUZZY_QUERYSET, max_terms=16)
    scored = bm25_score_all(
        qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["fuzzy_topk"] = q_fuzzy_topk
ORACLE_SQL["fuzzy_topk"] = osql.sql_fuzzy_topk(FUZZY_QUERYSET, 16, 10)

REGEX_QUERYSET = {1: "quer(y|ies)", 2: "s.an", 3: ".*tab.*", 4: "colum.",
                  5: "filters?", 6: "(joi|has).*", 7: "ke(y|ys)"}


def q_regex_topk(spark, sf_dir):
    """Regex retrieval end-to-end (queryeng/regexsearch.regex_qterms):
    each full-match regex is trigram-planned driver-side (Cox code
    search) into an exact IN-list, a gram-index candidate join with a
    codegen AND/OR gram tree, or an honest per-query fallback scan;
    anchored-rlike verify on candidates only, df-desc maxClauseCount
    cap, then the standard OR-scored BM25 plan with IN-list postings
    pushdown. The queryset exercises all three lanes (exact: 1/5/7,
    grams incl. OR-tree: 3/4/6, scan: 2)."""
    from .queryeng.regexsearch import regex_qterms

    idx = get_index(spark, sf_dir)
    gt = _load_grams(spark, sf_dir, "trigram_terms")
    qt = regex_qterms(
        spark, idx.dictionary, REGEX_QUERYSET, max_terms=16, gram_table=gt
    )
    scored = bm25_score_all(
        qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["regex_topk"] = q_regex_topk
ORACLE_SQL["regex_topk"] = osql.sql_regex_topk(REGEX_QUERYSET, 16, 10)

COMPOUND_QUERYSET = {1: "hashjoin", 2: "sortmerge", 3: "bigdata",
                     4: "window", 5: "zzzz", 6: "scanline"}


def q_compound_topk(spark, sf_dir):
    """Decompounding retrieval (queryeng/spell.compound_split_qterms):
    unknown query terms rewrite to their best two-way dictionary split
    ("hashjoin" → hash join; split enumeration is broadcast query-side,
    dictionary probed by two equi-joins — never a |V| scan), known and
    unsplittable terms pass through, then the standard OR-scored BM25
    plan with IN-list postings pushdown."""
    from .queryeng.spell import compound_split_qterms

    idx = get_index(spark, sf_dir)
    qt = compound_split_qterms(spark, idx.dictionary, COMPOUND_QUERYSET)
    scored = bm25_score_all(
        qt, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["compound_topk"] = q_compound_topk
ORACLE_SQL["compound_topk"] = osql.sql_compound_topk(COMPOUND_QUERYSET, 10)

SDM_QUERYSET = {1: ["hash", "join"], 2: ["slow", "query"],
                3: ["sort", "merge", "join"]}


def q_sdm_topk(spark, sf_dir):
    """Sequential dependence model retrieval (queryeng/sdm.py — Metzler
    & Croft SIGIR'05): λ_T·BM25 + ordered-adjacency and unordered-window
    proximity features over the positional index, log2(1+count)
    dampened; proximity legs LEFT-join the audited unigram plan (SDM
    never adds candidates BM25 didn't score), positional scan pruned to
    the batch's pair terms."""
    from .corpus import load_documents
    from .queryeng.phrase import positional_index
    from .queryeng.sdm import sdm_score_all

    idx = get_index(spark, sf_dir)
    pos = positional_index(load_documents(spark, sf_dir))
    scored = sdm_score_all(
        spark, SDM_QUERYSET, pos, idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["sdm_topk"] = q_sdm_topk
ORACLE_SQL["sdm_topk"] = osql.sql_sdm_topk(SDM_QUERYSET, (0.8, 0.1, 0.1), 8, 10)

QL_QUERYSET = {qid: s.split() for qid, s in osql.QUERYSET.items()}


def q_ql_topk(spark, sf_dir):
    """Dirichlet query-likelihood retrieval (queryeng/ql.py — Zhai &
    Lafferty, μ=2000): the third classic scorer next to BM25/VSM, via
    the sparse decomposition (present-term lifts + broadcast per-query
    constant − |q|·log2(dl+μ)) over raw counts; candidates are the
    standard OR set, cf is one IN-pushed aggregate, zero-cf terms drop
    like Lucene's LMDirichletSimilarity."""
    from .queryeng.ql import ql_score_all

    idx = get_index(spark, sf_dir)
    scored = ql_score_all(
        spark, QL_QUERYSET, idx.counts, idx.doc_stats, mu=2000.0
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["ql_topk"] = q_ql_topk
ORACLE_SQL["ql_topk"] = osql.sql_ql_topk(QL_QUERYSET, 2000.0, 10)


def q_prf_topk(spark, sf_dir):
    """Pseudo-relevance-feedback retrieval end-to-end (queryeng/prf):
    first-pass BM25 picks fb_docs pseudo-relevant docs per query (salted
    rounded top-k), Rocchio-lifts their top positive-weight terms from a
    doc_id-IN-pushed forward scan, interpolates originals·alpha with
    expansion·(1-alpha)/max_w, and re-runs the weighted BM25 plan —
    inherently two Spark jobs, both audited shapes."""
    from .queryeng.prf import prf_topk

    idx = get_index(spark, sf_dir)
    return prf_topk(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl, k=10,
        fb_docs=5, fb_terms=8, alpha=0.5,
    )


QUERIES["prf_topk"] = q_prf_topk
ORACLE_SQL["prf_topk"] = osql.sql_prf_topk(5, 8, 0.5, 10)

BOOLEAN_QUERYSET = {
    1: "spark AND join",
    2: "merge OR sort",
    3: "scan AND NOT filter",
    4: "(window OR group) AND order",
    5: "batch AND (stream OR merge) AND NOT slow",
    6: "fast vector",  # adjacency = implicit AND
}


def q_boolean_topk(spark, sf_dir):
    """Boolean query language end-to-end (queryeng/boolquery): AND/OR/
    NOT/parens parsed driver-side, the whole batch evaluated in ONE job
    — IN-pushed postings scan, broadcast qterms, one groupBy computing
    positive-BM25 sum + presence flags, per-qid compiled predicates in
    codegen; NOT is flag absence, never a corpus anti-join."""
    from .queryeng.boolquery import boolean_score_all

    idx = get_index(spark, sf_dir)
    scored = boolean_score_all(
        spark, BOOLEAN_QUERYSET, idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    return _rounded_rank_topk(scored, 10)


QUERIES["boolean_topk"] = q_boolean_topk
ORACLE_SQL["boolean_topk"] = osql.sql_boolean_topk(BOOLEAN_QUERYSET, 10)


def q_query_hit_count(spark, sf_dir):
    """The "about N results" count (queryeng/explain.total_hits): docs
    matching >= 1 query term — one IN-pushed scan + combinable
    count-distinct per query."""
    from .queryeng.explain import total_hits

    idx = get_index(spark, sf_dir)
    return total_hits(_qt(spark, stem=False), idx.postings_flat)


QUERIES["query_hit_count"] = q_query_hit_count
ORACLE_SQL["query_hit_count"] = osql.sql_total_hits()


def q_fold_tokens(spark, sf_dir):
    """Accent-folding analyzer pre-pass (textproc.fold_accents — the
    Lucene ASCIIFoldingFilter idea): Latin diacritics → ASCII in ONE
    codegen translate + ligature replaces, composed in front of the
    reference's ASCII-only P2, so 'café' indexes as 'cafe' instead of
    'caf'. Runs over the checked-in accented-webtext fixture
    (sf_dir-independent); both engines fold with the SAME map constants."""
    from .textproc import fold_accents, term_counts_native

    df = spark.read.schema("doc_id LONG, text STRING").json(
        osql.ACCENTS_FIXTURE
    )
    folded = df.select("doc_id", fold_accents(F.col("text")).alias("text"))
    return term_counts_native(folded).select(
        "doc_id", "term", F.col("cnt").cast("long").alias("cnt")
    )


QUERIES["fold_tokens"] = q_fold_tokens
ORACLE_SQL["fold_tokens"] = osql.sql_fold_tokens()


def q_cjk_tokens(spark, sf_dir):
    """CJK bigram analyzer (textproc.cjk_term_counts — the Lucene
    CJKAnalyzer idea): CJK runs survive normalization and index as
    overlapping character bigrams; Latin text takes the reference
    pipeline. Runs over the checked-in mixed-script webtext fixture
    (sf_dir-independent); both engines analyze with the SAME class
    constant."""
    from .textproc import cjk_term_counts

    df = spark.read.schema("doc_id LONG, text STRING").json(
        osql.CJK_FIXTURE
    )
    return cjk_term_counts(df)


QUERIES["cjk_tokens"] = q_cjk_tokens
ORACLE_SQL["cjk_tokens"] = osql.sql_cjk_tokens()

GREP_QUERYSET = {1: "hash join", 2: "sort merge", 3: "slow query",
                 4: "Big, DATA!"}


def q_grep_docs(spark, sf_dir):
    """Doc-grain substring search (queryeng/grepdocs.grep_docs): which
    documents contain this exact substring — token-boundary-spanning
    patterns no dictionary rewrite can serve. Candidates from the
    doc-grain trigram postings (gram IN-pushed scan + all-grams-present
    count), exact contains verify on candidates only, never a
    full-corpus LIKE."""
    from .corpus import load_documents
    from .queryeng.grepdocs import grep_docs

    gt = _load_grams(spark, sf_dir, "doc_trigrams")
    return grep_docs(
        spark, load_documents(spark, sf_dir), GREP_QUERYSET, gram_table=gt
    )


QUERIES["grep_docs"] = q_grep_docs
ORACLE_SQL["grep_docs"] = osql.sql_grep_docs(GREP_QUERYSET)

REGEX_GREP_QUERYSET = {1: "hash (join|agg)", 2: "jo.n",
                       3: "merge .*batch", 4: "s(low|mall) (query|scan)"}


def q_regex_grep(spark, sf_dir):
    """Doc-grain unanchored regex search (queryeng/grepdocs.regex_grep):
    grep with a regex — the substring grep's all-grams-present count
    generalized to the Cox AND/OR trigram tree, evaluated codegen-side
    over each candidate doc's matched-gram set from the (gram, doc_id)
    index; rlike verify on candidates only. The queryset exercises the
    OR tree (1, 4), the wildcard-gap AND tree (3), and the honest
    no-trigram fallback scan (2)."""
    from .corpus import load_documents
    from .queryeng.grepdocs import regex_grep

    gt = _load_grams(spark, sf_dir, "doc_trigrams")
    return regex_grep(
        spark, load_documents(spark, sf_dir), REGEX_GREP_QUERYSET,
        gram_table=gt,
    )


QUERIES["regex_grep"] = q_regex_grep
ORACLE_SQL["regex_grep"] = osql.sql_regex_grep(REGEX_GREP_QUERYSET)


def q_grep_snippets(spark, sf_dir):
    """KWIC snippets for grep hits (queryeng/grepdocs.grep_snippets):
    the grep candidate/verify plan plus one codegen locate/substring
    projection over the hit docs' normalized text — match position and
    a fixed window, never a second corpus pass."""
    from .corpus import load_documents
    from .queryeng.grepdocs import grep_snippets

    return grep_snippets(
        spark, load_documents(spark, sf_dir), GREP_QUERYSET,
        before=20, length=60,
    )


QUERIES["grep_snippets"] = q_grep_snippets
ORACLE_SQL["grep_snippets"] = osql.sql_grep_snippets(GREP_QUERYSET, 20, 60)


def q_index_fsck(spark, sf_dir):
    """Index consistency checker (indexing/fsck.verify_index): seven
    cross-table invariants — df vs postings counts, doc_stats vs counts
    rollups, tf range, orphan postings, global-stats reconciliation —
    each as a violation COUNT; all-zero ⇔ the four index tables are
    mutually consistent. The oracle recomputes the same invariants over
    its own derived tables, so both sides must report zeros."""
    from .indexing.fsck import verify_index

    return verify_index(get_index(spark, sf_dir))


QUERIES["index_fsck"] = q_index_fsck
ORACLE_SQL["index_fsck"] = osql.sql_index_fsck()


def q_bm25_topk_sql(spark, sf_dir):
    """The retrieval as ONE spark.sql statement over registered index
    views (queryeng/sqlapi): views are named logical plans, so Catalyst
    produces the same pruned/broadcast/codegen plan as the DataFrame
    form — pinned rank-identical by sharing bm25_topk's DuckDB oracle
    verbatim."""
    from .queryeng.sqlapi import bm25_topk_sql

    idx = get_index(spark, sf_dir)
    return bm25_topk_sql(spark, idx, _qt(spark, stem=False), k=10)


QUERIES["bm25_topk_sql"] = q_bm25_topk_sql
ORACLE_SQL["bm25_topk_sql"] = osql.sql_bm25_topk(10)

RANGE_FACET_EDGES = [0.0, 200.0, 400.0, 800.0, 100000.0]


def q_range_facets(spark, sf_dir):
    """Numeric histogram facet (queryeng/metadata.range_facets): per
    query, matching docs bucketed by n_chars over driver-known edges —
    the price-slider sidebar; one codegen CASE chain over the
    facet_counts candidate shape."""
    from .queryeng.metadata import range_facets

    idx = get_index(spark, sf_dir)
    return range_facets(
        _qt(spark, stem=False), idx.postings_flat,
        load_documents(spark, sf_dir), "n_chars", RANGE_FACET_EDGES,
    )


QUERIES["range_facets"] = q_range_facets
ORACLE_SQL["range_facets"] = osql.sql_range_facets("n_chars", RANGE_FACET_EDGES)



TREND_SPLIT_TS = 1546300800 + 500 * 3600


def q_trending_terms(spark, sf_dir):
    """Crawl-drift analytics (pipeline_ops/websnap.trending_terms): terms
    whose df surged between the early and late crawl windows — one
    combinable term groupBy over the index's per-doc counts with the
    fixture crawl timestamp attached row-locally (warc_ts_expr — no
    join), global top-n as TakeOrderedAndProject."""
    from .pipeline_ops.websnap import trending_terms, warc_ts_expr

    idx = get_index(spark, sf_dir)
    dt = idx.counts.select("doc_id", "term").withColumn(
        "warc_ts", warc_ts_expr()
    )
    return trending_terms(dt, TREND_SPLIT_TS, min_df=5, top_n=20)


QUERIES["trending_terms"] = q_trending_terms
ORACLE_SQL["trending_terms"] = osql.sql_trending_terms(5, 20)


def q_mmr_topk(spark, sf_dir):
    """MMR-diversified reranking (queryeng/mmr.py): the BM25 top-20 pool
    per query, greedily reranked by λ·rel − (1−λ)·max embedding-cosine
    to already-selected docs — one applyInPandas over qid groups, the
    greedy loop sequential per query, parallel across the batch. Oracle
    unrolls the greedy steps as CTEs (sql_mmr_topk)."""
    from .corpus import load_embeddings
    from .queryeng.mmr import mmr_rerank

    idx = get_index(spark, sf_dir)
    scored = bm25_score_all(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    pool = _rounded_rank_topk(scored, 20).select("qid", "doc_id", "score")
    embs = load_embeddings(spark, sf_dir).select("vec_id", "embedding")
    return mmr_rerank(pool, embs, k=5, lam=0.7)


QUERIES["mmr_topk"] = q_mmr_topk
ORACLE_SQL["mmr_topk"] = osql.sql_mmr_topk(5, 20, 0.7)


_FED_CACHE: dict[str, tuple] = {}


def q_federated_topk(spark, sf_dir):
    """Federated multi-index retrieval (queryeng/federated.py): the corpus
    split into two independently-built sub-indexes (even/odd doc_id), each
    scored with the MERGED global (df, N, avgdl), per-leg salted top-k,
    then a global merge — must hash-match the UNCHANGED single-index BM25
    oracle (sql_bm25_topk). Federation has to be invisible in the results;
    that is the whole correctness claim of the global-stats phase."""
    from .queryeng.federated import federated_topk

    if sf_dir not in _FED_CACHE:
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        halves = tuple(
            build_index(
                docs.where(F.pmod("doc_id", F.lit(2)) == i),
                stem=False, use_arrow=False,
            ).cache()
            for i in (0, 1)
        )
        _FED_CACHE[sf_dir] = halves
    return federated_topk(
        _qt(spark, stem=False), _FED_CACHE[sf_dir], k=10, round_dp=6
    )


QUERIES["federated_topk"] = q_federated_topk
ORACLE_SQL["federated_topk"] = osql.sql_bm25_topk(10)


def q_selective_topk(spark, sf_dir):
    """Selective search (queryeng/federated.py): CORI resource selection
    routes each query to its top-2 of 4 doc_id%4 shards; BM25 with MERGED
    global stats runs only on selected legs. The oracle replays the same
    belief formula, selection grain, and restricted scoring in SQL
    (sql_selective_topk) — recall loss from routing is part of the
    contract and identical on both sides."""
    from .queryeng.federated import selective_topk

    key = (sf_dir, 4)
    if key not in _FED_CACHE:
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        _FED_CACHE[key] = tuple(
            build_index(
                docs.where(F.pmod("doc_id", F.lit(4)) == i),
                stem=False, use_arrow=False,
            ).cache()
            for i in range(4)
        )
    return selective_topk(
        _qt(spark, stem=False), _FED_CACHE[key], k=10, m=2, round_dp=6
    )


QUERIES["selective_topk"] = q_selective_topk
ORACLE_SQL["selective_topk"] = osql.sql_selective_topk(10, 2, 4)


def q_query_difficulty(spark, sf_dir):
    """Pre-retrieval QPP (queryeng/qpp.py): idf-profile + ICTF + SCQ
    predictors per query from dictionary/collection stats only — the
    routing signal a selective/hedged serving tier reads before spending
    postings I/O. |C| comes from global_stats (n_docs·avgdl), no extra
    corpus aggregate."""
    from .queryeng.qpp import query_difficulty

    idx = get_index(spark, sf_dir)
    return query_difficulty(
        _qt(spark, stem=False), idx.dictionary, idx.counts,
        total_tokens=idx.n_docs * idx.avgdl,
    )


QUERIES["query_difficulty"] = q_query_difficulty
ORACLE_SQL["query_difficulty"] = osql.sql_query_difficulty()


_TIER_CACHE: dict[tuple[str, int], DataFrame] = {}  # (sf_dir, c) → tier


def q_tiered_topk(spark, sf_dir):
    """Tiered retrieval (queryeng/tiered.py): BM25 top-k over per-term
    champion lists (top-40 by rounded idf-free impact) — a head term
    contributes at most c candidates regardless of df. Scores keep full
    corpus stats summed over tier-surviving pairs (a lower bound, exact
    when every matched term's tier holds the doc); the oracle replays
    tier membership and the restricted scoring in SQL."""
    from .queryeng.tiered import champion_lists, tiered_topk

    idx = get_index(spark, sf_dir)
    key = (sf_dir, 40)
    if key not in _TIER_CACHE:
        _TIER_CACHE[key] = champion_lists(
            idx.postings_flat, idx.doc_stats, idx.avgdl, c=40
        ).cache()
    return tiered_topk(
        _qt(spark, stem=False), _TIER_CACHE[key], idx.dictionary,
        idx.doc_stats, idx.avgdl, k=10, round_dp=6,
    )


QUERIES["tiered_topk"] = q_tiered_topk
ORACLE_SQL["tiered_topk"] = osql.sql_tiered_topk(10, 40)


def q_tiered_fallback_topk(spark, sf_dir):
    """Tier-1 + fallback serving composite (queryeng/tiered.py): c=8 so
    some of the driver queries fill from the tier and others re-run on
    full postings — both legs exercised in one registered query; the
    oracle replays the under-filled detection and both rankings."""
    from .queryeng.tiered import champion_lists, tiered_topk_with_fallback

    idx = get_index(spark, sf_dir)
    key = (sf_dir, 8)
    if key not in _TIER_CACHE:
        _TIER_CACHE[key] = champion_lists(
            idx.postings_flat, idx.doc_stats, idx.avgdl, c=8
        ).cache()
    return tiered_topk_with_fallback(
        _qt(spark, stem=False), _TIER_CACHE[key], idx.postings_flat,
        idx.dictionary, idx.doc_stats, idx.avgdl, k=10, round_dp=6,
    )


QUERIES["tiered_fallback_topk"] = q_tiered_fallback_topk
ORACLE_SQL["tiered_fallback_topk"] = osql.sql_tiered_fallback_topk(10, 8)


def q_routed_topk(spark, sf_dir):
    """QPP-driven plan routing (queryeng/qpp.route_by_difficulty): the
    batch splits at the midpoint max_idf — queries with a rare anchor term
    take the naive IN-pushed plan (candidate set already small), head-
    term-only queries take the compressed-chunk plan (wand_topk).
    Routing picks the PHYSICAL plan only; both legs are rank-identical to the same
    naive SQL oracle, so the union must hash-match sql_bm25_topk
    unchanged — the correctness claim of plan routing is precisely that
    it is invisible in results."""
    from .indexing.compress import DEFAULT_CHUNK_BITS
    from .queryeng.qpp import query_difficulty, route_by_difficulty
    from .queryeng.wand import wand_topk

    idx = get_index(spark, sf_dir)
    qt = _qt(spark, stem=False)
    pred = query_difficulty(
        qt, idx.dictionary, idx.counts,
        total_tokens=idx.n_docs * idx.avgdl,
    )
    easy, hard = route_by_difficulty(pred)
    legs = []
    if easy:
        scored = bm25_score_all(
            qt.where(F.col("qid").isin(easy)), idx.postings_flat,
            idx.dictionary, idx.doc_stats, idx.avgdl,
        )
        legs.append(_rounded_rank_topk(scored, 10))
    if hard:
        comp = get_compressed(spark, sf_dir)
        wide = wand_topk(
            qt.where(F.col("qid").isin(hard)), comp, idx.dictionary,
            idx.avgdl, k=30, chunk_bits=DEFAULT_CHUNK_BITS,
        )
        legs.append(
            _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)
        )
    from functools import reduce

    return reduce(DataFrame.unionByName, legs)


QUERIES["routed_topk"] = q_routed_topk
ORACLE_SQL["routed_topk"] = osql.sql_bm25_topk(10)


def q_significant_terms(spark, sf_dir):
    """Result-set significant-terms aggregation (queryeng/mlt.py): JLH
    lift of each term in a query's BM25 top-10 foreground vs the corpus
    background — the related-searches / drill-down surface, computed
    from a broadcast foreground probe of the counts table."""
    from .queryeng.mlt import significant_terms

    idx = get_index(spark, sf_dir)
    scored = bm25_score_all(
        _qt(spark, stem=False), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl,
    )
    fg = _rounded_rank_topk(scored, 10)
    return significant_terms(
        fg, idx.counts, idx.dictionary, idx.n_docs,
        top_terms=5, min_fg=2,
    )


QUERIES["significant_terms"] = q_significant_terms
ORACLE_SQL["significant_terms"] = osql.sql_significant_terms(10, 5, 2)


def q_eval_significance(spark, sf_dir):
    """Paired randomization significance test (evalmetrics.py): does
    BM25 beat the boolean-OR ranker on AP over the wide eval queryset?
    Per-query APs from the same judged walk as eval_ap_ndcg; diffs
    quantized to 1e-6 and summed as integers so the 256 md5-signed
    permutation statistics are engine-exact."""
    from pyspark.sql.window import Window

    from .corpus import load_documents
    from .queryeng.evalmetrics import (
        ap_ndcg,
        paired_randomization_test,
        synthetic_judgments,
    )

    idx = get_index(spark, sf_dir)
    qt_eval = qterms_df(spark, osql.EVAL_QUERYSET, stem=False)
    judgments = synthetic_judgments(
        load_documents(spark, sf_dir).select("doc_id"), osql.EVAL_QUERYSET
    )
    scored = bm25_score_all(
        qt_eval, idx.postings_flat, idx.dictionary, idx.doc_stats, idx.avgdl
    )
    ranked_a = _rounded_rank_topk(scored, 20)
    hits = existential(qt_eval, idx.postings_flat)
    w = Window.partitionBy("qid").orderBy(F.asc("doc_id"))
    ranked_b = (
        hits.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 20)
        .select("qid", "doc_id", "rank")
    )
    ap_a = ap_ndcg(ranked_a, judgments).select("qid", "ap")
    ap_b = ap_ndcg(ranked_b, judgments).select("qid", "ap")
    return paired_randomization_test(ap_a, ap_b, "ap", rounds=256)


QUERIES["eval_significance"] = q_eval_significance
ORACLE_SQL["eval_significance"] = osql.sql_eval_significance(20, 256)


_FEDW_CACHE: dict[str, tuple] = {}


def q_federated_wand_topk(spark, sf_dir):
    """Federated serving over COMPRESSED on-disk indexes (queryeng/
    federated.federated_wand_topk): two independently-built serving
    indexes (even/odd halves, each with its own chunk layout and
    encode-time avgdl) queried through block-max WAND with merged global
    stats and per-leg bound scales — must hash-match the UNCHANGED
    single-index naive oracle, like every WAND plan."""
    from .indexing.build import build_and_save_serving, load_serving_index
    from .queryeng.federated import federated_wand_topk

    if sf_dir not in _FEDW_CACHE:
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        legs = []
        for i in (0, 1):
            p = scratch_dir("themis_fedw_") + "/idx"
            build_and_save_serving(
                docs.where(F.pmod("doc_id", F.lit(2)) == i), p,
                stem=False, partitions=16,
            )
            legs.append(load_serving_index(spark, p))
        _FEDW_CACHE[sf_dir] = tuple(legs)
    return federated_wand_topk(
        _qt(spark, stem=False), _FEDW_CACHE[sf_dir], k=10, round_dp=6,
    )


QUERIES["federated_wand_topk"] = q_federated_wand_topk
ORACLE_SQL["federated_wand_topk"] = osql.sql_bm25_topk(10)


def q_selective_wand_topk(spark, sf_dir):
    """Selective search on the serving path (queryeng/federated.
    selective_wand_topk): CORI-route to top-2 of 4 on-disk compressed
    legs, then WAND with merged stats — must hash-match the SAME
    selection oracle as the logical-table selective_topk (routing and
    scores are plan-independent; only the physical path differs)."""
    from .indexing.build import build_and_save_serving, load_serving_index
    from .queryeng.federated import selective_wand_topk

    key = (sf_dir, "w4")
    if key not in _FEDW_CACHE:
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        legs = []
        for i in range(4):
            p = scratch_dir("themis_selw_") + "/idx"
            build_and_save_serving(
                docs.where(F.pmod("doc_id", F.lit(4)) == i), p,
                stem=False, partitions=8,
            )
            legs.append(load_serving_index(spark, p))
        _FEDW_CACHE[key] = tuple(legs)
    return selective_wand_topk(
        _qt(spark, stem=False), _FEDW_CACHE[key], k=10, m=2, round_dp=6,
    )


QUERIES["selective_wand_topk"] = q_selective_wand_topk
ORACLE_SQL["selective_wand_topk"] = osql.sql_selective_topk(10, 2, 4)


_PIN_CACHE: dict[str, tuple] = {}


def q_snapshot_pinned_topk(spark, sf_dir):
    """Snapshot-isolated reader (indexing/merge.pin_serving_snapshot):
    base build over doc_id%4∈{0,2}, delta-merge %4==1 (the pinned
    generation), then a SECOND delta of %4==3 lands AFTER the pin — the
    pinned reader must rank exactly as a fresh build over the corpus
    WITHOUT the later delta (oracle: corpus_where doc_id%4<>3). Proves
    the reader is immune to commits that land after its pin."""
    from .indexing.build import build_and_save_serving
    from .indexing.merge import merge_serving_delta, pin_serving_snapshot
    from .queryeng.wand import wand_topk

    if sf_dir not in _PIN_CACHE:
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        p = scratch_dir("themis_pin_") + "/idx"
        build_and_save_serving(
            docs.where("doc_id % 4 in (0, 2)"), p, stem=False, partitions=8
        )
        merge_serving_delta(
            spark, p, docs.where("doc_id % 4 = 1"), stem=False, partitions=8
        )
        snap = pin_serving_snapshot(spark, p)  # pins gen 1
        merge_serving_delta(  # lands after the pin: must stay invisible
            spark, p, docs.where("doc_id % 4 = 3"), stem=False, partitions=8
        )
        _PIN_CACHE[sf_dir] = (snap,)
    (snap,) = _PIN_CACHE[sf_dir]
    wide = wand_topk(
        _qt(spark, stem=False), snap.compressed, snap.dictionary,
        snap.avgdl, k=30, chunk_bits=snap.chunk_bits,
    )
    return _rounded_rank_topk(wide.select("qid", "doc_id", "score"), 10)


QUERIES["snapshot_pinned_topk"] = q_snapshot_pinned_topk
ORACLE_SQL["snapshot_pinned_topk"] = osql.sql_snapshot_pinned_topk(10)

QUERIES.update(OPS_QUERIES)
ORACLE_SQL.update(OPS_ORACLE_SQL)


def flagship(spark: SparkSession) -> DataFrame:
    """Stemmed Arrow-path BM25 top-10 batch on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    idx = get_index(spark, sf_dir, stem=True)
    return bm25_topk(
        _qt(spark, stem=True), idx.postings_flat, idx.dictionary,
        idx.doc_stats, idx.avgdl, k=10,
    )
