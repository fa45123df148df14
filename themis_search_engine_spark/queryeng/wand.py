"""BM25 top-k over compressed, range-chunked postings: one kernel, two
entry points.

The reference scores every candidate then fully sorts (OkapiBM25.java:
291-308). Both entry points here keep those semantics ("score
everything, sort, take k") and run the one slab kernel,
:func:`~themis_search_engine_spark.queryeng.sharded.score_rows`:

* :func:`wand_topk` — the DataFrame-input plan, for inputs with no
  persisted layout (``build_index`` output, registry queries, federated
  and partitioned legs). Each chunk row is joined ONCE with its term's
  qids and idf from a broadcast frame, rows are grouped by kernel
  window (``chunk // window_chunks(chunk_bits)``), and one
  ``applyInArrow`` call per window scores the whole batch and emits the
  window's top-k per query; a rank window takes the global top-k.
* :func:`wand_topk_local` — the kernel in-process over every chunk of a
  persisted layout, zero Spark jobs (planner.search_serving's ``local``
  plan and the interactive server).

No chunk is skipped: the kernel decodes every matched row once per
batch, so it needs no block-max bound. The layout still stores
``core_min``/``core_max``/``block_max`` and the merge bound scales
(indexing/merge.py); they are layout facts, not query-time inputs.

Plan note (measured; BATCH_PLANS.json, 1.2M docs / 4000 queries / 32
cores, per-row kernels of that round): sharded 460.9 q/s, a greedy
per-query early-exit plan 256.4, the one-pass plan 112.8. The slab
kernel beat the early-exit walk at every size measured since, so the
early-exit plans were removed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .sharded import (
    _OUT_SCHEMA,
    _score_shard,
    batch_terms,
    merge_topk,
    score_rows,
    window_chunks,
)


def _window_scorer(k: int, avgdl: float, chunk_bits: int, wchunks: int):
    def score_window(tbl: pa.Table) -> pa.Table:
        by_term, idf = {}, {}
        for t, qs, w in zip(tbl["term"].to_pylist(), tbl["qids"].to_pylist(),
                            tbl["idf"].to_pylist()):
            if t not in by_term:
                by_term[t], idf[t] = frozenset(qs), w
        lo = tbl["win"][0].as_py() * wchunks
        blob = score_rows(tbl, lo, by_term, idf, k, avgdl, chunk_bits)
        qa, da, sa = (
            np.frombuffer(b, dtype=dt) for b, dt in
            zip(blob or (b"", b"", b""), (np.int64, np.int64, np.float64))
        )
        return pa.table({"qid": qa.astype(np.int32), "doc_id": da,
                         "score": sa})

    return score_window


def wand_topk(
    qterms: DataFrame,
    compressed: DataFrame,
    dictionary: DataFrame,
    avgdl: float,
    k: int = 10,
    *,
    chunk_bits: int,
    term_list: list[str] | None = None,
    inlist: bool = True,
) -> DataFrame:
    """(qid, doc_id, score, rank) — top-k per query over compressed chunks
    in one scoring pass (module docstring). ``chunk_bits`` must be the
    layout's value: it maps chunk offsets back to doc ids.

    ``term_list``: the batch's distinct (already-stemmed) terms, if the
    caller knows them driver-side (qterms_df callers always do) — saves the
    collect job that would otherwise derive them.

    Scoring decodes dl_bytes and uses the current ``avgdl``, so
    multi-segment indexes whose chunk metadata was encoded under an older
    avgdl need no correction.
    """
    from .bm25 import MAX_PRUNE_LITERALS

    # plant the batch term set into the chunk scan (same pushdown as
    # bm25_score_all): parquet dictionary/row-group pruning on `term`
    terms = (
        term_list
        if term_list is not None
        else [r["term"] for r in qterms.select("term").distinct().collect()]
    )
    if inlist and 0 < len(terms) <= MAX_PRUNE_LITERALS:
        compressed = compressed.where(F.col("term").isin(list(terms)))
    # one row per term: its qids and idf ride along with each chunk row,
    # so a row is shipped and decoded once per batch, not once per query
    q = F.broadcast(
        qterms.select("qid", "term")
        .join(dictionary.select("term", "idf"), "term")
        .groupBy("term", "idf")
        .agg(F.collect_set("qid").alias("qids"))
    )
    wchunks = window_chunks(chunk_bits)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        compressed.select("term", "chunk", "df_chunk", "doc_bytes",
                          "cnt_bytes", "mc_bytes", "dl_bytes")
        .join(q, "term")
        .withColumn("win", F.expr(f"chunk div {wchunks}"))
        .groupBy("win")
        .applyInArrow(_window_scorer(k, avgdl, chunk_bits, wchunks),
                      _OUT_SCHEMA)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def wand_topk_local(
    comp_path: str,
    queries: dict[int, list[str]],
    idf_map: dict[str, float],
    avgdl: float,
    k: int = 10,
    *,
    chunk_bits: int,
    bound_scales: tuple[float, float] = (1.0, 1.0),
) -> pd.DataFrame:
    """The INTERACTIVE serving path: the slab kernel in-process over
    every chunk of the persisted index — ZERO Spark jobs per query.

    The reference serves interactive queries from a long-lived process
    holding its dictionary in RAM and seeking postings per term
    (Search.java's query loop); this is that shape on the chunked
    layout: pyarrow reads ONLY the query terms' row groups (the
    (term, chunk)-sorted files make the term IN-filter prune row groups
    before any byte is decompressed), then the kernel scores them. A
    cluster job launch costs ~0.5 s of scheduling alone; this path
    measures in milliseconds. Honest bound: the process materializes ALL
    of the query terms' chunk rows, so at 10^12 docs interactive serving
    fronts the doc-sharded layout with one local server per shard rather
    than one process over the whole index. Use
    queryeng.planner.search_serving for batches.

    ``idf_map``: hot dictionary (queryeng.sharded.collect_idf_map).
    ``bound_scales`` is accepted and ignored: the kernel skips no chunk,
    so stale block-max bounds cannot change its result.
    Returns a pandas frame (qid, doc_id, score, rank) ordered by
    (qid, rank) — no SparkSession involved.
    """
    by_term = batch_terms(queries, idf_map)
    blob = (
        _score_shard(comp_path, None, tuple(sorted(by_term)), by_term,
                     idf_map, k, avgdl, chunk_bits)
        if by_term else None
    )
    return merge_topk([blob], k)
