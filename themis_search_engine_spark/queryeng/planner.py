"""Physical plan selection for serving queries.

The engine serves BM25 top-k over a persisted compressed index with TWO
rank-identical physical plans, both running the one slab kernel
(:func:`~themis_search_engine_spark.queryeng.sharded.score_rows`);
PLANS.md records each shape:

* ``local``   — :func:`~themis_search_engine_spark.queryeng.wand.wand_topk_local`:
  the kernel in the driver process over every chunk of the index, no
  Spark job before, during or after the query.
* ``sharded`` — :func:`~themis_search_engine_spark.queryeng.sharded.wand_topk_sharded`:
  one Spark job, one task per doc-range shard, per-shard top-k merged on
  the driver.

Federated, selective and partitioned legs are saved layouts too: each
leg takes the same local-or-sharded choice on its own decode volume and
runs through :func:`_serve_layout`, scored with the federation's global
stats (queryeng/federated.py). Only inputs with no
persisted layout (in-memory compressed frames: registry queries, pinned
snapshots) call :func:`~themis_search_engine_spark.queryeng.wand.wand_topk`;
it runs the same kernel but is not a serving plan.

Volume rule. The kernel decodes each (term, chunk) row once per batch,
so its work is the batch's DECODE VOLUME: Σ df over the batch's distinct
priced terms, which dictionary pricing returns for free. A job costs a
fixed launch, task-scheduling and result-collect overhead and then
splits the decode over the cores. So the batch runs in-process while
the volume is at most :data:`LOCAL_MAX_VOLUME`, and shard-parallel
above it. A head term is not a special case: its df simply counts
toward the volume. The constant is measured (``SERVE_CROSSOVER.json``,
``scripts/serve_crossover.py``): seconds per batch of both plans across
batch sizes at 12k, 50k and 400k docs.

The reference has exactly one plan (Search.java's sequential loop); a
user switching over shouldn't need to learn two. :func:`choose_query_plan`
is the decision as a PURE function of its inputs, so tests pin it, and
:func:`search_serving` is the facade that reads the saved layout's
metadata, prices the batch, picks the plan, and runs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

PLANS = ("local", "sharded")
# largest decode volume (Σ df over the batch's priced terms) served
# in-process; SERVE_CROSSOVER.json has the measurement behind it
LOCAL_MAX_VOLUME = 800_000


def choose_query_plan(
    n_queries: int,
    *,
    max_df_frac: float = 0.0,
    interactive: bool = False,
    volume: int | None = None,
) -> dict:
    """{"plan": local|sharded, "reasons": [...]} — pure deterministic
    plan choice from the batch's decode ``volume`` (Σ df over its
    distinct priced terms).

    ``max_df_frac`` and ``interactive`` are the inputs of the earlier
    batch-size rule. They are still accepted so callers written against
    it keep working, and neither changes the choice: a head term counts
    toward the volume like any other term. Without a volume the choice
    is ``local``, the plan every measured batch below the crossover
    runs.
    """
    if n_queries <= 0:
        plan, why = "local", "empty batch"
    elif volume is None:
        plan, why = "local", (
            f"batch of {n_queries}, decode volume not given: in-process "
            "kernel"
        )
    elif volume <= LOCAL_MAX_VOLUME:
        plan, why = "local", (
            f"decode volume {volume} <= {LOCAL_MAX_VOLUME}: in-process "
            "kernel, no Spark job"
        )
    else:
        plan, why = "sharded", (
            f"decode volume {volume} > {LOCAL_MAX_VOLUME}: one job of "
            "doc-range shards pays for its launch"
        )
    return {"plan": plan, "reasons": [why]}


def search_serving(
    spark: SparkSession,
    path: str,
    queries: dict[int, list[str]],
    k: int = 10,
    *,
    plan: str | None = None,
) -> DataFrame:
    """(qid, doc_id, score, rank) — BM25 top-k over the saved serving
    index at ``path``, physical plan chosen by decode volume (override
    with ``plan`` in :data:`PLANS`; anything else raises ``ValueError``).
    Both plans are rank-identical (score desc, doc_id asc), so the
    choice is purely physical. ``queries``: qid → normalized (and
    stemmed, if the index is) term lists — queryeng.pipeline.query_term_map's
    shape.

    Cost before the query itself: two pyarrow reads, no Spark job —
    ``global_stats`` (1.2-1.5 ms on a 4-core box) and the dictionary
    rows of the batch's vocabulary through an IN filter (3.3 ms for the
    487 terms of a 200-query batch, 18 ms for a whole 4,983-term
    dictionary).
    Both are read fresh on every call, so a merge or compaction between
    two calls is seen by the second one. Layouts that predate persisted
    ``total_len``/``max_doc_id`` pay one Spark doc_stats scan instead.
    The ``local`` plan then runs no job at all: the result comes back as
    an Arrow-built driver-local frame.
    """
    from ..indexing.merge import _base_totals

    if plan is not None and plan not in PLANS:
        raise ValueError(f"unknown plan {plan!r}; have {PLANS}")
    g = _base_totals(spark, path)
    priced = _price_terms(path, {t for ts in queries.values() for t in ts})
    if plan is None:
        plan = choose_query_plan(
            len(queries), volume=sum(df for df, _ in priced.values())
        )["plan"]
    return _serve_layout(
        spark, path, queries, priced, g["avgdl"], k,
        chunk_bits=g["chunk_bits"], max_doc_id=g["max_doc_id"], plan=plan,
    )


def _serve_layout(
    spark: SparkSession,
    path: str,
    queries: dict[int, list[str]],
    priced: dict[str, tuple[int, float]],
    avgdl: float,
    k: int,
    *,
    chunk_bits: int,
    max_doc_id: int,
    plan: str,
) -> DataFrame:
    """(qid, doc_id, score, rank): top-``k`` of ``queries`` over the saved
    layout at ``path`` on its own ``chunk_bits``/``max_doc_id``, by
    ``plan``, scored with ``priced`` (term → (df, idf), :func:`_price_terms`'
    shape) and ``avgdl``; both may be a larger corpus's global stats
    (federated legs, partitions)."""
    from .sharded import result_frame, wand_topk_sharded
    from .wand import wand_topk_local

    idf = {t: w for t, (_, w) in priced.items()}
    comp_path = f"{path}/postings_comp"
    if plan == "sharded":
        return wand_topk_sharded(
            spark, comp_path, queries, None, avgdl, max_doc_id, k,
            chunk_bits=chunk_bits, idf_map=idf,
        )
    return result_frame(spark, wand_topk_local(
        comp_path, queries, idf, avgdl, k, chunk_bits=chunk_bits,
    ))


def _price_terms(path: str, vocab: set[str]) -> dict[str, tuple[int, float]]:
    """term → (df, idf) for the dictionary rows of ``vocab``: one pyarrow
    read with an IN filter, no Spark job. Terms absent from the
    dictionary are absent from the result."""
    if not vocab:
        return {}
    import pyarrow.parquet as pq

    from ..indexing.compress import _resolve_fs

    fs, p = _resolve_fs(f"{path}/dictionary")
    tbl = pq.read_table(
        p, filesystem=fs, columns=["term", "df", "idf"],
        filters=[("term", "in", sorted(vocab))],
    )
    return {
        t: (int(d), float(w))
        for t, d, w in zip(tbl["term"].to_pylist(), tbl["df"].to_pylist(),
                           tbl["idf"].to_pylist())
    }
