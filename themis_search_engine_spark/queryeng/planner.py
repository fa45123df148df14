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

Inputs with no persisted layout (``build_index`` output, federated and
partitioned legs) call :func:`~themis_search_engine_spark.queryeng.wand.wand_topk`
directly; it runs the same kernel but is not a serving plan.

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


def choose_scan_filter(
    n_terms_batch: int,
    n_terms_dict: int,
    *,
    max_literals: int = 10_000,
    max_dict_frac: float = 0.1,
) -> dict:
    """{"filter": "inlist"|"join_only", "reasons": [...]} — should the
    batch vocabulary be planted into the chunk scan as a literal IN-list?

    Measured (INLIST_CROSSOVER.json, 300k docs, 1000-query batches over
    vocabulary samples): the IN-list pays while the batch vocabulary is a
    SMALL fraction of the dictionary (row-group pruning on the
    term-sorted layout skips most of the scan) and turns into pure
    overhead as coverage grows — at full-dictionary coverage it prunes
    nothing and costs >2x (predicate eval + plan bloat). The inner join
    with the broadcast qterms frame always applies either way, so
    dropping the IN-list never changes results (asserted per level in
    the artifact). ``n_terms_dict`` <= 0 means the layout predates the
    persisted dictionary cardinality — fall back to the literal cap
    alone (the pre-measurement rule). On a 10^12-doc index the pruning
    side of the trade only grows (more files to skip), so the default
    ``max_dict_frac`` is deliberately conservative.
    """
    reasons = []
    if n_terms_batch <= 0:
        return {"filter": "join_only", "reasons": ["empty batch vocab"]}
    if n_terms_batch > max_literals:
        reasons.append(
            f"{n_terms_batch} literals > {max_literals}: plan-size bound"
        )
        return {"filter": "join_only", "reasons": reasons}
    if n_terms_dict > 0 and n_terms_batch / n_terms_dict > max_dict_frac:
        reasons.append(
            f"batch vocab covers {n_terms_batch / n_terms_dict:.2f} of "
            f"the dictionary > {max_dict_frac}: scan pruning no longer "
            "pays for the predicate (INLIST_CROSSOVER.json)"
        )
        return {"filter": "join_only", "reasons": reasons}
    reasons.append(
        f"{n_terms_batch} literals, "
        + (
            f"{n_terms_batch / n_terms_dict:.3f} of the dictionary"
            if n_terms_dict > 0 else "dictionary size unknown"
        )
        + ": row-group pruning pays"
    )
    return {"filter": "inlist", "reasons": reasons}


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
    from .sharded import result_frame, wand_topk_sharded
    from .wand import wand_topk_local

    if plan is not None and plan not in PLANS:
        raise ValueError(f"unknown plan {plan!r}; have {PLANS}")
    g = _base_totals(spark, path)
    avgdl, cb = g["avgdl"], g["chunk_bits"]
    comp_path = f"{path}/postings_comp"

    priced = _price_terms(path, {t for ts in queries.values() for t in ts})
    idf = {t: w for t, (_, w) in priced.items()}
    chosen = plan or choose_query_plan(
        len(queries), volume=sum(df for df, _ in priced.values())
    )["plan"]
    if chosen == "sharded":
        return wand_topk_sharded(
            spark, comp_path, queries, None, avgdl, g["max_doc_id"], k,
            chunk_bits=cb, idf_map=idf,
        )
    return result_frame(spark, wand_topk_local(
        comp_path, queries, idf, avgdl, k, chunk_bits=cb,
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
