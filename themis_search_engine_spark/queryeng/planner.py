"""Physical plan selection for serving queries.

The engine has THREE rank-identical physical plans for BM25 top-k over a
persisted compressed index (PLANS.md records each shape):

* ``local``   — :func:`~themis_search_engine_spark.queryeng.wand.wand_topk_local`:
  in-process pyarrow WAND, ZERO Spark jobs; tens of milliseconds.
* ``single``  — :func:`~themis_search_engine_spark.queryeng.wand.wand_topk_single`:
  ONE Spark job, a task per query running true early-exit WAND.
* ``sharded`` — :func:`~themis_search_engine_spark.queryeng.sharded.wand_topk_sharded`:
  doc-range shards, decode-once-per-batch; the batch THROUGHPUT plan.

Inputs with no persisted layout (``build_index`` output, federated and
partitioned legs) call :func:`~themis_search_engine_spark.queryeng.wand.wand_topk`
directly; it is not a serving plan.

The reference has exactly one plan (Search.java's sequential loop); a
user switching over shouldn't need to learn three. :func:`choose_query_plan`
is the dispatcher decision as a PURE function — the inputs are the only
things the choice actually depends on (batch size, head-term pressure,
latency-vs-throughput intent), so tests pin the whole matrix — and
:func:`search_serving` is the facade that loads a saved index, prices the
query terms with one IN-filtered dictionary scan, picks the plan, and
runs it.

Head-term rule: the single-task plans (``local``, ``single``) serialize
each query in one process/task, so a query containing a term whose df
exceeds ``HEAD_DF_FRAC`` of the corpus would pull that term's full
postings through one lane — exactly the documented bound in
wand_topk_local's docstring. Such queries route to the shard-parallel
plan regardless of batch size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PLANS = ("local", "single", "sharded")
INTERACTIVE_MAX = 4   # largest interactive batch served in-process
SINGLE_MAX = 16       # largest batch served one task per query
HEAD_DF_FRAC = 0.05   # df fraction above which a term is a head term


def choose_query_plan(
    n_queries: int,
    *,
    max_df_frac: float = 0.0,
    interactive: bool = False,
) -> dict:
    """{"plan": local|single|sharded, "reasons": [...]} — pure
    deterministic plan choice.

    ``max_df_frac``: highest document-frequency fraction among the
    batch's terms (0 when nothing matched the dictionary).
    ``interactive``: caller wants latency (a serving loop), not batch
    throughput.
    """
    reasons = []
    head = max_df_frac > HEAD_DF_FRAC
    if head:
        reasons.append(
            f"head term: max df fraction {max_df_frac:.3f} > "
            f"{HEAD_DF_FRAC} — single-lane plans would serialize its "
            "full postings"
        )
    if interactive and n_queries <= INTERACTIVE_MAX:
        if head:
            reasons.append(
                "interactive head-term query served shard-parallel"
            )
            return {"plan": "sharded", "reasons": reasons}
        reasons.append(
            f"interactive batch of {n_queries} <= {INTERACTIVE_MAX}: "
            "in-process WAND, zero Spark jobs"
        )
        return {"plan": "local", "reasons": reasons}
    if n_queries <= SINGLE_MAX and not head:
        reasons.append(
            f"small batch {n_queries} <= {SINGLE_MAX}, no head term: "
            "one job, true early-exit WAND per query-task"
        )
        return {"plan": "single", "reasons": reasons}
    reasons.append(
        f"batch of {n_queries}: decode-once-per-batch doc-sharded "
        "throughput plan"
    )
    return {"plan": "sharded", "reasons": reasons}


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
    interactive: bool = False,
    plan: str | None = None,
) -> DataFrame:
    """(qid, doc_id, score, rank) — BM25 top-k over the saved serving
    index at ``path``, physical plan chosen automatically (override with
    ``plan`` in :data:`PLANS`; anything else raises ``ValueError``). All
    three plans are rank-identical (score desc, doc_id asc), so the
    choice is purely physical. ``queries``: qid → normalized (and
    stemmed, if the index is) term lists — queryeng.pipeline.query_term_map's
    shape.

    Cost before the query itself: one global_stats read (plus one
    doc_stats scan on layouts that predate persisted totals) and ONE
    IN-filtered dictionary scan bounded by the batch's vocabulary (the
    per-batch idf/df pricing). Long-lived serving loops should hoist
    both and call the plan functions directly (bench.py's hot form).
    """
    from ..indexing.merge import _base_totals, _scales_from
    from .sharded import wand_topk_sharded
    from .wand import wand_topk_local, wand_topk_single

    if plan is not None and plan not in PLANS:
        raise ValueError(f"unknown plan {plan!r}; have {PLANS}")
    g = _base_totals(spark, path)
    n_docs, avgdl, cb = g["n_docs"], g["avgdl"], g["chunk_bits"]

    vocab = sorted({t for ts in queries.values() for t in ts})
    priced = (
        spark.read.parquet(f"{path}/dictionary")
        .where(F.col("term").isin(vocab))
        .select("term", "df", "idf")
        .collect()
        if vocab else []
    )
    idf_map = {r["term"]: float(r["idf"]) for r in priced}
    max_df_frac = (
        max(int(r["df"]) for r in priced) / max(n_docs, 1) if priced else 0.0
    )

    chosen = plan or choose_query_plan(
        len(queries), max_df_frac=max_df_frac, interactive=interactive
    )["plan"]
    if chosen == "sharded":
        return wand_topk_sharded(
            spark, f"{path}/postings_comp", queries, None, avgdl,
            g["max_doc_id"], k, chunk_bits=cb, idf_map=idf_map,
        )
    bs = _scales_from(g)
    if chosen == "local":
        pdf = wand_topk_local(
            f"{path}/postings_comp", queries, idf_map, avgdl, k,
            chunk_bits=cb, bound_scales=bs,
        )
        return spark.createDataFrame(
            pdf, "qid int, doc_id long, score double, rank int"
        )
    comp = spark.read.parquet(f"{path}/postings_comp")
    use_inlist = (
        choose_scan_filter(len(vocab), g["n_terms"])["filter"] == "inlist"
    )
    return wand_topk_single(
        queries, comp, None, avgdl, k,
        chunk_bits=cb, idf_map=idf_map, bound_scales=bs,
        inlist=use_inlist,
    )
