"""Federated multi-index retrieval: one logical query over several
independently-built inverted indexes, rank-identical to a single index
over the union corpus.

Why this exists at web scale: a 10^12-doc crawl is never one index build —
it's per-crawl / per-datacenter sub-indexes built at different times, and
the serving tier must query them together. Scoring each sub-index with its
LOCAL (df, N, avgdl) makes scores incomparable across indexes (the classic
distributed-IR pitfall; Elasticsearch's dfs_query_then_fetch exists for
exactly this). The fix is a global-stats phase — the reference engine
never needed one because it is single-index by construction
(Index.java:209-228 loads exactly one vocabulary), so this operator is a
Spark-first extension of its Q1-Q8 query family to the multi-index layout.

BM25's per-(term,doc) part splits cleanly into doc-local inputs (tf, dl —
stored in each sub-index's postings) and corpus-global inputs (idf from
(N, df), avgdl). So:

  1. merge stats: N = Σ N_i, avgdl = Σ N_i·avgdl_i / N (exact — each
     avgdl_i is Σ length / N_i), df(t) = Σ df_i(t); recompute idf on the
     merged (N, df). One groupBy over the union of the (tiny) dictionaries.
  2. score each sub-index with the GLOBAL dictionary + avgdl — the scores
     are then exactly what a single union index would produce.
  3. per-index top-k, then a global top-k over the union of candidates.
     Admissible: scores are globally comparable after step 2, and the
     per-index prune uses the SAME (score, doc_id) ordering grain as the
     final rank, so any doc in the global top-k ranks ≤ k inside its own
     index — nothing the global phase needs is ever dropped.

Two plan shapes, one per input kind:

  * logical legs (``build_index`` output) — :func:`federated_topk` and
    :func:`selective_topk` run the standard batch plan per sub-index
    (bm25.bm25_score_all: IN-list pushdown into the postings scan,
    broadcast qterms⋈dictionary, one partial-agg shuffle).
  * saved serving layouts (``ServingIndex``) — :func:`federated_wand_topk`
    and :func:`selective_wand_topk` serve each leg on its own layout
    (:func:`_serve_legs`) with the merged avgdl and the batch vocabulary's
    merged (df, idf), collected once per batch: dfs_query_then_fetch's
    global-stats phase, then per-partition top-k plus a global merge
    (REPOSE, PAPERS.md). indexing.partitioned serves its parts the same
    way.

The cross-index union touches only per-index top-k rows —
|indexes|·|queries|·k, not postings — so federation adds no wide
shuffle. Each sub-index keeps its own layout; nothing is co-partitioned
across indexes.

Correctness pin: the registered ``federated_topk`` splits the corpus in
two, builds two real indexes, and must hash-match the UNCHANGED
single-index oracle SQL (oracle_sql.sql_bm25_topk) — federation must be
invisible in the results.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .bm25 import TOPK_SALT, bm25_score_all
from .planner import _price_terms, _serve_layout, choose_query_plan


def merged_global_stats(indexes) -> tuple[DataFrame, int, float]:
    """(global_dictionary, n_docs_total, avgdl_global) across sub-indexes.

    The merged dictionary carries (term, df, idf) with df summed across
    indexes and idf recomputed on the merged N — the single-index idf
    formula (OkapiBM25.java:104-107) applied to union-corpus counts.
    """
    n_total = sum(int(ix.n_docs) for ix in indexes)
    total_len = sum(int(ix.n_docs) * float(ix.avgdl) for ix in indexes)
    avgdl = (total_len / n_total) if n_total else 0.0
    dicts = [ix.dictionary.select("term", "df") for ix in indexes]
    union = reduce(DataFrame.unionByName, dicts)
    gdict = (
        union.groupBy("term")
        .agg(F.sum("df").alias("df"))
        .withColumn(
            "idf",
            F.log2(
                (F.lit(float(n_total)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
    )
    return gdict, n_total, avgdl


def federated_scores(
    qterms: DataFrame, indexes, *, term_list: list[str] | None = None
) -> list[DataFrame]:
    """One (qid, doc_id, score) frame per sub-index, all scored with the
    merged global stats — globally comparable by construction."""
    gdict, _n, avgdl = merged_global_stats(indexes)
    return [
        bm25_score_all(
            qterms, ix.postings_flat, gdict, ix.doc_stats, avgdl,
            term_list=term_list,
        )
        for ix in indexes
    ]


def _global_topk(legs: list[DataFrame], k: int, round_dp) -> DataFrame:
    """(qid, doc_id, score, rank): global top-k over the union of per-leg
    candidate frames at the (round(score, round_dp) desc, doc_id asc)
    grain; ``round_dp=None`` ranks on raw scores."""
    merged = reduce(DataFrame.unionByName, legs)
    score_key = (
        F.round("score", round_dp) if round_dp is not None else F.col("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc(score_key), F.asc("doc_id"))
    out_score = (
        F.round("score", round_dp).alias("score")
        if round_dp is not None
        else F.col("score")
    )
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "doc_id", out_score, "rank")
    )


def _query_map(qterms: DataFrame) -> dict[int, list[str]]:
    """qid → terms: the batch in the kernel's input shape, one collect."""
    queries: dict[int, list[str]] = {}
    for r in qterms.select("qid", "term").collect():
        queries.setdefault(r["qid"], []).append(r["term"])
    return queries


def _merged_batch(qterms: DataFrame, indexes) -> tuple[dict, dict, float]:
    """(queries, priced, avgdl): the batch as :func:`_query_map`, its
    vocabulary's merged term → (df, idf) (planner._price_terms' shape,
    one collect) and the merged avgdl."""
    gdict, _n, avgdl = merged_global_stats(indexes)
    queries = _query_map(qterms)
    vocab = sorted({t for ts in queries.values() for t in ts})
    priced = {
        r["term"]: (int(r["df"]), float(r["idf"]))
        for r in gdict.where(F.col("term").isin(vocab))
        .select("term", "df", "idf").collect()
    } if vocab else {}
    return queries, priced, avgdl


def _serve_legs(spark, legs, priced, avgdl: float, k: int, *, leg_k: int,
                round_dp=None) -> DataFrame:
    """(qid, doc_id, score, rank): :func:`_global_topk` over the
    raw-grain top-``leg_k`` of every leg. A leg is (path, chunk_bits,
    max_doc_id, queries): a saved layout served on its own chunk layout
    (planner._serve_layout), scored with the batch's global ``priced``
    (term → (df, idf)) and ``avgdl``. Each leg takes search_serving's
    volume rule on its OWN df, one pyarrow read of its dictionary: the
    global df would overstate a leg's decode volume about |legs|-fold.
    No legs: zero rows with a non-empty result's schema."""
    frames = []
    for path, chunk_bits, max_doc_id, queries in legs:
        own = _price_terms(path, {t for ts in queries.values() for t in ts})
        plan = choose_query_plan(
            len(queries), volume=sum(df for df, _ in own.values())
        )["plan"]
        frames.append(_serve_layout(
            spark, path, queries, priced, avgdl, leg_k,
            chunk_bits=chunk_bits, max_doc_id=max_doc_id, plan=plan,
        ).select("qid", "doc_id", "score"))
    if not frames:
        return spark.createDataFrame(
            [], "qid int, doc_id long, score double, rank long"
        )
    return _global_topk(frames, k, round_dp)


def federated_topk(
    qterms: DataFrame,
    indexes,
    k: int = 10,
    *,
    round_dp: int | None = None,
    term_list: list[str] | None = None,
) -> DataFrame:
    """(qid, doc_id, score, rank): global BM25 top-k over every sub-index.

    ``round_dp`` sets the ranking grain (round(score, dp) desc, doc_id
    asc) used by BOTH the per-index prune and the global merge — pass the
    engine-independence grain (6) when comparing against a SQL oracle;
    ``None`` ranks on raw scores (deterministic within one engine). Using
    one grain for both phases is what keeps the prune admissible: the
    global ordering restricted to one index IS that index's ordering, so
    the global top-k is contained in the union of per-index top-k.
    """
    legs = federated_scores(qterms, indexes, term_list=term_list)
    score_key = (
        F.round("score", round_dp) if round_dp is not None else F.col("score")
    )
    # Per-leg prune is itself salted (same two-phase trick as bm25.topk):
    # a head-term query's candidate set inside ONE sub-index is still
    # ~half that index, and a plain per-qid window would sort it in one
    # task. Salting by doc_id keeps every phase-1 sort at 1/TOPK_SALT the
    # size; admissibility is unchanged because all three windows use the
    # SAME (score_key desc, doc_id asc) grain — top-k restricted to a
    # salt bucket / a leg is that bucket's / leg's top-k.
    salt = F.pmod(F.col("doc_id"), F.lit(TOPK_SALT))
    w1 = Window.partitionBy("qid", "salt").orderBy(
        F.desc(score_key), F.asc("doc_id")
    )
    w = Window.partitionBy("qid").orderBy(F.desc(score_key), F.asc("doc_id"))
    pruned = [
        leg.withColumn("salt", salt)
        .withColumn("r", F.row_number().over(w1))
        .where(F.col("r") <= k)
        .drop("salt", "r")
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= k)
        .drop("r")
        for leg in legs
    ]
    return _global_topk(pruned, k, round_dp)


def federated_wand_topk(
    qterms: DataFrame,
    indexes,
    k: int = 10,
    *,
    round_dp: int | None = None,
    overfetch: int = 3,
    term_list: list[str] | None = None,
) -> DataFrame:
    """(qid, doc_id, score, rank): federated top-k over saved serving
    indexes (``ServingIndex``) — the production path of the federated
    story: per-crawl indexes stay in their own on-disk chunk layouts,
    and only global stats are merged at query time, so scores are
    union-index-exact (module docstring).

    Per-leg results over-fetch ``overfetch``·k at raw-score grain, then
    the global merge ranks at ``round_dp`` — the same wide-then-rounded
    pattern every registered WAND query uses.

    ``term_list`` is accepted and ignored: the one collect of ``qterms``
    already yields the vocabulary.
    """
    queries, priced, avgdl = _merged_batch(qterms, indexes)
    legs = [(ix.path, ix.chunk_bits, ix.max_doc_id, queries)
            for ix in indexes]
    return _serve_legs(qterms.sparkSession, legs, priced, avgdl, k,
                       leg_k=overfetch * k, round_dp=round_dp)


def selective_wand_topk(
    qterms: DataFrame,
    indexes,
    k: int = 10,
    m: int = 2,
    *,
    round_dp: int | None = None,
    overfetch: int = 3,
) -> DataFrame:
    """Selective search on the SERVING path: CORI-route each query to
    its top-m legs, then :func:`federated_wand_topk`'s per-leg plan with
    merged global stats — :func:`selective_topk`'s routing on the
    serving plan. Same contracts: routing bounds recall, scores stay
    union-index-exact, unselected legs read nothing, and each selected
    leg gets only the queries routed to it, so it reads only that
    sub-batch's vocabulary. A batch routed nowhere returns zero rows
    with a routed result's schema.
    """
    by_shard = _route(qterms, indexes, m)
    queries, priced, avgdl = _merged_batch(qterms, indexes)
    legs = [
        (ix.path, ix.chunk_bits, ix.max_doc_id,
         {q: queries[q] for q in by_shard[i]})
        for i, ix in enumerate(indexes) if i in by_shard
    ]
    return _serve_legs(qterms.sparkSession, legs, priced, avgdl, k,
                       leg_k=overfetch * k, round_dp=round_dp)


# --- selective search: CORI shard selection ---------------------------------
#
# At 10^3+ shards, querying EVERY sub-index per query wastes the cluster:
# most shards contribute nothing to a given query's top-k. Selective search
# (Kulkarni & Callan, SIGIR'10; the CORI resource-selection formula,
# Callan et al., SIGIR'95) ranks shards by a belief score computed from
# per-shard TERM STATISTICS ONLY — df_s(t), shard word count cw_s — and
# routes the query to the top-m shards. The stats tables are
# vocabulary-sized, not corpus-sized, so selection costs no postings I/O.

CORI_DB = 50.0   # CORI's df smoothing constant (b in the paper)
CORI_DK = 150.0  # CORI's cw scaling constant (k in the paper)


def shard_beliefs(qterms: DataFrame, indexes) -> DataFrame:
    """(qid, shard, sscore): CORI belief of each sub-index for each query.

    T = df_s / (df_s + 50 + 150·cw_s/avg_cw)   (df normalized by shard size)
    I = log2((n_shards + 0.5)/cf(t)) / log2(n_shards + 1)  (shard-level idf)
    sscore(q, s) = Σ_{t ∈ q, df_s(t) > 0} T·I

    Everything derives from the per-shard dictionaries (df) and one
    Σ length scalar per shard — no postings are touched. The per-shard
    (shard, cw) table is |shards| rows and broadcast; cf(t) is one
    vocabulary-sized groupBy. At 10³ shards × 10⁸ terms the stats union
    is ~10¹¹ rows worst-case but query-vocabulary-filtered first (the
    broadcast qterms semi-join below), so the belief job only ever
    aggregates |q-vocab|·|shards| rows.
    """
    n_shards = len(indexes)
    qv = F.broadcast(qterms.select("qid", "term").distinct())
    sdf = reduce(
        DataFrame.unionByName,
        [
            ix.dictionary.select(
                "term", F.col("df").alias("df_s"),
                F.lit(i).alias("shard"),
            )
            for i, ix in enumerate(indexes)
        ],
    ).join(qv.select("term").distinct(), "term")  # vocab-bounded early
    cws = [
        float(ix.doc_stats.agg(F.sum("length")).first()[0] or 0.0)
        for ix in indexes
    ]
    acw = sum(cws) / len(cws) if cws else 0.0
    spark = qterms.sparkSession
    cw_df = F.broadcast(
        spark.createDataFrame(
            [(i, cw) for i, cw in enumerate(cws)], "shard int, cw double"
        )
    )
    cf = sdf.groupBy("term").agg(F.count("*").alias("cf"))
    t_part = F.col("df_s") / (
        F.col("df_s") + F.lit(CORI_DB)
        + F.lit(CORI_DK) * F.col("cw") / F.lit(acw)
    )
    i_part = F.log2(F.lit(n_shards + 0.5) / F.col("cf")) / F.lit(
        math.log2(n_shards + 1.0)
    )
    return (
        qv.join(sdf, "term")
        .join(cw_df, "shard")
        .join(F.broadcast(cf), "term")
        .groupBy("qid", "shard")
        .agg(F.sum(t_part * i_part).alias("sscore"))
    )


def select_shards(
    qterms: DataFrame, indexes, m: int, *, round_dp: int = 6
) -> DataFrame:
    """(qid, shard): the top-m shards per query by rounded CORI belief
    (sscore desc, shard asc — the engine-independence grain). Queries
    whose terms live in fewer than m shards select fewer."""
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("sscore", round_dp)), F.asc("shard")
    )
    return (
        shard_beliefs(qterms, indexes)
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= m)
        .select("qid", "shard")
    )


def _route(qterms: DataFrame, indexes, m: int) -> dict[int, list]:
    """shard → the qids CORI selected it for (unselected shards absent)."""
    by_shard: dict[int, list] = {}
    for r in select_shards(qterms, indexes, m).collect():
        by_shard.setdefault(r["shard"], []).append(r["qid"])
    return by_shard


def selective_topk(
    qterms: DataFrame,
    indexes,
    k: int = 10,
    m: int = 2,
    *,
    round_dp: int | None = None,
) -> DataFrame:
    """(qid, doc_id, score, rank): federated BM25 top-k over ONLY each
    query's top-m CORI-selected shards. Scores still use the MERGED
    global stats, so any returned (qid, doc) score equals the union
    index's score for it exactly — selection bounds recall (that is its
    contract), never score fidelity.

    Routing is physical, not a post-filter: the (qid, shard) selection —
    ≤ |queries|·m rows, driver-trivial like qterms itself — is collected
    and each leg runs with only ITS queries' qterms; an unselected leg
    never scans a byte. That is the 10³-shard win: per-query fan-out is
    m, not |shards|.
    """
    by_shard = _route(qterms, indexes, m)
    gdict, _n, avgdl = merged_global_stats(indexes)
    score_key = (
        F.round("score", round_dp) if round_dp is not None else F.col("score")
    )
    salt = F.pmod(F.col("doc_id"), F.lit(TOPK_SALT))
    w1 = Window.partitionBy("qid", "salt").orderBy(
        F.desc(score_key), F.asc("doc_id")
    )
    legs = []
    for i, ix in enumerate(indexes):
        qids = by_shard.get(i)
        if not qids:
            continue  # leg not selected by any query: zero I/O
        qt_i = qterms.where(F.col("qid").isin(qids))
        scored = bm25_score_all(
            qt_i, ix.postings_flat, gdict, ix.doc_stats, avgdl
        )
        legs.append(
            scored.withColumn("salt", salt)
            .withColumn("r", F.row_number().over(w1))
            .where(F.col("r") <= k)
            .drop("salt", "r")
        )
    if not legs:
        spark = qterms.sparkSession
        return spark.createDataFrame(
            [], "qid long, doc_id long, score double, rank long"
        )
    return _global_topk(legs, k, round_dp)
