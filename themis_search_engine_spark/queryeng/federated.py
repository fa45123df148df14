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

Plan shape per sub-index is the standard batch plan (bm25.bm25_score_all:
IN-list pushdown into the postings scan, broadcast qterms⋈dictionary, one
partial-agg shuffle). The cross-index union touches only per-index top-k
rows — |indexes|·|queries|·k, not postings — so federation adds no wide
shuffle. At cluster scale each sub-index keeps its own bucketing; nothing
is co-partitioned across indexes.

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


def _batch_terms(qterms: DataFrame, term_list: list[str] | None) -> list:
    """The batch's distinct terms: ``term_list`` if the caller knows it,
    else ONE collect (not one per leg)."""
    if term_list is not None:
        return term_list
    return [r["term"] for r in qterms.select("term").distinct().collect()]


def _wand_leg(qterms, ix, gdict, avgdl, k, terms) -> DataFrame:
    """(qid, doc_id, score) top-``k`` of one compressed leg under the
    merged global stats, raw grain, with the leg's own scan-filter
    decision (federated_wand_topk docstring)."""
    from .planner import choose_scan_filter
    from .wand import wand_topk

    use_inlist = choose_scan_filter(
        len(terms), getattr(ix, "n_terms", -1)
    )["filter"] == "inlist"
    return wand_topk(
        qterms, ix.compressed, gdict, avgdl, k=k,
        chunk_bits=ix.chunk_bits, term_list=terms, inlist=use_inlist,
    ).select("qid", "doc_id", "score")


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
    """(qid, doc_id, score, rank): federated top-k over COMPRESSED
    serving indexes (indexing.build.ServingIndex / load_serving_index)
    through the one-pass chunk plan (wand.wand_topk) — the production
    path of the federated story: per-crawl indexes stay in their own
    on-disk chunk layouts, and only global stats are merged at query
    time. Exact scoring decodes lengths and uses the merged avgdl and
    idf, so scores are union-index-exact.

    Per-leg results over-fetch ``overfetch``·k at raw-score grain, then
    the global merge ranks at ``round_dp`` — the same wide-then-rounded
    pattern every registered WAND query uses.

    ``term_list``: the batch's distinct processed terms, if known
    driver-side — without it the vocabulary is collected ONCE here (one
    job, not one per leg). Each leg then takes the measured
    IN-list-vs-join-only scan-filter decision for ITS dictionary
    cardinality (planner.choose_scan_filter / INLIST_CROSSOVER.json):
    legs the batch vocabulary covers densely skip the 2× literal-
    predicate tax, sparse legs keep row-group pruning.
    """
    gdict, _n, avgdl = merged_global_stats(indexes)
    terms = _batch_terms(qterms, term_list)
    legs = [
        _wand_leg(qterms, ix, gdict, avgdl, overfetch * k, terms)
        for ix in indexes
    ]
    return _global_topk(legs, k, round_dp)


def selective_wand_topk(
    qterms: DataFrame,
    indexes,
    k: int = 10,
    m: int = 2,
    *,
    round_dp: int | None = None,
    overfetch: int = 3,
    term_list: list[str] | None = None,
) -> DataFrame:
    """Selective search on the SERVING path: CORI-route each query to
    its top-m compressed legs, then the one-pass chunk plan with merged
    global stats — :func:`selective_topk`'s routing composed with
    :func:`federated_wand_topk`'s physical plan. Same contracts: routing
    bounds recall, scores stay union-index-exact, unselected legs run
    zero tasks. ``term_list`` as in :func:`federated_wand_topk`. Every
    selected leg plants the FULL batch vocabulary into its scan (not
    just its routed sub-batch's terms) and takes its scan-filter decision
    from that vocabulary size vs ITS dictionary cardinality; the
    broadcast qterms join drops the other terms either way.
    """
    by_shard = _route(qterms, indexes, m)
    gdict, _n, avgdl = merged_global_stats(indexes)
    terms = _batch_terms(qterms, term_list)
    legs = [
        _wand_leg(
            qterms.where(F.col("qid").isin(by_shard[i])), ix, gdict, avgdl,
            overfetch * k, terms,
        )
        for i, ix in enumerate(indexes)
        if i in by_shard
    ]
    if not legs:
        spark = qterms.sparkSession
        return spark.createDataFrame(
            [], "qid long, doc_id long, score double, rank long"
        )
    return _global_topk(legs, k, round_dp)


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
