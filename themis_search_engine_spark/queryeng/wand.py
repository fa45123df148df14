"""Block-max WAND top-k over compressed, range-chunked postings.

The reference scores every candidate then fully sorts (OkapiBM25.java:
291-308). The north rule asks for a block-max WAND *physical* design with
identical semantics ("score everything, sort, take k"). Three plans here
share one exact chunk scorer (:func:`_score_chunk_rows`):

* :func:`wand_topk` — the DataFrame-input plan, for inputs with no
  persisted layout (``build_index`` output, registry queries, federated
  and partitioned legs): one scoring pass over every matched chunk, no
  barriers, no pruning. Exact chunk scoring is applyInPandas per
  (qid, chunk): varbyte-decode each term's slice, accumulate into a dense
  per-offset float64 array (chunks are doc-range aligned across terms, so
  accumulation is O(postings) numpy scatter-add), emit the chunk-local
  top-k — a doc outside its chunk's top-k can't be in the global top-k.
* :func:`wand_topk_single` — sequential block-max WAND, one task per
  query: walk chunks in descending upper-bound order with a running
  threshold θ and stop at the first chunk whose bound is below θ.
* :func:`wand_topk_local` — the same sequential kernel in-process over
  the persisted layout, zero Spark jobs.

Chunk upper bounds come from chunk METADATA only (no posting bytes
touched). Per term, bound_t = max(idf·core_max, idf·core_min) (the min is
the tight one for negative idf). Per chunk the doc bound must respect OR
semantics — a doc matches any SUBSET of the query terms, so
ub = Σ_t max(bound_t, 0) when any bound is positive, else max_t bound_t
(with all-negative bounds, matching MORE terms only lowers the score, so
the best single term bounds every candidate; a plain Σ_t bound_t would
UNDER-estimate and skip the true top-k).

Plan note (measured; BATCH_PLANS.json, 1.2M docs / 4000 queries / 32
cores): sharded 460.9 q/s, greedy ``wand_topk_single`` 256.4, a phased
probe→θ→rest variant of :func:`wand_topk` 118.2, the one-pass plan 112.8.
The phased variant paid three synchronization barriers per job and no
dispatcher ever chose it, so it was removed; pruning lives in the
barrier-free per-query plans. For persisted layouts :mod:`.planner`
picks between two plans that both run the sharded slab kernel; the
per-row kernels here serve direct callers.

Rank/score identity with the naive DataFrame path is asserted in tests
(modulo float-sum order at ~1e-15, with deterministic doc_id tie-breaks).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..indexing.compress import DEFAULT_CHUNK_BITS, vb_decode

K1 = 2.0
B = 0.75

_SCORED_SCHEMA = StructType(
    [
        StructField("qid", IntegerType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
    ]
)


def _score_chunk_rows(
    pdf: pd.DataFrame, chunk_size: int, avgdl: float
) -> tuple[np.ndarray, np.ndarray]:
    """Exact-score ONE (qid, chunk)'s term rows → (offsets, scores).
    Deterministic accumulation order (by term); O(postings) numpy
    scatter-add into a dense per-offset array."""
    scores = np.zeros(chunk_size, dtype=np.float64)
    matched = np.zeros(chunk_size, dtype=bool)
    for _, row in pdf.sort_values("term").iterrows():
        deltas = vb_decode(row["doc_bytes"]).astype(np.int64)
        offs = np.cumsum(deltas)  # doc_id - base (first delta is offset)
        cnt = vb_decode(row["cnt_bytes"]).astype(np.float64)
        mc = vb_decode(row["mc_bytes"]).astype(np.float64)
        dl = vb_decode(row["dl_bytes"]).astype(np.float64)
        tf = cnt / mc
        idf = float(row["idf"])
        # ASSOCIATION INVARIANT: compute the core EXACTLY as the encoder
        # does (compress.bm25_core), THEN multiply idf — so for idf > 0,
        # score_i = idf·core_i <= idf·core_max = the stored chunk bound
        # at the FLOAT grain (IEEE multiply is monotonic). The other
        # association (idf·tf·… left-to-right) differs by ±1 ulp, which
        # made a block-max bound sit one ulp BELOW a real score and let
        # the greedy early-exit skip a doc that TIES the k-th place
        # (caught by the 1.2M-doc batch shootout rank check).
        part = idf * (
            tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        )
        scores[offs] += part
        matched[offs] = True
    offs = np.nonzero(matched)[0]
    return offs, scores[offs]


def _chunk_scorer(k: int, avgdl: float, chunk_bits: int):
    chunk_size = 1 << chunk_bits

    def score_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["qid"].iloc[0])
        base = int(pdf["chunk"].iloc[0]) << chunk_bits
        offs, sc = _score_chunk_rows(pdf, chunk_size, avgdl)
        if len(offs) > k:
            # chunk-local top-k by (score desc, doc_id asc)
            order = np.lexsort((offs, -sc))[:k]
            offs, sc = offs[order], sc[order]
        return pd.DataFrame(
            {"qid": qid, "doc_id": offs + base, "score": sc}
        )

    return score_chunk


def wand_topk(
    qterms: DataFrame,
    compressed: DataFrame,
    dictionary: DataFrame,
    avgdl: float,
    k: int = 10,
    *,
    chunk_bits: int = DEFAULT_CHUNK_BITS,
    term_list: list[str] | None = None,
    inlist: bool = True,
) -> DataFrame:
    """(qid, doc_id, score, rank) — top-k per query over compressed chunks
    in one scoring pass (module docstring).

    ``term_list``: the batch's distinct (already-stemmed) terms, if the
    caller knows them driver-side (qterms_df callers always do) — saves the
    collect job that would otherwise derive them.

    Scoring decodes dl_bytes and uses the current ``avgdl``, and no chunk
    is skipped, so multi-segment indexes whose chunk metadata was encoded
    under an older avgdl need no bound correction here (the pruning plans
    :func:`wand_topk_single` / :func:`wand_topk_local` take
    ``bound_scales`` for that).
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
    q = F.broadcast(qterms.select("qid", "term").join(
        dictionary.select("term", "idf"), "term"
    ))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        compressed.join(q, "term")
        .groupBy("qid", "chunk")
        .applyInPandas(_chunk_scorer(k, avgdl, chunk_bits), _SCORED_SCHEMA)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


_RANKED_SCHEMA = StructType(
    [
        StructField("qid", IntegerType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
        StructField("rank", IntegerType(), False),
    ]
)


def _query_wand_runner(
    k: int, avgdl: float, chunk_bits: int,
    bound_scales: tuple[float, float] = (1.0, 1.0),
):
    chunk_size = 1 << chunk_bits
    hi, lo = float(bound_scales[0]), float(bound_scales[1])

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["qid"].iloc[0])
        idf = pdf["idf"].to_numpy(dtype=np.float64)
        # per-term bound, then the OR-semantics chunk bound (module
        # docstring): Σ max(bound, 0) if any positive, else best single.
        # hi/lo keep stale multi-segment metadata sound
        # (wand_topk_single doc).
        contrib = np.maximum(
            idf * (pdf["core_max"].to_numpy(dtype=np.float64) * hi),
            idf * (pdf["core_min"].to_numpy(dtype=np.float64) * lo),
        )
        grp = pd.Series(contrib).groupby(pdf["chunk"].to_numpy())
        pos_sum = pd.Series(np.maximum(contrib, 0.0)).groupby(
            pdf["chunk"].to_numpy()
        ).sum()
        best_single = grp.max()
        ub = pos_sum.where(pos_sum > 0, best_single).sort_index()
        # descending ub, chunk asc tiebreak — the sequential WAND order
        order = sorted(ub.index, key=lambda c: (-ub[c], c))
        by_chunk = dict(tuple(pdf.groupby("chunk", sort=False)))

        top_ids = np.empty(0, dtype=np.int64)
        top_sc = np.empty(0, dtype=np.float64)
        theta = -np.inf
        for chunk in order:
            if len(top_ids) == k and ub[chunk] < theta:
                break  # no later chunk can reach the top-k (ub descending)
            offs, sc = _score_chunk_rows(by_chunk[chunk], chunk_size, avgdl)
            ids = offs + (int(chunk) << chunk_bits)
            all_ids = np.concatenate([top_ids, ids])
            all_sc = np.concatenate([top_sc, sc])
            sel = np.lexsort((all_ids, -all_sc))[:k]
            top_ids, top_sc = all_ids[sel], all_sc[sel]
            if len(top_ids) == k:
                theta = top_sc[-1]
        return pd.DataFrame(
            {
                "qid": qid,
                "doc_id": top_ids,
                "score": top_sc,
                "rank": np.arange(1, len(top_ids) + 1, dtype=np.int32),
            }
        )

    return run


def wand_topk_single(
    qterms: "DataFrame | dict[int, list[str]]",
    compressed: DataFrame,
    dictionary: DataFrame | None,
    avgdl: float,
    k: int = 10,
    *,
    chunk_bits: int = DEFAULT_CHUNK_BITS,
    term_list: list[str] | None = None,
    bound_scales: tuple[float, float] = (1.0, 1.0),
    idf_map: dict[str, float] | None = None,
) -> DataFrame:
    """The LATENCY plan: true sequential block-max WAND per query, ONE
    Spark job (scan → groupBy(qid) shuffle → one task per query).

    Each query's matched chunk rows gather in one task; the task walks
    chunks in descending upper-bound order, keeps a running top-k and
    threshold θ, and STOPS at the first chunk whose ub < θ — exactly the
    classic WAND loop, with no driver barrier between chunks. Use for
    interactive/small batches; parallelism is ACROSS queries, so a single
    head-term query over a 10^12-doc corpus serializes in one task — at
    that scale use queryeng.sharded.wand_topk_sharded (or wand_topk when
    no persisted layout exists).

    ``bound_scales`` = (hi, lo) with hi >= 1 >= lo: pruning-soundness
    factors for multi-segment indexes whose chunks were encoded under an
    older avgdl (indexing/merge.py module docstring derives them from the
    BM25 core's monotonicity in avgdl; merge.serving_bound_scales reads
    them for a saved index). They scale only the core_min/core_max
    pruning METADATA — exact scoring always decodes dl_bytes and uses the
    current ``avgdl``, so scores are unaffected; hi/lo merely keep stale
    upper bounds sound (at the cost of slightly looser skips).

    HOT-SERVING form: pass ``qterms`` as a driver-side ``{qid: [terms]}``
    map plus ``idf_map`` (queryeng.sharded.collect_idf_map — the
    reference's RAM-pinned vocabulary, Search.java's long-lived process).
    Instead of the dictionary scan+join, (qid, term, idf) is planted
    directly into the plan: for a SINGLE query as literal qid/idf-map
    Column expressions (no join, no broadcast exchange — the whole plan
    is scan → project → one qid shuffle → kernel), for multi-query
    batches as a broadcast literal frame. ``dictionary`` may be None in
    this form.

    Results are rank-identical to the naive path (score desc, doc_id asc,
    raw-score grain)."""
    from .bm25 import MAX_PRUNE_LITERALS

    if isinstance(qterms, dict):
        if idf_map is None:
            raise ValueError("dict-form qterms requires idf_map")
        rows = [
            (int(qid), t, float(idf_map[t]))
            for qid, ts in qterms.items()
            for t in sorted(set(ts))
            if t in idf_map
        ]
        terms = sorted({t for _, t, _ in rows})
        if len({r[0] for r in rows}) == 1:
            # single query: no join at all — qid is a literal, idf a
            # literal map lookup keyed on the scanned term column
            if 0 < len(terms) <= MAX_PRUNE_LITERALS:
                compressed = compressed.where(
                    F.col("term").isin(list(terms))
                )
            idf_lit = F.create_map(
                *[x for _, t, i in rows for x in (F.lit(t), F.lit(i))]
            )
            joined = compressed.withColumns(
                {"qid": F.lit(rows[0][0]), "idf": idf_lit[F.col("term")]}
            )
            # ONE stage, no shuffle: a single query's rows all land in
            # one task anyway (sequential WAND), so coalesce(1) narrows
            # the pruned scan into the kernel task directly instead of
            # paying a groupBy exchange + AQE replan per query (~0.2 s
            # of the ~0.6 s p50 at sf0.1). The matched rows are
            # |qterms|·chunks-sized — the pruned scan already bounded
            # them; this never funnels the corpus.
            runner = _query_wand_runner(k, avgdl, chunk_bits, bound_scales)

            def _single(batches):
                parts = [b for b in batches if len(b)]
                if parts:
                    yield runner(pd.concat(parts, ignore_index=True))

            return joined.coalesce(1).mapInPandas(_single, _RANKED_SCHEMA)
        spark = compressed.sparkSession
        q = F.broadcast(spark.createDataFrame(
            rows or [(None, None, None)],
            "qid int, term string, idf double",
        ).where("qid is not null"))
    else:
        terms = (
            term_list
            if term_list is not None
            else [
                r["term"]
                for r in qterms.select("term").distinct().collect()
            ]
        )
        q = F.broadcast(qterms.select("qid", "term").join(
            dictionary.select("term", "idf"), "term"
        ))
    if 0 < len(terms) <= MAX_PRUNE_LITERALS:
        compressed = compressed.where(F.col("term").isin(list(terms)))
    joined = compressed.join(q, "term")
    return joined.groupBy("qid").applyInPandas(
        _query_wand_runner(k, avgdl, chunk_bits, bound_scales), _RANKED_SCHEMA
    )


def wand_topk_local(
    comp_path: str,
    queries: dict[int, list[str]],
    idf_map: dict[str, float],
    avgdl: float,
    k: int = 10,
    *,
    chunk_bits: int = DEFAULT_CHUNK_BITS,
    bound_scales: tuple[float, float] = (1.0, 1.0),
) -> pd.DataFrame:
    """The INTERACTIVE serving path: sequential block-max WAND executed
    in-process on the persisted index — ZERO Spark jobs per query.

    The reference serves interactive queries from a long-lived process
    holding its dictionary in RAM and seeking postings per term
    (Search.java's query loop); this is that shape on the chunked
    layout: pyarrow reads ONLY the query terms' row groups (the
    (term, chunk)-sorted files make the term IN-filter prune row groups
    before any byte is decompressed), and the exact `_query_wand_runner`
    kernel the distributed single-task plan uses (same early-exit θ
    loop, same floats) scores them. A cluster job launch costs ~0.5 s of
    scheduling alone; this path measures in tens of milliseconds, and at
    10^12 docs it still reads only the query's terms' row groups —
    pointed at object storage it is the classic search-tier serving
    read. Honest bound: the process materializes ALL of the query terms'
    chunk rows, so a head-term query over a 10^12-doc corpus pulls that
    term's full compressed postings into one process — at that scale
    interactive serving fronts the doc-sharded layout with one local
    server per shard (each running exactly this function over its chunk
    range) rather than one process over the whole index. Use wand_topk /
    wand_topk_sharded for batch throughput.

    ``idf_map``: hot dictionary (queryeng.sharded.collect_idf_map).
    Returns a pandas frame (qid, doc_id, score, rank) — no SparkSession
    involved.
    """
    import pyarrow.parquet as pq

    vocab = sorted({
        t for ts in queries.values() for t in ts if t in idf_map
    })
    cols = ["term", "chunk", "core_min", "core_max", "doc_bytes",
            "cnt_bytes", "mc_bytes", "dl_bytes"]
    empty = pd.DataFrame(
        {"qid": pd.Series(dtype="int32"),
         "doc_id": pd.Series(dtype="int64"),
         "score": pd.Series(dtype="float64"),
         "rank": pd.Series(dtype="int32")}
    )
    if not vocab:
        return empty
    tbl = pq.read_table(
        comp_path, columns=cols, filters=[("term", "in", vocab)]
    ).to_pandas()
    if not len(tbl):
        return empty
    run = _query_wand_runner(k, avgdl, chunk_bits, bound_scales)
    out = []
    for qid, ts in queries.items():
        terms = [t for t in ts if t in idf_map]
        if not terms:
            continue
        pdf = tbl[tbl["term"].isin(terms)]
        if not len(pdf):
            continue
        pdf = pdf.assign(
            qid=np.int32(qid),
            idf=pdf["term"].map(idf_map).astype(np.float64),
        )
        out.append(run(pdf))
    return pd.concat(out, ignore_index=True) if out else empty
