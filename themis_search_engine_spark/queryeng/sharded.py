"""Doc-sharded batch BM25 serving: one Spark task per set of doc-range
CHUNKS of the persisted compressed index, posting bytes never crossing
the JVM↔Python row bridge.

Why this plan exists (measured, BASELINE.md): the earlier bridge plan
(wand_topk grouped per (qid, chunk) through applyInPandas) shipped every
matched compressed chunk row through Spark's JVM→Python grouped-map
bridge — ~120 MB/s aggregate and barely scaling with cores — once PER
QUERY that matched it. On the 1.2M-doc scaling workload this plan served
134 q/s at 8 cores vs the bridge plan's 56, with identical results. It
is the same cure `compress_files` applied to the build: Spark stays the
scheduler/retry layer (``sc.parallelize(shards).map``) while each task
reads the index files directly with the pyarrow C++ reader and scores
in numpy.

Physical design (the classic document-partitioned serving tier — each
shard answers the whole batch over its doc range, only top-k rows travel):

  shard   = a contiguous RANGE of doc-range chunks (chunk = doc_id >>
            chunk_bits), near-equal split, so every (qid, chunk)
            accumulator is COMPLETE within one task — per-shard top-k is
            exact, unlike per-FILE top-k (the (term, chunk) layout
            spreads one chunk's terms across files). A range stays two
            filter predicates at any index size; an IN-list would be
            millions of literals per task at 10^12 docs.
  read    = pq.read_table(dir, filters=[term IN batch_vocab,
            lo <= chunk < hi]): the build sorted every file by
            (term, chunk), so parquet row-group stats prune BOTH
            predicates before any byte is decompressed.
  decode  = each chunk row ONCE per batch (vs once per matching query in
            the bridge plan): varbyte → (offsets, bm25 core), then every
            query containing the term scatter-adds idf·core into a dense
            per-chunk accumulator that is REUSED across (qid, chunk)
            pairs — peak memory is two chunk_size arrays plus one chunk's
            decoded rows, independent of batch size.
  emit    = per-shard top-k per query (chunk-local top-k folded across
            the shard's chunks), ≤ shards × queries × k tiny rows; the
            global top-k is a single window over that.

The kernel is split in two: :func:`_score_shard` reads a chunk range
with pyarrow and :func:`score_rows` scores any ``pyarrow.Table`` of
postings_comp rows. Every BM25 top-k plan runs :func:`score_rows`: the
shard tasks here, ``wand.wand_topk_local`` in-process over every chunk
(planner.search_serving's ``local`` plan), and ``wand.wand_topk`` once
per kernel window of a DataFrame input. The plans finish through
:func:`merge_topk` (or a rank window over the per-window top-k), so
their results are the same rows.

Accumulation per (qid, doc) runs in ascending-term order, and fragment
rows from delta-merged segments (indexing/merge.py) hold disjoint docs,
so every plan's scores are bit-identical.

Storage routing: ``comp_path`` resolves through ``pyarrow.fs`` inside
every task (``indexing.compress._resolve_fs``), so an s3://-style URI
serves directly from object storage on any master — the 100 TB layout.
A plain path means the driver's local disk and is guarded to local[..]
masters, exactly like compress_files. Rank-identity of the URI route vs
the plain-path route is pinned in tests/test_wand.py.

Reference parity: semantics are the reference's "score every candidate,
sort, take k" (OkapiBM25.java:291-308) — this module only changes the
physical distribution, proven rank-identical in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_OUT_SCHEMA = "qid int, doc_id long, score double"
RESULT_SCHEMA = _OUT_SCHEMA + ", rank int"


def window_chunks(chunk_bits: int) -> int:
    """Chunks per kernel window: :func:`score_rows` accumulates up to
    2^16 doc cells (the proven chunk_bits=16 working point) per round."""
    return max(1, (1 << 16) >> chunk_bits)


def _score_shard(
    comp_path: str,
    chunks: tuple[int, int] | None,
    vocab: tuple,
    by_term: dict,
    idf: dict,
    k: int,
    avgdl: float,
    chunk_bits: int,
):
    """Read the ``vocab`` rows of chunk range [lo, hi) (every chunk when
    ``chunks`` is None) and score them with :func:`score_rows` — one
    doc-range shard of :func:`wand_topk_sharded`, or the whole index for
    ``wand.wand_topk_local``.

    Storage: ``comp_path`` resolves through ``pyarrow.fs`` INSIDE the
    task (``_resolve_fs`` — same routing as the build's compress_files),
    so an object-store/shared-FS URI (s3://, hdfs://, file://) works from
    any executor; only the path string travels in the closure."""
    import pyarrow.parquet as pq

    from ..indexing.compress import _resolve_fs

    fs, local_p = _resolve_fs(comp_path)
    filters = [("term", "in", list(vocab))]
    if chunks is not None:
        filters += [("chunk", ">=", chunks[0]), ("chunk", "<", chunks[1])]
    tbl = pq.read_table(
        local_p,
        filesystem=fs,
        columns=["term", "chunk", "df_chunk", "doc_bytes", "cnt_bytes",
                 "mc_bytes", "dl_bytes"],
        filters=filters,
    )
    lo = 0 if chunks is None else chunks[0]
    return score_rows(tbl, lo, by_term, idf, k, avgdl, chunk_bits)


def score_rows(
    tbl,
    lo: int,
    by_term: dict,
    idf: dict,
    k: int,
    avgdl: float,
    chunk_bits: int,
):
    """Score a ``pyarrow.Table`` of postings_comp rows (chunks >= ``lo``)
    against a query batch; return the exact top-k per query, packed as
    three flat numpy buffers (or None if nothing matched). ``by_term``:
    term → qids (:func:`batch_terms`); ``idf``: term → idf. Every BM25
    top-k plan runs this one kernel.

    Kernel shape (r5 — replaced the per-row decode + per-(qid, term)
    dict-lookup loop, whose interpreter overhead made a chunk_bits=13
    layout cost 3.2× the total CPU of chunk_bits=16 for identical
    results, profiled in scripts/profile_shard.py):

    - decode: the table's four varbyte streams decode in FOUR vb_decode
      calls total (row buffers concatenated; ``df_chunk`` supplies the
      per-row value counts to split them back) and doc offsets come from
      one segmented cumsum — numpy fixed cost no longer scales with the
      row count, so fine chunk layouts stop paying a per-row decode tax.
    - accumulate: queries are laid out as rows of a dense
      (block × chunk_size) accumulator pair (block sized to a ~64 MB
      budget). Each posting row scatters its idf-weighted core into all
      its queries' accumulator rows with ONE fancy-indexed ``+=`` per
      (row, block) — replacing the old qids_here × chunk-vocab
      membership loop (~10⁸ interpreter iterations per shard at fine
      layouts). Touched cells are re-zeroed from the seen mask after
      each chunk's extraction, so the arrays are allocated once.

    Float identity: within one (qid, doc) cell the adds land in
    ascending-term order (the table sort), fragment rows of delta-merged
    segments in row order; the core is computed exactly as the encoder
    does (compress.bm25_core) and THEN multiplied by idf, so for idf > 0
    a score never exceeds idf·core_max, the stored chunk bound, at the
    float grain (tests/test_wand.py pins it bit-exactly)."""
    from ..indexing.compress import vb_decode
    from .bm25 import B, K1

    if tbl.num_rows == 0:
        return None
    # chunk-major processing order; ascending term within a chunk (and
    # original row order within a term — fragment rows of delta-merged
    # segments) fixes the float accumulation order
    tbl = tbl.sort_by([("chunk", "ascending"), ("term", "ascending")])
    chunk_col = tbl["chunk"].to_numpy(zero_copy_only=False)
    term_col = tbl["term"].to_pylist()
    df_col = tbl["df_chunk"].to_numpy(zero_copy_only=False).astype(np.int64)
    if (df_col < 1).any():
        # the segmented cumsum below indexes cs[r_ends[:-1] - 1]: a
        # df_chunk = 0 row would wrap to cs[-1] and shift every later
        # row's doc ids without an error
        bad = int(np.argmax(df_col < 1))
        raise ValueError(
            "corrupt postings_comp: df_chunk="
            f"{int(df_col[bad])} < 1 for term {term_col[bad]!r} chunk "
            f"{int(chunk_col[bad])}"
        )

    # whole-shard batched decode in ~1 MiB slabs: amortizes vb_decode's
    # numpy fixed cost without letting its intermediates (7-8 full-size
    # scratch arrays) blow past cache the way a one-shot whole-stream
    # decode does (measured 1.7× on 20M values)
    def _decode_stream(col, dtype):
        slabs, cur, c = [], [], 0
        for b in col.to_pylist():
            cur.append(b)
            c += len(b)
            if c >= (1 << 20):
                slabs.append(vb_decode(b"".join(cur)))
                cur, c = [], 0
        if cur:
            slabs.append(vb_decode(b"".join(cur)))
        flat = slabs[0] if len(slabs) == 1 else np.concatenate(slabs)
        return flat.astype(dtype)

    r_ends = np.cumsum(df_col)
    r_starts = r_ends - df_col
    deltas = _decode_stream(tbl["doc_bytes"], np.int64)
    cs = np.cumsum(deltas)
    row_base = np.zeros(len(df_col), dtype=np.int64)
    row_base[1:] = cs[r_ends[:-1] - 1]
    offs_flat = cs - np.repeat(row_base, df_col)
    cnt = _decode_stream(tbl["cnt_bytes"], np.float64)
    mc = _decode_stream(tbl["mc_bytes"], np.float64)
    dl = _decode_stream(tbl["dl_bytes"], np.float64)
    tf = cnt / mc
    core_flat = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))

    # query-block layout: qid -> (block, row) of the dense 2D accumulator
    # (``blk`` — rows per block — is sized below once the window span is
    # known; _sched only runs inside the window loop, after that)
    all_qids = sorted({q for qs in by_term.values() for q in qs})
    qid_arr = np.asarray(all_qids, dtype=np.int64)
    qpos = {q: i for i, q in enumerate(all_qids)}
    # per term: block_id -> (rows-in-block array, idf weight), built
    # LAZILY on first appearance in this shard — a shard sees only its
    # chunk range's terms, and most batch terms carry 1-3 qids (Zipf
    # query vocab), so the eager per-task build cost ~2 s/shard at fine
    # layouts for schedules never used
    term_sched: dict[str, dict] = {}

    def _sched(t: str) -> dict:
        sch = term_sched.get(t)
        if sch is None:
            qs = by_term[t]
            w = idf[t]
            if len(qs) == 1:
                (q,) = qs
                p = qpos[q]
                sch = {p // blk: (np.array([p % blk]), w)}
            else:
                pos = np.fromiter(
                    (qpos[q] for q in qs), dtype=np.int64, count=len(qs)
                )
                pos.sort()
                bids = pos // blk
                cut = np.flatnonzero(np.diff(bids)) + 1
                sch = {
                    int(seg[0] // blk): (seg - (seg[0] // blk) * blk, w)
                    for seg in np.split(pos, cut)
                }
            term_sched[t] = sch
        return sch

    top: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    bounds = np.flatnonzero(np.diff(chunk_col)) + 1
    g_starts = np.concatenate([[0], bounds])
    g_ends = np.concatenate([bounds, [len(chunk_col)]])
    # WINDOWS: consecutive chunk groups accumulate into one dense span of
    # up to 2^16 cells (the proven chunk_bits=16 working point), so fine
    # chunk layouts fold several chunks into ONE accumulation/extraction
    # round instead of paying the per-(qid, chunk) extraction 2^(16-cb)
    # times — doc cells are disjoint across chunks, so per-cell add order
    # (ascending term within the owning chunk) is unchanged
    wchunks = window_chunks(chunk_bits)
    span = wchunks << chunk_bits
    blk = max(1, min(len(all_qids), (64 << 20) // (span * 9)))
    acc = np.zeros((blk, span), dtype=np.float64)
    seen = np.zeros((blk, span), dtype=bool)
    hit = np.zeros(blk, dtype=bool)
    g_chunks = chunk_col[g_starts].astype(np.int64)
    wids = (g_chunks - lo) // wchunks
    wbounds = np.flatnonzero(np.diff(wids)) + 1
    w_gstarts = np.concatenate([[0], wbounds])
    w_gends = np.concatenate([wbounds, [len(g_chunks)]])
    for wgs, wge in zip(w_gstarts, w_gends):
        wlo_chunk = lo + int(wids[wgs]) * wchunks
        base = wlo_chunk << chunk_bits
        # rows of this window grouped by accumulator block; each row's
        # (window offsets, idf·core) contribution is computed ONCE and
        # shared across every block its term's queries span (w is
        # per-term, so the product is block-invariant)
        blk_rows: dict[int, list] = {}
        s0, e0 = int(g_starts[wgs]), int(g_ends[wge - 1])
        contrib: list = [None] * (e0 - s0)
        shift = np.repeat(
            (g_chunks[wgs:wge] - wlo_chunk) << chunk_bits,
            g_ends[wgs:wge] - g_starts[wgs:wge],
        )
        for j in range(s0, e0):
            for bid in _sched(term_col[j]):
                blk_rows.setdefault(bid, []).append(j)
        for b, js in sorted(blk_rows.items()):
            hit.fill(False)
            for j in js:
                rows, w = term_sched[term_col[j]][b]
                ent = contrib[j - s0]
                if ent is None:
                    o = offs_flat[r_starts[j]:r_ends[j]] + shift[j - s0]
                    ent = contrib[j - s0] = (
                        o, w * core_flat[r_starts[j]:r_ends[j]]
                    )
                o, wv = ent
                if len(rows) == 1:
                    r0 = rows[0]
                    acc[r0, o] += wv
                    seen[r0, o] = True
                else:
                    # cap the fancy-index mesh temporary at ~16M cells
                    step = max(1, (16 << 20) // max(1, len(o)))
                    for i0 in range(0, len(rows), step):
                        ix = np.ix_(rows[i0:i0 + step], o)
                        acc[ix] += wv
                        seen[ix] = True
                hit[rows] = True
            for r in np.flatnonzero(hit):
                offs = np.flatnonzero(seen[r])
                sc = acc[r, offs]
                # reset only the touched cells — the arrays stay
                # allocated (and mostly zero) across windows and blocks
                acc[r, offs] = 0.0
                seen[r, offs] = False
                ids = offs + base
                qid = int(qid_arr[b * blk + r])
                if qid in top:
                    pids, psc = top[qid]
                    ids = np.concatenate([pids, ids])
                    sc = np.concatenate([psc, sc])
                sel = np.lexsort((ids, -sc))[:k]
                top[qid] = (ids[sel], sc[sel])

    if not top:
        return None
    # pack the shard's whole result as three flat buffers — collecting a
    # handful of byte blobs is ~10x cheaper than shards×queries×k pickled
    # tuples (measured at 640k rows)
    qa = np.concatenate(
        [np.full(len(v[0]), q, dtype=np.int64) for q, v in top.items()]
    )
    da = np.concatenate([v[0] for v in top.values()])
    sa = np.concatenate([v[1] for v in top.values()])
    return qa.tobytes(), da.tobytes(), sa.astype(np.float64).tobytes()


def batch_terms(
    queries: dict[int, list[str]], idf: dict[str, float]
) -> dict[str, frozenset]:
    """term → the qids that contain it, over the priced terms only
    (terms absent from ``idf`` contribute nothing, exactly as the
    join-based plans drop them) — :func:`_score_shard`'s ``by_term``."""
    by_term: dict[str, set] = {}
    for qid, ts in queries.items():
        for t in ts:
            if t in idf:
                by_term.setdefault(t, set()).add(qid)
    return {t: frozenset(qs) for t, qs in by_term.items()}


def merge_topk(blobs, k: int) -> pd.DataFrame:
    """Global top-k per query over :func:`_score_shard` results (packed
    blobs; ``None`` for a shard that matched nothing) → a (qid, doc_id,
    score, rank) pandas frame ordered by (qid, rank). Ties break by
    doc_id ascending, like every other plan. One lexsort by (qid, score
    desc, doc_id asc) and a vectorized rank-within-group — no per-qid
    Python loop."""
    blobs = [b for b in blobs if b is not None]
    qa, da, sa = (
        np.concatenate([np.frombuffer(b[i], dtype=dt) for b in blobs])
        if blobs else np.empty(0, dtype=dt)
        for i, dt in enumerate((np.int64, np.int64, np.float64))
    )
    order = np.lexsort((da, -sa, qa))
    qs, ds, ss = qa[order], da[order], sa[order]
    grp = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
    pos = np.arange(len(qs)) - np.repeat(grp, np.diff(np.r_[grp, len(qs)]))
    keep = pos < k
    return pd.DataFrame({
        "qid": qs[keep].astype(np.int32),
        "doc_id": ds[keep],
        "score": ss[keep],
        "rank": (pos[keep] + 1).astype(np.int32),
    })


def result_frame(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """A :func:`merge_topk` frame as a Spark DataFrame. The Arrow path
    builds a driver-local relation, so collecting it runs no Spark job
    (a 2,000-row tuple list cost 0.32-0.41 s to create and collect on a
    4-core box; Arrow took 29-31 ms). An empty frame keeps the schema."""
    return spark.createDataFrame(pdf, RESULT_SCHEMA)


def collect_idf_map(
    dictionary: DataFrame, *, max_terms: int = 10_000_000
) -> dict[str, float]:
    """Materialize the dictionary driver-side for repeated sharded
    serving — the direct analogue of the reference loading its dictionary
    into memory at Search startup (Indexer.java load path): one scan per
    serving session instead of one filtered-scan JOB per batch.

    ``max_terms`` is a driver-heap guard: a web-scale dictionary is 10⁸⁺
    terms and does not belong in one driver process. Above the cap this
    raises instead of materializing — callers should then serve with the
    default per-batch filtered scan (wand_topk_sharded with
    ``idf_map=None``, which pushes an IN-list of just the batch
    vocabulary to the dictionary scan), or maintain their own LRU of hot
    terms. The default cap (~10M terms ≈ a few hundred MB of dict) suits
    a single-tenant serving driver; pass a smaller cap for shared ones.
    """
    n = dictionary.count()
    if n > max_terms:
        raise ValueError(
            f"collect_idf_map: dictionary has {n} terms > max_terms="
            f"{max_terms}. Use the per-batch filtered scan "
            "(wand_topk_sharded(..., idf_map=None)) or raise the cap "
            "explicitly if the driver heap is sized for it."
        )
    return {
        r["term"]: float(r["idf"])
        for r in dictionary.select("term", "idf").collect()
    }


def _check_comp_path(comp_path: str, master: str) -> None:
    """Fail loudly when the index path cannot be visible to executors: a
    PLAIN path means the driver's local disk, which only a local[..]
    master (or a mounted shared FS) shares with tasks. URIs (s3://,
    hdfs://, file://) resolve per-task via pyarrow.fs and work from any
    master — same contract as the build's compress_files."""
    if "://" not in comp_path and not master.startswith("local"):
        raise NotImplementedError(
            "wand_topk_sharded with a plain (driver-local) path requires "
            f"a local[..] master (master={master!r}, "
            f"comp_path={comp_path!r}); on a cluster pass an object-store/"
            "shared-FS URI (s3://, hdfs://, file://) so each task "
            "resolves it via pyarrow.fs"
        )


def wand_topk_sharded(
    spark: SparkSession,
    comp_path: str,
    queries: dict[int, list[str]],
    dictionary: DataFrame | None,
    avgdl: float,
    max_doc_id: int,
    k: int = 10,
    *,
    chunk_bits: int,
    n_shards: int | None = None,
    idf_map: dict[str, float] | None = None,
    driver_merge_limit: int = 2_000_000,
    n_query_groups: int | None = None,
) -> DataFrame:
    """(qid, doc_id, score, rank) — exact batch BM25 top-k served from the
    persisted compressed index at ``comp_path`` by doc-range shards.

    ``queries``: qid → already-normalized (and stemmed, if the index is)
    term list — the driver-side shape every qterms_df caller starts from
    (queryeng.pipeline.query_term_map). Terms absent from the dictionary
    contribute nothing (exactly as the join-based plans drop them).

    ``max_doc_id``: the index's highest posting doc_id — the persisted
    layout constant (ServingIndex.max_doc_id / global_stats). Shard
    coverage is sized from this id CEILING, never from a doc count:
    doc_ids need not be dense, and sizing from a count silently drops
    every chunk above count >> chunk_bits (e.g. an index built over a
    filtered corpus).

    ``idf_map``: pre-collected dictionary (:func:`collect_idf_map`) for
    hot serving — skips the per-batch filtered dictionary scan job.

    ``n_query_groups``: a SECOND sharding dimension for indexes whose
    chunk count undercuts the cluster (the shard-atom quantization
    BENCH_SCALING.json documents: 19 chunk atoms cap 16 cores). Tasks
    become (chunk range × query group); each query lives in exactly ONE
    group per range, so per-task top-k stays exact and the global merge
    is unchanged. Cost: a (term, chunk) row matched by several groups is
    read+decoded once PER GROUP — but each group's task reads only ITS
    queries' terms (tighter per-task IN-list), so total decode work is
    bounded by the bridge plan's per-query duplication while staying in
    numpy. Default (None): auto — split only when chunk ranges <
    2×parallelism, sized to restore ~2 tasks/core; 1 disables. At
    10^12 docs the chunk space dwarfs any cluster and the auto never
    splits.

    The global merge of per-shard top-k lists runs on the DRIVER when the
    worst-case row count (shards × queries × k) is at most
    ``driver_merge_limit`` — a numpy merge of tiny lists beats a Spark
    window job (shuffle + stage) at that size; above it (thousand-shard
    clusters × huge batches) the same merge runs as a window.
    """
    _check_comp_path(comp_path, spark.sparkContext.master)

    vocab = sorted({t for ts in queries.values() for t in ts})
    if idf_map is not None:
        idf = {t: idf_map[t] for t in vocab if t in idf_map}
    else:
        idf = {
            r["term"]: float(r["idf"])
            for r in dictionary.where(F.col("term").isin(vocab))
            .select("term", "idf").collect()
        }
    by_term = batch_terms(queries, idf)
    kept_vocab = tuple(sorted(by_term))
    if not kept_vocab:
        return result_frame(spark, merge_topk([], k))

    n_chunks = (max(int(max_doc_id), 0) >> chunk_bits) + 1
    sc_ctx = spark.sparkContext
    if n_shards is None:
        # ~2 shards per core levels stragglers without multiplying the
        # per-task fixed cost (dataset open + footer reads); the real
        # balance knob is the LAYOUT — size chunk_bits so n_chunks is
        # many multiples of cluster parallelism (at 10^12 docs any
        # chunk_bits gives millions of chunks; the constraint only binds
        # on tiny corpora)
        n_shards = min(n_chunks, sc_ctx.defaultParallelism * 2)
    n_shards = max(1, min(n_shards, n_chunks))
    # near-equal CONTIGUOUS ranges (imbalance <= 1 chunk, same as any
    # assignment) — a range is two parquet filter predicates at ANY chunk
    # count, where an IN-list would be ~n_chunks/n_shards literals per
    # task on a 10^12-doc index (millions of chunks)
    base_sz, rem = divmod(n_chunks, n_shards)
    shards, lo = [], 0
    for i in range(n_shards):
        hi_ = lo + base_sz + (1 if i < rem else 0)
        shards.append((lo, hi_))
        lo = hi_

    if n_query_groups is None:
        # split only when the chunk space undercuts the cluster AND the
        # batch is big enough that each group amortizes the per-task
        # fixed cost (dataset open + footers ~10-20 ms: measured, groups
        # win +18% at 16 cores/19 chunks/4000 queries but lose on a
        # 50-query batch where tasks go sub-second)
        target = sc_ctx.defaultParallelism * 2
        auto = -(-target // len(shards)) if len(shards) < target else 1
        n_query_groups = min(auto, max(1, len(queries) // 32))
    n_query_groups = max(1, min(int(n_query_groups), len(queries)))

    _k, _avgdl, _cb = k, avgdl, chunk_bits
    _path = comp_path

    if n_query_groups > 1:
        grp_specs = []
        for g in range(n_query_groups):
            bt_g = {
                t: frozenset(q for q in qs if q % n_query_groups == g)
                for t, qs in by_term.items()
            }
            bt_g = {t: qs for t, qs in bt_g.items() if qs}
            if bt_g:
                grp_specs.append(
                    (tuple(sorted(bt_g)), bt_g,
                     {t: idf[t] for t in bt_g})
                )

        def run_g(task):
            chunks, gi = task
            v_g, bt_g, idf_g = grp_specs[gi]
            return _score_shard(
                _path, chunks, v_g, bt_g, idf_g, _k, _avgdl, _cb
            )

        tasks = [
            (rng, gi) for rng in shards for gi in range(len(grp_specs))
        ]
        packed = sc_ctx.parallelize(tasks, len(tasks)).map(run_g)
    else:
        _bt, _idf = by_term, idf

        def run(chunks):
            return _score_shard(
                _path, chunks, kept_vocab, _bt, _idf, _k, _avgdl, _cb
            )

        packed = sc_ctx.parallelize(shards, len(shards)).map(run)

    if n_shards * len(queries) * k <= driver_merge_limit:
        # tiny result set: one collect job, numpy global top-k, no shuffle
        return result_frame(spark, merge_topk(packed.collect(), k))

    def unpack(blob):
        if blob is None:
            return []
        qa = np.frombuffer(blob[0], dtype=np.int64)
        da = np.frombuffer(blob[1], dtype=np.int64)
        sa = np.frombuffer(blob[2], dtype=np.float64)
        return [
            (int(q), int(d), float(s)) for q, d, s in zip(qa, da, sa)
        ]

    scored = spark.createDataFrame(packed.flatMap(unpack), _OUT_SCHEMA)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
