"""Serving-index delta merge: incremental ingestion without a rebuild.

A 100 TB deployment ingests a daily delta (new crawl snapshot) into an
index whose base postings cost days of cluster time to build. The
reference rebuilds from scratch (Indexer.java has no incremental path —
its SPIMI partials exist only within one build); this module adds the
Lucene-style segment merge the reference lacks, re-expressed for the
chunked serving layout of :func:`build_and_save_serving`:

- the delta corpus is tokenized and written as NEW raw-postings files
  (same (term, chunk) shuffle discipline), then compressed file-parallel
  into NEW chunk files — base postings files are immutable and never
  re-read, so merge cost is O(delta) + O(#chunk-rows) metadata scans,
  never O(base postings).
- a (term, chunk) group may now exist as several FRAGMENTS (one per
  segment). Every consumer is fragment-tolerant by construction: the
  scoring kernel scatter-adds every row of a chunk
  (queryeng/sharded.py:score_rows) and segments hold disjoint doc
  sets, so fragment accumulation is exact; df_chunk sums across
  fragments for the dictionary.
- global stats change on every merge (N, avgdl), so dictionary idf and
  avgdl-dependent scoring must follow the MERGED corpus. Scoring is
  exact automatically: chunks store per-posting cnt/maxcnt/dl bytes and
  the scorer recomputes the BM25 core with the query-time avgdl. Only
  the chunk PRUNING metadata (core_min/core_max/block_max) bakes in the
  encode-time avgdl. bm25_core(tf, dl, a) = tf(k1+1)/(tf + k1(1-b+b·dl/a))
  is monotone increasing in a, and for a' > a:
      core(a)  <=  core(a')  <=  core(a) · a'/a
  (the upper factor because num/den both shift by the same additive
  term; see tests/test_merge.py soundness case). So a reader scoring at
  avgdl_cur against a chunk encoded at avgdl_enc keeps the bounds
  sound by scaling:
      core_max · max(1, avgdl_cur/avgdl_enc)   (upper bounds, idf > 0)
      core_min · min(1, avgdl_cur/avgdl_enc)   (the negative-idf bound)
  The layout persists min/max encode-time avgdl across segments in
  global_stats; ServingIndex derives the two conservative scales
  (bound_scales). No query plan reads them today: the kernel skips no
  chunk. They keep the stored bounds checkable, never change scores,
  and are 1.0 for a freshly built (single-segment) index.
- rank identity with a full rebuild is exact, not approximate: total
  token length is persisted as a LONG (total_len), so the merged
  avgdl = (total_base + total_delta)/(N_base + N_delta) is the same IEEE
  double a rebuild over the union computes. Proven in tests/test_merge.py
  and driver-oracled by the `delta_merge_topk` registry query (merged
  index vs DuckDB BM25 over the union corpus).

Commit ordering (crash window documented): raw move → doc_stats append
→ comp move → dictionary overwrite → global_stats overwrite (the
authority for N/avgdl/scales) → merge_log append. On a production
cluster each merge is one Iceberg snapshot commit (atomic metadata
swap); this sandbox layout orders writes so a reader of a half-merged
directory fails loudly at the global_stats read rather than silently
mixing generations.

Reference parity note: the merge SEMANTICS (posting-list concatenation
per term, df summation, global-stat refresh) mirror the reference's
in-build fastmerge (Index.java:209-228) applied across builds instead
of within one.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..textproc import term_counts_arrow
from .build import ServingIndex, load_serving_index, write_serving_stats
from .compress import DEFAULT_CHUNK_BITS, compress_files


def _base_totals(spark: SparkSession, path: str) -> dict:
    """Read the layout's global stats with pyarrow (no Spark job, a
    fresh read on every call, so a merge between two calls is seen by
    the second). Layouts that predate ``total_len``/``max_doc_id`` get
    them from one Spark doc_stats scan (exactness: total_len is Σ length
    over doc_stats — zero-token docs hold no stats row and contribute 0,
    matching the build's avgdl = Σ length / N). ``n_terms`` (dictionary
    cardinality) is -1 when the layout did not persist it."""
    import pyarrow.parquet as pq

    from .compress import _resolve_fs

    fs, gs_path = _resolve_fs(f"{path}/global_stats")
    row = pq.read_table(gs_path, filesystem=fs).to_pylist()[0]
    out = {
        "n_docs": int(row["n_docs"]),
        "avgdl": float(row["avgdl"]),
        "chunk_bits": int(row.get("chunk_bits", DEFAULT_CHUNK_BITS)),
        "n_terms": int(row.get("n_terms", -1)),
    }
    if "total_len" in row and "max_doc_id" in row:
        out["total_len"] = int(row["total_len"])
        out["max_doc_id"] = int(row["max_doc_id"])
    else:  # pre-merge / pre-max_doc_id layouts: one doc_stats scan
        t = (
            spark.read.parquet(f"{path}/doc_stats")
            .agg(F.sum("length").alias("t"), F.max("doc_id").alias("m"))
            .collect()[0]
        )
        out["total_len"] = int(row.get("total_len", t["t"] or 0))
        out["max_doc_id"] = int(row.get("max_doc_id", t["m"] or 0))
    out["min_enc_avgdl"] = float(row.get("min_enc_avgdl", out["avgdl"]))
    out["max_enc_avgdl"] = float(row.get("max_enc_avgdl", out["avgdl"]))
    return out


def serving_bound_scales(spark: SparkSession, path: str) -> tuple[float, float]:
    """(hi, lo) pruning-soundness scales for the index at ``path``: the
    most conservative correction across all segments' encode-time avgdl
    (1.0, 1.0 for a single-segment index): the factors that keep the
    stored core_min/core_max bounds sound at the current avgdl."""
    return _scales_from(_base_totals(spark, path))


def _read_log(path: str) -> list:
    log = f"{path}/merge_log.json"
    if os.path.exists(log):
        with open(log) as fh:
            return json.load(fh)
    return []


def _append_log(path: str, entry: dict) -> None:
    # atomic replace: a crash mid-write must never corrupt the log — it
    # carries the exactly-once markers for streaming maintenance
    entries = _read_log(path)
    entries.append(entry)
    tmp = f"{path}/merge_log.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(entries, fh, indent=1)
    os.replace(tmp, f"{path}/merge_log.json")


def _next_gen(path: str) -> int:
    return len(_read_log(path)) + 1


def _scales_from(base: dict) -> tuple[float, float]:
    hi = (
        max(1.0, base["avgdl"] / base["min_enc_avgdl"])
        if base["min_enc_avgdl"] else 1.0
    )
    lo = (
        min(1.0, base["avgdl"] / base["max_enc_avgdl"])
        if base["max_enc_avgdl"] else 1.0
    )
    return hi, lo


def _move_segment_files(tmp_dir: str, dst_dir: str, prefix: str) -> list[str]:
    """Move a segment's part files into the live table directory under a
    generation prefix (keeps filenames unique across merges)."""
    moved = []
    for f in sorted(os.listdir(tmp_dir)):
        if not f.endswith(".parquet") or f.startswith((".", "_")):
            continue
        dst = f"{dst_dir}/{prefix}{f}"
        os.replace(f"{tmp_dir}/{f}", dst)
        moved.append(dst)
    return moved


def describe_index(spark: SparkSession, path: str) -> dict:
    """Operational snapshot of a serving index — the numbers an operator
    needs to schedule :func:`compact_serving_index`: segment generations,
    fragmentation (extra rows per (term, chunk) group beyond 1), the
    pruning-envelope looseness, and size/compression stats. One scan of
    the chunk METADATA columns (term, chunk, df_chunk) plus the tiny
    global_stats/merge_log reads — no posting bytes touched."""
    base = _base_totals(spark, path)
    comp = spark.read.parquet(f"{path}/postings_comp")
    agg = comp.groupBy("term", "chunk").count()
    frag = agg.agg(
        F.count(F.lit(1)).alias("groups"),
        F.sum("count").alias("rows"),
        F.max("count").alias("max_fragments"),
    ).collect()[0]
    post = comp.agg(F.sum("df_chunk").alias("p")).collect()[0]
    log = _read_log(path)
    hi, lo = _scales_from(base)
    bytes_comp = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(f"{path}/postings_comp")
        for f in fs if f.endswith(".parquet")
    )
    n_postings = int(post["p"] or 0)
    return {
        "n_docs": base["n_docs"],
        "avgdl": base["avgdl"],
        "chunk_bits": base["chunk_bits"],
        "max_doc_id": base["max_doc_id"],
        # a compact entry collapses everything before it to one segment;
        # only delta merges ADD segments (marker-only entries like the
        # streaming bootstrap/adopt records don't)
        "segments": 1 + sum(
            1 for e in log[max(
                (i + 1 for i, e in enumerate(log)
                 if e.get("type") == "compact"), default=0,
            ):]
            if "docs_added" in e
        ),
        "merge_generations": len(log),
        "chunk_groups": int(frag["groups"]),
        "chunk_rows": int(frag["rows"]),
        "max_fragments_per_group": int(frag["max_fragments"]),
        "fragmentation": round(
            int(frag["rows"]) / max(int(frag["groups"]), 1), 3
        ),
        "postings": n_postings,
        "bytes_compressed": bytes_comp,
        "bytes_per_posting": round(bytes_comp / max(n_postings, 1), 2),
        "bound_scales": (hi, lo),
        "envelope_looseness": round(hi / max(lo, 1e-12), 6),
    }


def plan_compaction(
    desc: dict,
    *,
    n_tombstones: int = 0,
    max_segments: int = 10,
    max_fragmentation: float = 4.0,
    max_envelope_looseness: float = 1.25,
    max_tombstone_frac: float = 0.2,
) -> dict:
    """Maintenance policy over a :func:`describe_index` snapshot — the
    TieredMergePolicy-style scheduler decision, as a pure deterministic
    function so operators (and tests) can evaluate it without touching
    the index. Returns ``{"compact": bool, "reasons": [...], "metrics":
    {...}}``; callers run :func:`compact_serving_index` when ``compact``
    is true.

    Triggers, in the order a Lucene operator would recognize them:

    * ``segments`` > ``max_segments`` — too many delta generations since
      the last major merge (per-query chunk-metadata rows grow linearly
      with segments).
    * ``fragmentation`` (mean rows per (term, chunk) group) >
      ``max_fragmentation`` — the WAND scorer's scatter-add touches that
      many fragments per logical chunk.
    * ``envelope_looseness`` (hi/lo pruning-bound scale ratio) >
      ``max_envelope_looseness`` — avgdl drift across segments has
      loosened block-max pruning by that factor; pruned single-query
      WAND inspects proportionally more chunks.
    * pending tombstones > ``max_tombstone_frac`` · n_docs — query-time
      anti-join masking is carrying too much dead weight (Lucene's
      deletes-percentage trigger).

    The thresholds are explicit because their right values are
    deployment-specific (delta cadence, query mix); the defaults encode
    the measured shape of THIS engine: fragmentation is linear cost in
    the chunk scorer, looseness is multiplicative in pruned-chunk reads.
    """
    reasons = []
    n_docs = max(int(desc.get("n_docs", 0)), 1)
    if desc.get("segments", 1) > max_segments:
        reasons.append(
            f"segments {desc['segments']} > {max_segments}"
        )
    if desc.get("fragmentation", 1.0) > max_fragmentation:
        reasons.append(
            f"fragmentation {desc['fragmentation']} > {max_fragmentation}"
        )
    if desc.get("envelope_looseness", 1.0) > max_envelope_looseness:
        reasons.append(
            "envelope_looseness "
            f"{desc['envelope_looseness']} > {max_envelope_looseness}"
        )
    if n_tombstones / n_docs > max_tombstone_frac:
        reasons.append(
            f"tombstone_frac {n_tombstones / n_docs:.3f} > "
            f"{max_tombstone_frac}"
        )
    return {
        "compact": bool(reasons),
        "reasons": reasons,
        "metrics": {
            "segments": desc.get("segments", 1),
            "fragmentation": desc.get("fragmentation", 1.0),
            "envelope_looseness": desc.get("envelope_looseness", 1.0),
            "tombstone_frac": round(n_tombstones / n_docs, 6),
        },
    }


def load_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The index's pending-delete set as a distinct ``doc_id`` frame, or
    None when nothing is tombstoned (absent directory = empty set)."""
    t = f"{path}/tombstones"
    if not os.path.exists(t):
        return None
    return spark.read.parquet(t).select("doc_id").distinct()


def delete_serving_docs(
    spark: SparkSession,
    path: str,
    doc_ids,
    *,
    log_extra: dict | None = None,
) -> int:
    """Tombstone ``doc_ids`` in the serving index at ``path`` — the
    Lucene-style soft delete that completes the segment lifecycle's third
    verb (add = :func:`merge_serving_delta`, delete = here, purge =
    :func:`compact_serving_index`).

    Semantics (exactly Lucene's liveDocs contract, and the only delete
    that is O(|deletes|) instead of O(index)): postings, dictionary,
    doc_stats and global_stats are NOT touched — a tombstoned doc still
    counts in df/N/avgdl until the next compaction, which physically
    drops its postings and recomputes every statistic. Query paths mask
    tombstones with an anti-join BEFORE aggregation/top-k (see
    registry.q_bm25_topk_deleted), so a deleted doc can never surface no
    matter how many of a query's best candidates were deleted.

    Idempotent and append-only: re-deleting an already-tombstoned (or
    never-indexed) doc_id appends a row the distinct read collapses; the
    log records the REQUESTED count per call for lineage. ``doc_ids`` is
    a DataFrame with a ``doc_id`` column or an iterable of ints.
    """
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    else:
        ids = spark.createDataFrame(
            [(int(d),) for d in doc_ids], "doc_id long"
        ).distinct()
    n = ids.count()
    ids.write.mode("append").parquet(f"{path}/tombstones")
    _append_log(path, {
        "gen": _next_gen(path),
        "type": "delete",
        "docs_tombstoned": n,
        **(log_extra or {}),
    })
    return n


def update_serving_docs(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    replaced_ids,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    stem: bool = True,
    partitions: int = 64,
    log_extra: dict | None = None,
) -> ServingIndex:
    """Replace documents in place — Lucene's ``updateDocument`` exactly:
    tombstone the superseded internal ids (:func:`delete_serving_docs`),
    then merge the new versions as a fresh segment under FRESH doc_ids
    (:func:`merge_serving_delta`). Internal ids are never reused until
    compaction — the chunked layout assumes one posting per (term, doc),
    so a new version re-entering under its old id would corrupt chunk
    addressing; the external identity (URL) lives upstream, in whatever
    maps crawl snapshots to doc_ids (websnap.snapshot_diff carries both
    cur_doc_id and prev_doc_id for precisely this handoff).

    Cost is O(|changed pages|), never O(index): the tombstone append is
    O(|deletes|) and the merge tokenizes only ``new_docs``. Until the
    next compaction the index serves Lucene's stale-stats grain — the
    superseded versions still count in df/N/avgdl (they were merged into
    the stats, and deletes don't rewrite them) while the liveDocs mask
    keeps them out of every candidate set; compaction then purges the
    postings and restores fresh-build statistics (tests/test_updates.py
    pins both grains against a rebuild).
    """
    delete_serving_docs(
        spark, path, replaced_ids,
        log_extra=dict(log_extra or {}, update="replaced"),
    )
    return merge_serving_delta(
        spark, path, new_docs, text_col=text_col, id_col=id_col,
        stem=stem, partitions=partitions,
        log_extra=dict(log_extra or {}, update="new_versions"),
    )


def compact_serving_index(
    spark: SparkSession,
    path: str,
    *,
    partitions: int = 64,
    timings: dict | None = None,
) -> ServingIndex:
    """Rewrite all segments of the index at ``path`` into one (the
    Lucene-style major merge that completes the segment lifecycle
    :func:`merge_serving_delta` starts).

    Why it exists: every delta merge (a) fragments (term, chunk) groups
    across segment files — each fragment is one extra scatter-add row for
    the WAND chunk scorer and one extra row in the chunk-metadata scan —
    and (b) widens the [min_enc_avgdl, max_enc_avgdl] envelope, loosening
    the pruning-bound scales (:func:`serving_bound_scales`), so pruned
    single-query WAND inspects more chunks than a fresh build would.
    Compaction restores single-segment tightness without touching the
    corpus: one (term, chunk) row per group, all block-max metadata
    re-encoded at the CURRENT avgdl, bound scales back to exactly
    (1.0, 1.0).

    Cost model: O(total postings) through the same two scale-proven
    stages as the base build — the sorted (term, chunk) shuffle over the
    persisted raw postings table and the file-parallel compression pass —
    but NO tokenization (the dominant build cost) and no corpus read. On
    a 100 TB deployment this is the scheduled background major-merge,
    amortized across many deltas; doc_stats, N, avgdl and ranks are
    unchanged by construction (proven merge≡rebuild-tight in
    tests/test_merge.py::test_compact_restores_single_segment).

    Commit ordering mirrors the merge path: both replacement tables are
    fully written before the first swap, and global_stats (the authority
    for the pruning envelope) is overwritten last before the log append.
    """
    t = timings if timings is not None else {}
    base = _base_totals(spark, path)
    cb = base["chunk_bits"]
    gen = _next_gen(path)
    raw_tmp = f"{path}/_compact{gen}_raw"
    comp_tmp = f"{path}/_compact{gen}_comp"
    stats_tmp = f"{path}/_compact{gen}_stats"
    shutil.rmtree(raw_tmp, ignore_errors=True)
    shutil.rmtree(comp_tmp, ignore_errors=True)
    shutil.rmtree(stats_tmp, ignore_errors=True)

    # 0. pending deletes: compaction is where tombstones become physical
    #    (delete_serving_docs docstring has the lifecycle contract). The
    #    anti-join rides the same O(total postings) pass stage 1 already
    #    makes — a delete-applying compaction costs no extra scan. At
    #    cluster scale the tombstone side is ≪ postings and hash-joins;
    #    every post-delete statistic (N, total_len, avgdl, df, max_doc_id)
    #    is recomputed below exactly as a fresh build over the surviving
    #    corpus would (proven rank-identical in tests/test_deletes.py).
    tomb = load_tombstones(spark, path)
    n_deleted = 0
    live_stats = None
    if tomb is not None:
        live_stats = (
            spark.read.parquet(f"{path}/doc_stats")
            .join(tomb, "doc_id", "left_anti")
        )
        srow = live_stats.agg(
            F.count(F.lit(1)).alias("n"), F.sum("length").alias("t"),
            F.max("doc_id").alias("m"),
        ).collect()[0]
        n_deleted = base["n_docs"] - int(srow["n"])
        if n_deleted == 0:  # tombstones never matched an indexed doc
            live_stats = None
        else:
            base = dict(
                base,
                n_docs=int(srow["n"]),
                total_len=int(srow["t"] or 0),
                max_doc_id=int(srow["m"] or 0),
                avgdl=(float(srow["t"] or 0) / int(srow["n"])
                       if int(srow["n"]) else 0.0),
            )
            live_stats.write.mode("overwrite").parquet(stats_tmp)

    # 1. coalesce every segment's raw postings into fresh whole-group
    #    sorted files (same shuffle discipline as the base build),
    #    dropping tombstoned docs in the same pass.
    t0 = time.perf_counter()
    raw_src = spark.read.parquet(f"{path}/postings_raw")
    if live_stats is not None:
        raw_src = raw_src.join(tomb, "doc_id", "left_anti")
    (
        raw_src
        .repartition(partitions, "term", "chunk")
        .sortWithinPartitions("term", "chunk", "doc_id")
        .write.mode("overwrite")
        .parquet(raw_tmp)
    )
    t["compact_shuffle"] = time.perf_counter() - t0

    # 2. re-encode at the CURRENT avgdl: every chunk's pruning metadata
    #    becomes exact for the merged corpus, so the envelope collapses.
    #    (With deletes applied, "current" is the post-delete avgdl — the
    #    value a fresh build over the surviving corpus would use.)
    t0 = time.perf_counter()
    cmetrics = compress_files(spark, raw_tmp, comp_tmp, base["avgdl"],
                              chunk_bits=cb)
    t["compact_compress"] = time.perf_counter() - t0

    # 3. swap both tables, then refresh dictionary + global_stats. The
    #    two renames per table are NOT one atomic commit (a crash between
    #    them leaves that table absent) — so the pre-compact copies are
    #    kept on disk until BOTH tables are swapped, making every crash
    #    window recoverable by renaming _pre_compact{gen}_* back. On a
    #    production lakehouse this whole step is one Iceberg snapshot
    #    commit (atomic metadata swap) instead of directory renames.
    t0 = time.perf_counter()
    tables = [("postings_raw", raw_tmp), ("postings_comp", comp_tmp)]
    if live_stats is not None:
        tables.append(("doc_stats", stats_tmp))
    swapped = []
    for table, tmp in tables:
        live = f"{path}/{table}"
        old = f"{path}/_pre_compact{gen}_{table}"
        os.rename(live, old)
        os.rename(tmp, live)
        swapped.append(old)
    for old in swapped:
        shutil.rmtree(old, ignore_errors=True)

    n_docs = base["n_docs"]
    write_serving_stats(
        spark, path, n_docs=n_docs, avgdl=base["avgdl"], chunk_bits=cb,
        total_len=base["total_len"], max_doc_id=base["max_doc_id"],
        min_enc_avgdl=base["avgdl"], max_enc_avgdl=base["avgdl"],
    )
    t["compact_finalize"] = time.perf_counter() - t0

    _append_log(path, {
        "gen": gen,
        "type": "compact",
        "postings": sum(m["postings"] for m in cmetrics),
        "chunk_rows": sum(m["chunks"] for m in cmetrics),
        "enc_avgdl": base["avgdl"],
        "n_docs_after": n_docs,
        "docs_deleted": n_deleted,
        "bytes_out": sum(m["bytes_out"] for m in cmetrics),
        "seconds": {k: round(v, 3) for k, v in t.items()},
    })
    # tombstones are spent only after the log commit: a crash anywhere
    # above leaves them pending, and reapplying them is a no-op (the
    # anti-join matches nothing once the docs are physically gone).
    if tomb is not None:
        shutil.rmtree(f"{path}/tombstones", ignore_errors=True)

    return load_serving_index(spark, path)


def merge_serving_delta(
    spark: SparkSession,
    path: str,
    delta_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    stem: bool = True,
    partitions: int = 64,
    check_disjoint: bool = True,
    timings: dict | None = None,
    log_extra: dict | None = None,
) -> ServingIndex:
    """Merge ``delta_docs`` into the serving index at ``path`` in place.

    Cost model (the reason this exists): tokenize + shuffle + compress
    touch ONLY the delta corpus; the base is consulted through three
    metadata-sized artifacts — global_stats (1 row), doc_stats (the
    optional disjointness check, one join keyed on doc_id), and the
    compressed table's two tiny metadata columns (term, df_chunk) for
    the dictionary refresh. Base posting bytes are never read.

    ``check_disjoint``: delta doc_ids must be fresh (the layout's chunk =
    doc_id >> chunk_bits addressing assumes one posting per (term, doc)).
    The check is one O(|delta|) join against base doc_stats; disable it
    when the upstream id assigner already guarantees freshness.
    """
    from pyspark.sql import Observation

    t = timings if timings is not None else {}
    base = _base_totals(spark, path)
    cb = base["chunk_bits"]
    gen = _next_gen(path)
    raw_tmp = f"{path}/_delta{gen}_raw"
    comp_tmp = f"{path}/_delta{gen}_comp"
    shutil.rmtree(raw_tmp, ignore_errors=True)
    shutil.rmtree(comp_tmp, ignore_errors=True)

    # 1. delta raw postings: same single (term, chunk) shuffle as the base
    #    build; N_delta rides the tokenize pass as an observation.
    t0 = time.perf_counter()
    obs = Observation(f"delta{gen}_stats")
    counts = term_counts_arrow(
        delta_docs.observe(obs, F.count(F.lit(1)).alias("n_docs")),
        text_col, id_col, stem=stem,
    )
    raw = (
        counts.withColumn(
            "chunk", (F.col("doc_id") / F.lit(1 << cb)).cast("int")
        )
        .select("term", "chunk", "doc_id", "cnt", "maxcnt", "length")
        .repartition(partitions, "term", "chunk")
        .sortWithinPartitions("term", "chunk", "doc_id")
    )
    raw.write.mode("overwrite").parquet(raw_tmp)
    n_delta = int(obs.get["n_docs"])
    t["delta_postings_write"] = time.perf_counter() - t0

    # 2. delta doc stats (+ the disjointness gate, before any mutation)
    t0 = time.perf_counter()
    raw_r = spark.read.parquet(raw_tmp)
    per_doc = raw_r.groupBy("doc_id").agg(
        F.first("length").alias("length"), F.max("cnt").alias("maxcnt")
    )
    if check_disjoint:
        clash = (
            per_doc.join(
                spark.read.parquet(f"{path}/doc_stats").select("doc_id"),
                "doc_id",
            )
            .limit(1)
            .collect()
        )
        if clash:
            shutil.rmtree(raw_tmp, ignore_errors=True)
            raise ValueError(
                f"delta doc_id {clash[0]['doc_id']} already exists in the "
                f"base index at {path}; delta doc_ids must be fresh"
            )
    drow = per_doc.agg(
        F.sum("length").alias("t"), F.max("doc_id").alias("m")
    ).collect()[0]
    delta_total = int(drow["t"] or 0)
    n_docs = base["n_docs"] + n_delta
    total_len = base["total_len"] + delta_total
    max_doc_id = max(base["max_doc_id"], int(drow["m"] or 0))
    avgdl = float(total_len) / n_docs if n_docs else 0.0
    per_doc.write.mode("append").parquet(f"{path}/doc_stats")
    t["delta_doc_stats"] = time.perf_counter() - t0

    # 3. compress the delta segment with the MERGED avgdl (its pruning
    #    metadata is exact for the new corpus; base chunks go stale by a
    #    known bounded factor — see module docstring).
    t0 = time.perf_counter()
    cmetrics = compress_files(spark, raw_tmp, comp_tmp, avgdl, chunk_bits=cb)
    delta_postings = sum(m["postings"] for m in cmetrics)
    t["delta_compress"] = time.perf_counter() - t0

    # 4. commit the segment files into the live tables
    _move_segment_files(raw_tmp, f"{path}/postings_raw", f"delta{gen}-")
    _move_segment_files(comp_tmp, f"{path}/postings_comp", f"delta{gen}-")
    shutil.rmtree(raw_tmp, ignore_errors=True)
    shutil.rmtree(comp_tmp, ignore_errors=True)

    # 5. dictionary + global_stats refresh from chunk METADATA (two tiny
    #    columns over all segments; base posting bytes are never read)
    t0 = time.perf_counter()
    write_serving_stats(
        spark, path, n_docs=n_docs, avgdl=avgdl, chunk_bits=cb,
        total_len=total_len, max_doc_id=max_doc_id,
        min_enc_avgdl=min(base["min_enc_avgdl"], avgdl),
        max_enc_avgdl=max(base["max_enc_avgdl"], avgdl),
    )
    t["delta_finalize"] = time.perf_counter() - t0

    # 6. merge log: per-merge lineage + metrics (north-rule evidence).
    #    ``log_extra`` rides in the SAME atomic append — streaming
    #    maintenance threads its exactly-once marker through here so
    #    "merged" and "marked" can never be observed separately.
    _append_log(path, {
        "gen": gen,
        "docs_added": n_delta,
        "postings_added": int(delta_postings),
        "enc_avgdl": avgdl,
        "n_docs_after": n_docs,
        "files": [m["file"] for m in cmetrics],
        "bytes_out": sum(m["bytes_out"] for m in cmetrics),
        "seconds": {k: round(v, 3) for k, v in t.items()},
        **(log_extra or {}),
    })

    return load_serving_index(spark, path)


@dataclass
class PinnedSnapshot:
    """A generation-pinned read view of a serving index — see
    :func:`pin_serving_snapshot`."""

    compressed: DataFrame
    dictionary: DataFrame
    n_docs: int
    avgdl: float
    chunk_bits: int
    bound_scales: tuple
    gen: int
    files: list


def pin_serving_snapshot(
    spark: SparkSession, path: str, gen: int | None = None
) -> PinnedSnapshot:
    """Snapshot-isolated reader: a read view of the serving index AS OF
    merge-log generation ``gen`` (default: latest), immune to delta
    merges that land while queries are in flight.

    Why: a plain ``spark.read.parquet(dir)`` re-lists the directory per
    ACTION, so a long-running query batch that spans a concurrent
    delta-merge commit can silently mix generations — new segment files
    appear mid-batch while the already-broadcast dictionary/avgdl are
    stale (exactly the torn read Iceberg snapshots exist to prevent; the
    module docstring maps each merge commit to one snapshot). This
    reader rebuilds the whole consistent view from the pin:

    - FILE LIST, not directory: segment part files carry generation
      prefixes (``delta{g}-``; base files unprefixed), and the merge log
      records the commit order — the pinned view reads exactly the base
      + ``delta{g}-`` files with g ≤ gen. Parquet files are immutable
      once committed, so the list stays valid under concurrent appends.
    - STATS from the log: each merge entry records the post-merge
      (n_docs_after, enc_avgdl = merged avgdl); idf derives from the
      pinned chunk metadata (Σ df_chunk — the same two-column scan the
      live dictionary refresh uses) at the pinned N.
    - PRUNING soundness: bound scales computed from the CURRENT
      global_stats encode-avgdl span against the pinned avgdl — a
      superset of the pinned segments' span, hence conservative (only
      ever loosens skips, never unsounds them).

    Compaction is the snapshot-expiry event (it physically rewrites the
    base files, like Iceberg's ``expire_snapshots``): pinning a
    generation older than the last compaction raises — those bytes no
    longer exist. Tombstone deletes stay monotonic (a pinned reader
    masks the CURRENT tombstone set; deletes are soft and append-only,
    so this only ever hides more, never resurrects).
    """
    log = _read_log(path)
    if gen is None:
        gen = log[-1]["gen"] if log else 0
    compacts = [e["gen"] for e in log if e.get("type") == "compact"]
    last_compact = max([g for g in compacts if g <= gen], default=0)
    if any(g > gen for g in compacts):
        raise ValueError(
            f"snapshot gen {gen} predates a compaction at gen "
            f"{min(g for g in compacts if g > gen)}: its base segment "
            f"files were rewritten and expired — re-pin at or after the "
            f"compaction"
        )
    # stats entry: the latest merge/compact entry at or before the pin
    stat_entries = [
        e for e in log
        if e["gen"] <= gen and ("n_docs_after" in e)
    ]
    if stat_entries:
        se = stat_entries[-1]
        n_docs = int(se["n_docs_after"])
        avgdl = float(se["enc_avgdl"])
    else:
        if log:
            raise ValueError(
                "cannot pin the pre-merge base generation: its stats "
                "were superseded; pin a merge-log generation >= "
                f"{log[0]['gen']}"
            )
        row = spark.read.parquet(f"{path}/global_stats").collect()[0]
        n_docs, avgdl = int(row["n_docs"]), float(row["avgdl"])

    comp_dir = f"{path}/postings_comp"
    keep_gens = {
        e["gen"] for e in log
        if "docs_added" in e and last_compact < e["gen"] <= gen
    }
    files = []
    for f in sorted(os.listdir(comp_dir)):
        if not f.endswith(".parquet") or f.startswith((".", "_")):
            continue
        if f.startswith("delta"):
            g = int(f[len("delta"):f.index("-")])
            if g in keep_gens:
                files.append(f"{comp_dir}/{f}")
        else:
            files.append(f"{comp_dir}/{f}")  # base (post-last_compact)
    comp = spark.read.parquet(*files)
    dictionary = (
        comp.groupBy("term")
        .agg(F.sum("df_chunk").alias("df"))
        .withColumn(
            "idf",
            F.log2(
                (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
    )
    grow = spark.read.parquet(f"{path}/global_stats").collect()[0]
    cb = int(grow["chunk_bits"])
    min_enc = float(grow["min_enc_avgdl"]) or avgdl
    max_enc = float(grow["max_enc_avgdl"]) or avgdl
    scales = (
        max(1.0, avgdl / min_enc) if min_enc else 1.0,
        min(1.0, avgdl / max_enc) if max_enc else 1.0,
    )
    return PinnedSnapshot(
        compressed=comp, dictionary=dictionary, n_docs=n_docs,
        avgdl=avgdl, chunk_bits=cb, bound_scales=scales, gen=gen,
        files=files,
    )
