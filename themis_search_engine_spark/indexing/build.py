"""Inverted-index build: the reference's CreateIndex ETL, Spark-first.

Maps the reference lifecycle (SURVEY.md §3.1) onto one declarative plan:

  corpus → vectorized tokenize/stem (term_counts_arrow, NO shuffle)
         → per-doc stats (groupBy doc_id: max-TF + length, A3/A4)
         → postings_flat (term, doc_id, tf)           [tf = cnt/max, §2.8.6]
         → dictionary (term, df, idf)                  [A5]
         → global_stats (n_docs, avgdl)                [A6]
         → doc_norms (VSM, A7)                         [optional]

The reference's partial-index dump + fastmerge (M1/M2, Indexer.java:447-902)
IS Spark's map-side partial aggregation + term-keyed shuffle — we don't
reimplement it; we shape it (AQE coalesce, term-hash bucketing on write,
range-chunk salting for head terms in compress.py).

Formulas (quirk decisions per SURVEY.md §7 — clean float math, no
double-divide / int-division bug replication):
  tf      = cnt / max(cnt) within doc        (Indexer.java:410-418)
  length  = Σ cnt within doc (post-stopword) (Indexer.java:397,439)
  df      = #docs containing term            (Indexer.java:377-401)
  idf_bm25= log2((N - df + 0.5)/(df + 0.5))  (OkapiBM25.java:104-106)
  idf_vsm = log2(N / df)                     (Indexer.java:766, float-clean)
  norm    = sqrt(Σ (tf · idf_vsm)²) per doc  (Indexer.java:674-761)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..textproc import term_counts_arrow, term_counts_native
from .compress import DEFAULT_CHUNK_BITS


@dataclass
class InvertedIndex:
    """The four logical tables of the index (+ convenience scalars)."""

    counts: DataFrame        # (doc_id, term, cnt)   raw per-doc counts
    postings_flat: DataFrame  # (term, doc_id, tf)    max-normalized tf
    dictionary: DataFrame     # (term, df, idf)       BM25 idf
    doc_stats: DataFrame      # (doc_id, length, maxcnt, norm?)
    global_stats: DataFrame   # (n_docs, avgdl) single row
    n_docs: int
    avgdl: float

    def cache(self) -> "InvertedIndex":
        self.postings_flat.cache()
        self.dictionary.cache()
        self.doc_stats.cache()
        return self


def doc_stats_from_counts(counts: DataFrame) -> DataFrame:
    """A3+A4: per-doc max term count and raw length. One groupBy(doc_id) —
    map-side combine keeps the shuffle at one row per (partition, doc)."""
    return counts.groupBy("doc_id").agg(
        F.max("cnt").alias("maxcnt"),
        F.sum("cnt").cast("long").alias("length"),
    )


def build_index(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    stem: bool = True,
    use_arrow: bool = True,
    with_norms: bool = False,
) -> InvertedIndex:
    """Build the logical index tables from a (doc_id, text) corpus.

    ``use_arrow=True`` (default) is the scale path: per-doc counts computed
    inside Arrow batches, zero shuffle before the term-level aggregations.
    ``use_arrow=False`` uses the pure-Catalyst unstemmed path (oracle twin).
    """
    if use_arrow:
        # enriched counts carry per-doc maxcnt/length computed inside the
        # Arrow batch → postings_flat needs NO shuffle and NO join at all
        counts = term_counts_arrow(docs, text_col, id_col, stem=stem)
        per_doc = counts.groupBy("doc_id").agg(
            F.max("maxcnt").alias("maxcnt"), F.max("length").alias("length")
        )
    else:
        if stem:
            raise ValueError("native path is unstemmed-only; use use_arrow=True")
        counts = term_counts_native(docs, text_col, id_col)
        base = doc_stats_from_counts(counts)
        counts = counts.join(base, "doc_id")  # enrich to the same shape
        per_doc = base
    counts = counts.cache()

    # Every corpus doc gets a stats row — token-less docs (e.g. all-Greek
    # after P2 normalization) count toward N and avgdl with length 0, exactly
    # as the reference appends a 68-B record per doc (Indexer.java:423-443).
    stats = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .fillna({"length": 0, "maxcnt": 0.0})
    )

    # length is denormalized into postings: BM25's denominator needs dl per
    # posting, and carrying it here (4 B, dictionary-encoded in parquet)
    # removes the doc_stats join — the scored side's only wide shuffle —
    # from the query path entirely.
    postings_flat = counts.select(
        "term", "doc_id", (F.col("cnt") / F.col("maxcnt")).alias("tf"), "length"
    )

    gs_row = stats.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("length").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(gs_row["n_docs"]), float(gs_row["avgdl"] or 0.0)

    dictionary = counts.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    ).withColumn(
        "idf",
        F.log2((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
    )

    spark = docs.sparkSession
    global_stats = spark.createDataFrame(
        [(n_docs, avgdl)], "n_docs long, avgdl double"
    )

    if with_norms:
        norms = vsm_doc_norms(postings_flat, dictionary, n_docs)
        stats = stats.join(norms, "doc_id", "left").fillna({"norm": 0.0})

    return InvertedIndex(
        counts=counts,
        postings_flat=postings_flat,
        dictionary=dictionary,
        doc_stats=stats,
        global_stats=global_stats,
        n_docs=n_docs,
        avgdl=avgdl,
    )


def vsm_doc_norms(
    postings_flat: DataFrame, dictionary: DataFrame, n_docs: int
) -> DataFrame:
    """A7: norm = sqrt(Σ_terms (tf · log2(N/df))²) per doc
    (Indexer.java:674-761, clean float division per SURVEY.md §7)."""
    return (
        postings_flat.join(dictionary.select("term", "df"), "term")
        .select(
            "doc_id",
            (F.col("tf") * F.log2(F.lit(float(n_docs)) / F.col("df"))).alias("w"),
        )
        .groupBy("doc_id")
        .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    )


def save_index(
    idx: InvertedIndex, path: str, *, term_buckets: int = 64
) -> None:
    """Persist the logical tables as parquet (Iceberg-shaped layout).

    postings_flat is written repartitioned by term-hash so query-time term
    lookups prune files (the parquet stand-in for Iceberg bucket
    partitioning); at cluster scale this becomes
    ``write.format('iceberg').partitionedBy(bucket(N, 'term'))``.
    """
    (
        idx.postings_flat.withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(term_buckets)).cast("int")
        )
        .repartition(term_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/postings_flat")
    )
    idx.dictionary.write.mode("overwrite").parquet(f"{path}/dictionary")
    idx.doc_stats.write.mode("overwrite").parquet(f"{path}/doc_stats")
    idx.global_stats.write.mode("overwrite").parquet(f"{path}/global_stats")


def build_and_save(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    stem: bool = True,
    term_buckets: int = 64,
    timings: dict | None = None,
) -> InvertedIndex:
    """Streamlined build: tokenize → ONE shuffle → postings on disk, then
    derive dictionary/doc_stats/global_stats from the WRITTEN postings.

    Why not build_index + save_index: at bench scale the intermediate
    counts either get cached (heap cache of ~70 rows/doc → GC-bound scans;
    measured slower to re-read than to recompute at 16 cores) or get
    recomputed once per consumer. Writing postings first makes the single
    tokenize pass feed the single shuffle, and every derived table is a
    column-pruned scan of compressed parquet — the same
    write-once-derive-after shape as checkpoint.finalize.
    """
    import time as _time

    t = timings if timings is not None else {}
    t0 = _time.perf_counter()
    counts = term_counts_arrow(docs, text_col, id_col, stem=stem)
    # Salted term shuffle (north rule: explicit salting for head-term
    # skew): partition on (bucket, doc-salt) so a Zipf head term's bucket
    # splits across `salt` reducers instead of bottlenecking one task.
    # bucket is kept as a CLUSTERED COLUMN, not a directory partition: the
    # partitioner groups each file's rows by bucket, so parquet row-group
    # stats prune term lookups just as well, and skipping the dynamic-
    # partition write (its per-task sort + per-directory writers) measured
    # 0.61 → 0.76 on 4→16-core scaling efficiency of this phase.
    salt = 4
    (
        counts.select(
            "term", "doc_id", (F.col("cnt") / F.col("maxcnt")).alias("tf"),
            "length",
        )
        .withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(term_buckets)).cast("int")
        )
        .repartition(
            salt * term_buckets // 2,
            F.col("bucket"),
            F.pmod(F.xxhash64("doc_id"), F.lit(salt)),
        )
        .write.mode("overwrite")
        .parquet(f"{path}/postings_flat")
    )
    t["postings_write"] = _time.perf_counter() - t0
    spark = docs.sparkSession
    postings = spark.read.parquet(f"{path}/postings_flat").drop("bucket")

    # doc stats: every corpus doc gets a row (token-less docs → length 0),
    # lengths come from the written postings (any row per doc carries dl).
    # Column pruning matters: this scan reads exactly two int columns.
    t0 = _time.perf_counter()
    # length is doc-constant on every posting row, so one row per doc
    # suffices: the tf == 1.0 rows are the per-doc argmax rows (tf is
    # cnt/maxcnt; the max row divides to exactly 1.0 in float64) — the
    # filter keeps the dedup hash tables at ties-per-doc size instead of
    # an every-posting groupBy(doc_id) aggregate.
    per_doc = (
        postings.where(F.col("tf") == 1.0)
        .select("doc_id", "length")
        .distinct()
    )
    stats = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .fillna({"length": 0})
    )
    stats.write.mode("overwrite").parquet(f"{path}/doc_stats")
    stats = spark.read.parquet(f"{path}/doc_stats")
    t["doc_stats"] = _time.perf_counter() - t0

    t0 = _time.perf_counter()
    gs_row = stats.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("length").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(gs_row["n_docs"]), float(gs_row["avgdl"] or 0.0)
    global_stats = spark.createDataFrame(
        [(n_docs, avgdl)], "n_docs long, avgdl double"
    )
    global_stats.write.mode("overwrite").parquet(f"{path}/global_stats")
    t["global_stats"] = _time.perf_counter() - t0

    t0 = _time.perf_counter()
    dictionary = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn(
            "idf",
            F.log2(
                (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
    )
    dictionary.write.mode("overwrite").parquet(f"{path}/dictionary")
    t["dictionary"] = _time.perf_counter() - t0

    return load_index(spark, path)


# one row: the layout facts every serving reader takes from the layout
# (write_serving_stats says what each column is for); layouts written
# before a column existed still load, and readers default what is absent
GLOBAL_STATS_SCHEMA = (
    "n_docs long, avgdl double, chunk_bits int, total_len long, "
    "min_enc_avgdl double, max_enc_avgdl double, max_doc_id long"
)


def write_serving_stats(
    spark: SparkSession,
    path: str,
    *,
    n_docs: int,
    avgdl: float,
    chunk_bits: int,
    total_len: int,
    max_doc_id: int,
    min_enc_avgdl: float,
    max_enc_avgdl: float,
) -> None:
    """Refresh the dictionary from ``postings_comp`` and then overwrite
    ``global_stats`` with :data:`GLOBAL_STATS_SCHEMA`. The build, delta
    merge and compaction all finish through here, so every serving layout
    carries the same columns:

    - ``chunk_bits`` is a layout constant: doc ids decode as
      ``chunk << chunk_bits``, so a reader that assumes another value
      scores the wrong doc ids.
    - ``max_doc_id`` bounds the chunk space. Doc ids need not be dense in
      ``[0, n_docs)``, so shard planners size coverage from it, never
      from the count.
    - ``total_len`` (a long) makes a merged avgdl the exact double a
      rebuild computes, and lets readers skip a ``doc_stats`` scan.
    - ``min_enc_avgdl``/``max_enc_avgdl`` span the encode-time avgdl of
      every segment (the pruning-bound scales, indexing/merge.py).

    df sums ``df_chunk`` across fragments, which is exact because
    segments hold disjoint doc sets. idf changes for every term when N
    changes, so the whole (small) dictionary is recomputed."""
    comp = spark.read.parquet(f"{path}/postings_comp")
    dictionary = (
        comp.groupBy("term")
        .agg(F.sum("df_chunk").alias("df"))
        .withColumn(
            "idf",
            F.log2(
                (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
    )
    dictionary.write.mode("overwrite").parquet(f"{path}/dictionary")
    _ensure_schema_file(dictionary, f"{path}/dictionary")
    spark.createDataFrame(
        [(int(n_docs), float(avgdl), int(chunk_bits), int(total_len),
          float(min_enc_avgdl), float(max_enc_avgdl), int(max_doc_id))],
        GLOBAL_STATS_SCHEMA,
    ).write.mode("overwrite").parquet(f"{path}/global_stats")


def _ensure_schema_file(df: DataFrame, path: str) -> None:
    """Layout invariant: every persisted index table has at least one
    parquet file. Spark writes NO data files for an empty frame, leaving
    a bare directory that fails schema inference for every future reader
    (load_serving_index, merge, fsck). After a write, drop one zero-row
    schema-carrying file if none exists — empty shards of a sharded
    corpus are legitimate inputs at scale and must build valid (empty)
    indexes. Paths route through pyarrow.fs like every layout I/O."""
    from pyarrow import fs as pafs
    import pyarrow.parquet as pq

    from .compress import _resolve_fs

    fs, p = _resolve_fs(path)
    names = [
        i.base_name
        for i in fs.get_file_info(pafs.FileSelector(p))
        if i.is_file and i.base_name.endswith(".parquet")
    ]
    if names:
        return
    with fs.open_output_stream(f"{p}/part-empty.parquet") as fh:
        pq.write_table(df.limit(0).toArrow(), fh)


def build_and_save_serving(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    stem: bool = True,
    chunk_bits: int | None = None,
    partitions: int = 64,
    max_doc_id_hint: int | None = None,
    timings: dict | None = None,
) -> "ServingIndex":
    """The north-rule serving build: tokenize → ONE salted/sorted term-chunk
    shuffle → raw postings on disk → shuffle-FREE compression pass → the
    delta+varbyte block-max chunks WAND serves, plus the derived tables.

    ``partitions`` fixes the width of the (term, chunk) shuffle — the index
    LAYOUT is a design constant of the table, not a function of the cluster
    size that happened to build it (a cluster-size-dependent width makes
    small builders sort giant per-task runs into spill while big builders
    write shards too small to scan efficiently). Size it so a task's sort
    run fits in executor memory at the target corpus scale.

    Physical plan (the Spark re-expression of SPIMI partial dump + fastmerge
    + posting serialization, Indexer.java:447-902 / Index.java:209-228):

      action 1  raw postings: repartition(term, chunk) — head-term skew is
                bounded because ``chunk = doc_id >> chunk_bits`` splits any
                term across doc-range chunks — sortWithinPartitions, write.
      action 2  doc_stats + global stats from the raw table (two int
                columns, column-pruned scan) — yields avgdl for the
                block-max metadata before any chunk is encoded.
      action 3  compression: one Spark task per raw file, each reading its
                file directly with pyarrow and writing one compressed file
                (compress_files — no shuffle, and the posting stream never
                crosses the row-oriented JVM↔Python bridge).
      then      dictionary from the compressed chunks: Σ df_chunk per term,
                a scan of two tiny columns, then the one global_stats
                write (:func:`write_serving_stats`, shared with merge and
                compaction); n_postings from the per-file compression
                metrics.

    The raw table doubles as postings_flat for the naive/oracle BM25 path
    (tf = cnt/maxcnt recomputed on read — identical IEEE division), so
    nothing is stored twice.

    Precondition: ``id_col`` values must be UNIQUE across ``docs`` (the
    reference assigns dense unique ids at scan time, Indexer.java:423).
    The doc_stats derivation keeps argmax rows and dedupes — under
    duplicate doc_ids two docs' (length, maxcnt) pairs would both
    survive, fanning out every doc_stats join downstream. Dedup upstream
    (pipeline_ops.dedup) or assign ids before building.

    ``chunk_bits=None`` (the default) AUTO-SIZES the chunk layout from
    the corpus id ceiling (:func:`..compress.choose_chunk_bits`): the
    production 2^16-doc chunks whenever the corpus yields ≥128 chunk
    atoms at them, progressively finer (floor 2^10) below that so the
    sharded serving plan is never task-starved on small corpora — the
    r4 failure mode where a 19-atom layout capped 16 cores at ~0.6
    scaling efficiency. Sizing needs ``max(id_col)`` BEFORE the chunk
    column exists, which costs one extra column-pruned pre-pass over
    ``docs``; pass ``max_doc_id_hint`` (any upper bound ≥ the true max
    works, e.g. the known corpus size) to skip it, or an explicit
    ``chunk_bits`` to pin the layout outright. At web scale the auto
    always lands on 16 (≥2^23 docs), so the pre-pass is only ever paid
    by corpora small enough for it to be cheap.
    """
    import time as _time

    from pyspark.sql import Observation

    from .compress import choose_chunk_bits, compress_files

    if chunk_bits is not None:
        cb = chunk_bits
    else:
        id_ceiling = max_doc_id_hint
        if id_ceiling is None:
            id_ceiling = (
                docs.agg(F.max(F.col(id_col)).alias("m")).collect()[0]["m"]
                or 0
            )
        cb = choose_chunk_bits(int(id_ceiling))
    t = timings if timings is not None else {}
    spark = docs.sparkSession

    t0 = _time.perf_counter()
    # N rides the tokenize pass as an observation on the (tiny, pre-explode)
    # corpus scan — the serving build reads the corpus EXACTLY once; a
    # docs.count() here would be a second full pass for one scalar.
    obs = Observation("corpus_stats")
    counts = term_counts_arrow(
        docs.observe(obs, F.count(F.lit(1)).alias("n_docs")),
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
    raw.write.mode("overwrite").parquet(f"{path}/postings_raw")
    _ensure_schema_file(raw, f"{path}/postings_raw")
    t["postings_write"] = _time.perf_counter() - t0

    t0 = _time.perf_counter()
    # explicit schema: skips footer inference, and keeps an EMPTY raw
    # table (zero-row corpus → no data files) readable
    raw_r = spark.read.schema(raw.schema).parquet(f"{path}/postings_raw")
    # Every raw row already carries its doc's (maxcnt, length) — the Arrow
    # tokenize kernel computes them doc-locally — so doc_stats needs one
    # row per doc, not an aggregate: keep only rows where cnt == maxcnt
    # (the argmax row; exact — both are small integers in float64) and
    # dedupe. vs groupBy(doc_id).agg: the filter keeps the partial-agg
    # hash tables tiny (ties per doc, not every posting), which at 83M
    # postings / 1.2M docs halves this phase's wall time at high core
    # counts (the n_docs-keyed hash agg per task was the cost).
    per_doc = (
        raw_r.where(F.col("cnt") == F.col("maxcnt"))
        .select("doc_id", "length", "maxcnt")
        .distinct()
    )
    per_doc.write.mode("overwrite").parquet(f"{path}/doc_stats")
    _ensure_schema_file(per_doc, f"{path}/doc_stats")
    # Zero-token docs (e.g. all-non-ASCII after P2) have NO doc_stats row in
    # the serving layout — no scoring path can ever touch one (they appear
    # in no posting). They still count toward N and avgdl exactly as the
    # reference's every-doc records do (Indexer.java:423-443): N is the
    # corpus count and avgdl = Σ length / N, not avg over stats rows.
    gs_row = (
        spark.read.parquet(f"{path}/doc_stats")
        .agg(
            F.sum("length").alias("total"),
            F.max("doc_id").alias("max_doc_id"),
            F.count(F.lit(1)).alias("stat_rows"),
            F.countDistinct("doc_id").alias("stat_ids"),
        )
        .collect()[0]
    )
    # Rides the same aggregation job (no extra scan): duplicate input
    # doc_ids with differing (length, maxcnt) survive the argmax+distinct
    # derivation as extra rows — fail the build loudly here rather than
    # fan out every doc_stats join downstream.
    if int(gs_row["stat_rows"]) != int(gs_row["stat_ids"]):
        raise ValueError(
            "build_and_save_serving: doc_stats has "
            f"{gs_row['stat_rows']} rows for {gs_row['stat_ids']} distinct "
            f"doc_ids — input '{id_col}' values are not unique. "
            "Deduplicate or reassign ids before building."
        )
    try:
        n_docs = int(obs.get["n_docs"])
    except Exception:
        # Observation metrics only fire if the observed scan ran tasks; a
        # ZERO-task plan (e.g. a fully partition-pruned empty shard of a
        # sharded corpus) never fires and obs.get raises an opaque py4j
        # assertion. The only way to reach that state is an empty input —
        # confirm with a count (trivially cheap on a zero-task scan)
        # rather than assume, and build a valid empty index.
        n_docs = docs.count()
        if n_docs:  # metrics lost for a NON-empty corpus: a real bug
            raise
    total_len = int(gs_row["total"] or 0)
    avgdl = float(total_len) / n_docs if n_docs else 0.0
    max_doc_id = int(gs_row["max_doc_id"] or 0)
    t["doc_stats"] = _time.perf_counter() - t0

    t0 = _time.perf_counter()
    import shutil as _shutil

    _shutil.rmtree(f"{path}/postings_comp", ignore_errors=True)
    cmetrics = compress_files(
        spark, f"{path}/postings_raw", f"{path}/postings_comp", avgdl,
        chunk_bits=cb,
    )
    n_postings = sum(m["postings"] for m in cmetrics)
    t["compress"] = _time.perf_counter() - t0

    t0 = _time.perf_counter()
    write_serving_stats(
        spark, path, n_docs=n_docs, avgdl=avgdl, chunk_bits=cb,
        total_len=total_len, max_doc_id=max_doc_id,
        min_enc_avgdl=avgdl, max_enc_avgdl=avgdl,
    )
    t["dictionary"] = _time.perf_counter() - t0

    idx = load_serving_index(spark, path)
    idx.n_postings = n_postings
    return idx


@dataclass
class ServingIndex:
    """InvertedIndex tables + the compressed chunk table WAND serves.

    ``chunk_bits`` is the persisted layout constant — pass it to
    ``wand_topk`` / ``decode_chunk_row`` when serving a reloaded index.
    ``path`` is the directory the layout was built or loaded from, so
    serving plans that read files (``wand_topk_sharded``, federated
    legs) can address it.
    """

    index: InvertedIndex
    compressed: DataFrame
    path: str
    n_postings: int = -1
    chunk_bits: int = DEFAULT_CHUNK_BITS
    # highest doc_id holding any posting — bounds the chunk space for
    # shard planning (doc_ids need not be dense in [0, n_docs))
    max_doc_id: int = 0

    def __getattr__(self, name):  # delegate table access to the index
        # guard 'index' itself (and dunders): during copy/pickle the
        # instance dict may not exist yet — unconditional delegation would
        # recurse on the missing attribute instead of raising AttributeError
        if name == "index" or name.startswith("_"):
            raise AttributeError(name)
        return getattr(self.index, name)


def load_serving_index(spark: SparkSession, path: str) -> ServingIndex:
    raw = spark.read.parquet(f"{path}/postings_raw")
    postings_flat = raw.select(
        "term", "doc_id", (F.col("cnt") / F.col("maxcnt")).alias("tf"), "length"
    )
    dictionary = spark.read.parquet(f"{path}/dictionary")
    doc_stats = spark.read.parquet(f"{path}/doc_stats")
    global_stats = spark.read.parquet(f"{path}/global_stats")
    row = global_stats.collect()[0]
    cb = (
        int(row["chunk_bits"])
        if "chunk_bits" in global_stats.columns
        else DEFAULT_CHUNK_BITS  # pre-chunk_bits layouts
    )
    idx = InvertedIndex(
        counts=raw,
        postings_flat=postings_flat,
        dictionary=dictionary,
        doc_stats=doc_stats,
        global_stats=global_stats,
        n_docs=int(row["n_docs"]),
        avgdl=float(row["avgdl"]),
    )
    compressed = spark.read.parquet(f"{path}/postings_comp")
    if "max_doc_id" in global_stats.columns:
        mdi = int(row["max_doc_id"])
    else:  # pre-max_doc_id layouts: one doc_stats scan at load time
        mdi = int(
            doc_stats.agg(F.max("doc_id").alias("m")).collect()[0]["m"] or 0
        )
    return ServingIndex(
        index=idx, compressed=compressed, path=path, chunk_bits=cb,
        max_doc_id=mdi,
    )


def load_index(spark: SparkSession, path: str) -> InvertedIndex:
    postings = spark.read.parquet(f"{path}/postings_flat").drop("bucket")
    dictionary = spark.read.parquet(f"{path}/dictionary")
    doc_stats = spark.read.parquet(f"{path}/doc_stats")
    global_stats = spark.read.parquet(f"{path}/global_stats")
    row = global_stats.collect()[0]
    return InvertedIndex(
        counts=None,  # raw counts are not persisted; derived tables suffice
        postings_flat=postings,
        dictionary=dictionary,
        doc_stats=doc_stats,
        global_stats=global_stats,
        n_docs=int(row["n_docs"]),
        avgdl=float(row["avgdl"]),
    )
