"""Posting-list compression: docID-delta + varbyte, chunked by doc range,
with per-chunk score bounds (the north rule's new physical design; the
reference stores uncompressed 56-B fixed records, Index.java:209-228).

Layout decisions (scale rationale):
- Postings are chunked by **doc_id range** (``chunk = doc_id >> chunk_bits``)
  BEFORE grouping, so a head term ("the" at 10^12 docs ≈ 10^11 postings)
  never forms one giant group — each (term, chunk) group holds at most
  2^chunk_bits postings. This is the explicit skew handling: salting by a
  *meaningful* key (doc range), so chunks are disjoint, sorted, and directly
  queryable with no second-stage merge.
- Within a chunk everything is varbyte: doc_id deltas, raw term counts
  (cnt), per-doc max counts (maxcnt) and doc lengths (dl). Storing the
  INTEGER cnt/maxcnt instead of the float tf makes the round-trip exact —
  tf is recomputed as the identical IEEE division cnt/maxcnt — and counts
  compress to ~1 byte each. dl is denormalized into the posting so chunk
  scoring needs NO join with doc_stats at query time.
- Chunk bounds: per-chunk min/max of the BM25 "core"
  tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)) (``core_min``/``core_max``) — a
  layout fact kept checkable (tests/test_wand.py pins them at the float
  grain); no query plan skips a chunk on them today.

Everything here is applyInPandas/mapInPandas over Arrow batches; the codecs
are numpy-vectorized (no per-row Python in the hot loops).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

K1 = 2.0
B = 0.75
DEFAULT_CHUNK_BITS = 16
MIN_CHUNK_BITS = 10
# auto layout targets at least this many doc-range chunk atoms: the
# sharded serving plan's parallel unit is the chunk, and ~128 atoms keep
# shard assignment balanced to within ~1/8 at up to ~64-core serving
# tiers (BENCH_SCALING r4 measured the failure mode: 19 atoms cap 16
# cores at 0.59-0.66 efficiency)
TARGET_CHUNK_ATOMS = 128


def choose_chunk_bits(
    max_doc_id: int,
    *,
    target_atoms: int = TARGET_CHUNK_ATOMS,
    lo: int = MIN_CHUNK_BITS,
    hi: int = DEFAULT_CHUNK_BITS,
) -> int:
    """Auto-size the doc-range chunk layout from the corpus id ceiling.

    Largest ``chunk_bits`` in [lo, hi] whose chunk count
    ``(max_doc_id >> cb) + 1`` reaches ``target_atoms`` — big chunks
    amortize per-row decode and compress best, but the sharded serving
    plan cannot run more tasks than there are chunk atoms, so a small
    corpus must trade chunk size for parallelism. Floors at ``lo``
    (1024-doc chunks): finer than that, (term, chunk) rows shrink to a
    handful of postings and per-row storage/decode overhead dominates.
    At web scale the constraint never binds: ≥ 2^23 docs already yields
    128 atoms at the production ``hi`` = 16, so auto always picks 16
    there — the knob exists for the small-corpus / few-core regime.
    """
    n = max(0, int(max_doc_id))
    for cb in range(hi, lo, -1):
        if (n >> cb) + 1 >= target_atoms:
            return cb
    return lo

# --- numpy varbyte codec ----------------------------------------------------


def vb_encode_with_lengths(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Varbyte-encode a uint64 array: little-endian 7-bit groups, MSB set on
    continuation bytes. Fully vectorized (one pass per byte position).
    Returns (uint8 buffer array, per-value byte lengths): the lengths let a
    caller that encoded many concatenated posting lists in ONE call slice
    the buffer back apart by cumulative offsets — and because each group's
    bytes are CONTIGUOUS in the buffer, :func:`_encode_groups` wraps it
    into an Arrow binary column zero-copy (offsets + one values buffer),
    with no per-group slicing at all."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # byte count per value, bounded by the batch max: posting deltas /
    # counts / lengths are overwhelmingly 1-2 bytes, so scanning to the
    # worst case (10 passes for uint64) wastes 7+ full-array compares
    vmax = int(v.max())
    maxb = max(1, (vmax.bit_length() + 6) // 7)
    nb = np.ones(v.shape, dtype=np.int64)
    for kpow in range(1, maxb):
        nb += (v >= np.uint64(1) << np.uint64(7 * kpow)).astype(np.int64)
    if maxb == 1:
        return v.astype(np.uint8), nb
    # (n, maxb) byte matrix, then one boolean-mask gather: value i's live
    # bytes are consecutive in row-major order, which IS the varbyte
    # stream. A C-level gather replaces the per-byte-position fancy-index
    # scatter (measured 3-8x on realistic posting batches).
    M = np.empty((v.size, maxb), dtype=np.uint8)
    mask = np.empty((v.size, maxb), dtype=bool)
    for j in range(maxb):
        col = (v >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = nb > j + 1
        M[:, j] = col.astype(np.uint8) | (cont.astype(np.uint8) << 7)
        mask[:, j] = nb > j
    return M[mask], nb


def vb_encode(values: np.ndarray) -> bytes:
    return vb_encode_with_lengths(values)[0].tobytes()


def vb_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`vb_encode`, vectorized via reduceat."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    firsts = np.concatenate([[0], np.nonzero(is_last)[0][:-1] + 1])
    value_id = np.zeros(b.size, dtype=np.int64)
    value_id[1:] = np.cumsum(is_last[:-1])
    pos = np.arange(b.size, dtype=np.int64) - firsts[value_id]
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * pos.astype(np.uint64)
    )
    return np.add.reduceat(contrib, firsts)


# --- chunked compressed postings ---------------------------------------------

POSTING_CHUNK_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("chunk", IntegerType(), False),
        StructField("df_chunk", LongType(), False),
        StructField("doc_bytes", BinaryType(), False),
        StructField("cnt_bytes", BinaryType(), False),
        StructField("mc_bytes", BinaryType(), False),
        StructField("dl_bytes", BinaryType(), False),
        StructField("core_min", DoubleType(), False),
        StructField("core_max", DoubleType(), False),
    ]
)


def bm25_core(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def build_postings_compressed(
    counts: DataFrame,
    doc_stats: DataFrame,
    avgdl: float,
    *,
    chunk_bits: int = DEFAULT_CHUNK_BITS,
) -> DataFrame:
    """(doc_id, term, cnt) + (doc_id, maxcnt, length) → compressed chunks.

    One shuffle: groupBy(term, chunk). The doc_stats join is a plain
    equi-join Catalyst plans freely (broadcast at small N, sort-merge at
    scale; at 10^12 docs bucket both sides by doc_id)."""
    chunk_size = 1 << chunk_bits

    if {"maxcnt", "length"}.issubset(set(counts.columns)):
        joined = counts  # Arrow-path counts already carry per-doc stats
    else:
        joined = counts.join(
            doc_stats.select("doc_id", "maxcnt", "length"), "doc_id"
        )
    joined = joined.withColumn(
        "chunk", (F.col("doc_id") / F.lit(chunk_size)).cast("int")
    )

    def compress_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        term = pdf["term"].iloc[0]
        chunk = int(pdf["chunk"].iloc[0])
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        base = chunk << chunk_bits
        deltas = np.empty(doc_ids.shape, dtype=np.uint64)
        deltas[0] = doc_ids[0] - base
        deltas[1:] = np.diff(doc_ids).astype(np.uint64)
        cnt = pdf["cnt"].to_numpy(dtype=np.int64)
        mc = pdf["maxcnt"].to_numpy(dtype=np.int64)
        dl = pdf["length"].to_numpy(dtype=np.int64)
        tf = cnt.astype(np.float64) / mc.astype(np.float64)
        core = bm25_core(tf, dl.astype(np.float64), avgdl)
        return pd.DataFrame(
            {
                "term": [term],
                "chunk": [chunk],
                "df_chunk": [len(doc_ids)],
                "doc_bytes": [vb_encode(deltas)],
                "cnt_bytes": [vb_encode(cnt.astype(np.uint64))],
                "mc_bytes": [vb_encode(mc.astype(np.uint64))],
                "dl_bytes": [vb_encode(dl.astype(np.uint64))],
                "core_min": [float(core.min())],
                "core_max": [float(core.max())],
            }
        )

    return joined.groupBy("term", "chunk").applyInPandas(
        compress_group, POSTING_CHUNK_SCHEMA
    )


def _encode_groups(
    terms_out, chunks: np.ndarray, doc_ids: np.ndarray, cnt: np.ndarray,
    mc: np.ndarray, dl: np.ndarray, gstart: np.ndarray,
    chunk_bits: int, avgdl: float,
):
    """Compress ALL complete (term, chunk) groups of sorted flat arrays at
    once → one pyarrow RecordBatch (one row per group).

    Rows MUST be sorted so groups are contiguous and doc_id-sorted within.
    Every varbyte stream for the whole frame is encoded in ONE vectorized
    call, then sliced back per group by cumulative byte offsets — the
    per-group Python work is two buffer slices per column, not an encode.
    Group min/max come from reduceat over group starts.
    ``terms_out`` is a pyarrow string array with ONE entry per group — term
    strings for the 10^8-row input never materialize as Python objects.
    """
    import pyarrow as pa

    if pa.types.is_dictionary(terms_out.type):
        # one entry per GROUP (not per posting) — casting the take result
        # back to dense string here is O(groups) and keeps every emitted
        # batch on the declared string schema
        terms_out = terms_out.cast(pa.string())

    n = len(doc_ids)
    gstart = np.asarray(gstart, dtype=np.int64)
    gend = np.concatenate([gstart[1:], [n]])
    glen = gend - gstart

    bases = chunks[gstart].astype(np.int64) << chunk_bits
    deltas = np.empty(n, dtype=np.int64)
    deltas[1:] = np.diff(doc_ids)
    deltas[gstart] = doc_ids[gstart] - bases
    tf = cnt.astype(np.float64) / mc.astype(np.float64)
    core = bm25_core(tf, dl.astype(np.float64), avgdl)

    cols = {}
    off_idx = np.concatenate([gstart, [n]])
    for name, arr in (
        ("doc_bytes", deltas.astype(np.uint64)),
        ("cnt_bytes", cnt.astype(np.uint64)),
        ("mc_bytes", mc.astype(np.uint64)),
        ("dl_bytes", dl.astype(np.uint64)),
    ):
        buf, nb = vb_encode_with_lengths(arr)
        boff = np.concatenate([[0], np.cumsum(nb)])
        # group byte ranges are contiguous (end of group i == start of
        # group i+1), so the Arrow binary column is just (offsets, buffer)
        # — zero-copy, no per-group Python slicing. At ~10^6 (term, chunk)
        # groups per task the old slice-per-group loop (4 columns × groups
        # bytes copies) dominated the phase's CPU profile.
        if boff[-1] > np.iinfo(np.int32).max:
            raise ValueError(
                f"varbyte column {name} exceeds 2^31 bytes in one batch; "
                "lower batch_rows"
            )
        offsets = boff[off_idx].astype(np.int32)
        cols[name] = pa.Array.from_buffers(
            pa.binary(), len(gstart),
            [None, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(buf))],
        )

    core_min = np.minimum.reduceat(core, gstart)
    core_max = np.maximum.reduceat(core, gstart)

    return pa.RecordBatch.from_arrays(
        [
            terms_out,
            pa.array(chunks[gstart].astype(np.int32), type=pa.int32()),
            pa.array(glen, type=pa.int64()),
            cols["doc_bytes"],
            cols["cnt_bytes"],
            cols["mc_bytes"],
            cols["dl_bytes"],
            pa.array(core_min, type=pa.float64()),
            pa.array(core_max, type=pa.float64()),
        ],
        names=[
            "term", "chunk", "df_chunk", "doc_bytes", "cnt_bytes",
            "mc_bytes", "dl_bytes", "core_min", "core_max",
        ],
    )


def build_postings_compressed_sorted(
    counts: DataFrame,
    doc_stats: DataFrame,
    avgdl: float,
    *,
    chunk_bits: int = DEFAULT_CHUNK_BITS,
) -> DataFrame:
    """Scale-path compressor: same output as :func:`build_postings_compressed`
    (equality-tested), different physical plan.

    groupBy().applyInPandas pays one Python call + one pandas frame per
    (term, chunk) group — at ~10^5 groups/bench (and ~10^9 at web scale) the
    per-group overhead dominates the actual encoding (measured 90 s vs 13 s
    for the rest of the build). Here the shuffle is an explicit
    repartition(term, chunk) + sortWithinPartitions, and a mapInArrow
    stream compresses whole Arrow batches of groups at once
    (:func:`_compress_batches`), carrying the possibly-split last group across
    batch boundaries. Memory is bounded by one (term, chunk) group
    (≤ 2^chunk_bits postings) plus one Arrow batch.
    """
    if {"maxcnt", "length"}.issubset(set(counts.columns)):
        joined = counts
    else:
        joined = counts.join(
            doc_stats.select("doc_id", "maxcnt", "length"), "doc_id"
        )
    chunk_size = 1 << chunk_bits
    joined = joined.withColumn(
        "chunk", (F.col("doc_id") / F.lit(chunk_size)).cast("int")
    ).select("term", "chunk", "doc_id", "cnt", "maxcnt", "length")
    return compress_presorted(
        joined.repartition("term", "chunk")
        .sortWithinPartitions("term", "chunk", "doc_id"),
        avgdl,
        chunk_bits=chunk_bits,
    )


def compress_presorted(
    raw: DataFrame, avgdl: float, *, chunk_bits: int = DEFAULT_CHUNK_BITS
) -> DataFrame:
    """Compress a raw postings frame whose partitions hold (term, chunk)
    groups contiguously, each group doc_id-sorted — e.g. the output of
    ``repartition(term, chunk).sortWithinPartitions(...)``, or a re-read of
    files written that way (each shuffle task's file holds whole groups, so
    concatenating files into read partitions preserves contiguity).

    Split tolerance: if a storage layer DOES split one group across two
    partitions (a file larger than maxPartitionBytes gets divided), the
    result is two fragment rows for that (term, chunk) — each is a valid
    chunk (deltas are base-relative), and every consumer (wand scorer,
    decode_postings, compression_metrics, dictionary aggregation) treats
    fragments additively, so results remain exact; only the layout is
    marginally less compact.

    Physical path is ``mapInArrow``: the hot input columns stay Arrow/numpy
    end-to-end — a mapInPandas version materialized every row's term as a
    Python string (10^8 objects per task at bench scale) and was 3×
    slower. Per batch, group boundaries come from dictionary-encoded term
    indices (sorted input ⇒ codes are monotone), whole batches of groups
    encode in one vectorized pass, and only the possibly-incomplete LAST
    group is carried to the next batch as plain numpy slices.
    """
    def gen(batches):
        yield from _compress_batches(batches, chunk_bits, avgdl)

    return raw.select(
        "term", "chunk", "doc_id", "cnt", "maxcnt", "length"
    ).mapInArrow(gen, POSTING_CHUNK_SCHEMA)


def _compress_batches(batches, chunk_bits: int, avgdl: float):
    """Stream-compress an iterator of pyarrow RecordBatches (sorted, group-
    contiguous — see :func:`compress_presorted`) into chunk-row batches.
    Shared by the mapInArrow path and the file-parallel path."""
    import pyarrow as pa
    import pyarrow.compute as pc

    pend: dict | None = None  # carried last group (numpy arrays + key)

    def np_cols(rb: "pa.RecordBatch") -> dict:
        # int64 is required downstream (delta/shift math), but skip the
        # copy when the column already IS int64 — astype always copies,
        # and at 10^8 postings the redundant copies are pure memory
        # traffic in the phase that's bandwidth-bound at high core counts
        out = {}
        for name in ("chunk", "doc_id", "cnt", "maxcnt", "length"):
            arr = rb.column(name).to_numpy(zero_copy_only=False)
            out[name] = arr if arr.dtype == np.int64 else arr.astype(np.int64)
        return out

    def flush(p: dict) -> "pa.RecordBatch":
        return _encode_groups(
            pa.array([p["term"]], type=pa.string()),
            np.asarray([p["chunk_val"]] * len(p["doc_id"]), dtype=np.int64),
            p["doc_id"], p["cnt"], p["maxcnt"], p["length"],
            np.array([0], dtype=np.int64), chunk_bits, avgdl,
        )

    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        term = rb.column("term")
        cols = np_cols(rb)
        if pa.types.is_dictionary(term.type):
            # file-parallel path reads with read_dictionary=["term"]: the
            # codes already exist — adjacent-equality on them is exact
            # (parquet dictionaries hold unique values) and the 10^8 dense
            # term strings never materialize at all
            codes = term.indices.to_numpy(zero_copy_only=False)
        else:
            codes = pc.dictionary_encode(term).indices.to_numpy(
                zero_copy_only=False
            )
        newg = np.empty(n, dtype=bool)
        newg[0] = True
        np.logical_or(
            codes[1:] != codes[:-1],
            cols["chunk"][1:] != cols["chunk"][:-1],
            out=newg[1:],
        )
        gstart = np.flatnonzero(newg)

        first_term = term[0].as_py()
        first_chunk = int(cols["chunk"][0])
        if pend is not None:
            if (pend["term"], pend["chunk_val"]) == (first_term, first_chunk):
                # batch continues the carried group: prepend its rows
                plen = len(pend["doc_id"])
                cols["chunk"] = np.concatenate(
                    [pend["chunk_arr"], cols["chunk"]]
                )
                for k in ("doc_id", "cnt", "maxcnt", "length"):
                    cols[k] = np.concatenate([pend[k], cols[k]])
                gstart = np.concatenate([[0], gstart[1:] + plen])
                n += plen
            else:
                yield flush(pend)
            pend = None

        # hold back the final group (may continue in the next batch)
        last_start = int(gstart[-1])
        pend = {
            "term": term[rb.num_rows - 1].as_py(),
            "chunk_val": int(cols["chunk"][n - 1]),
            "chunk_arr": cols["chunk"][last_start:],
            "doc_id": cols["doc_id"][last_start:],
            "cnt": cols["cnt"][last_start:],
            "maxcnt": cols["maxcnt"][last_start:],
            "length": cols["length"][last_start:],
        }
        if last_start == 0:
            continue  # whole batch is one (possibly continuing) group
        head_gstart = gstart[:-1]
        # one output term string per group, taken from the arrow array
        # (indices are batch-relative: subtract any prepended rows)
        take_idx = head_gstart - (n - rb.num_rows)
        take_idx[0] = max(int(take_idx[0]), 0)
        terms_out = pc.take(term, pa.array(take_idx, type=pa.int64()))
        yield _encode_groups(
            terms_out, cols["chunk"][:last_start],
            cols["doc_id"][:last_start], cols["cnt"][:last_start],
            cols["maxcnt"][:last_start], cols["length"][:last_start],
            head_gstart, chunk_bits, avgdl,
        )
    if pend is not None and len(pend["doc_id"]):
        yield flush(pend)


def _resolve_fs(path: str):
    """path/URI → (pyarrow.fs.FileSystem, fs-local path). Plain paths map
    to LocalFileSystem; URIs (s3://, hdfs://, file://, …) resolve via
    FileSystem.from_uri. Called independently on the driver (listing) and
    inside each executor task (read/write), so nothing filesystem-bound
    is ever pickled into a closure — only the path strings travel."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def compress_files(
    spark,
    raw_path: str,
    out_path: str,
    avgdl: float,
    *,
    chunk_bits: int = DEFAULT_CHUNK_BITS,
    batch_rows: int = 1 << 20,
) -> list[dict]:
    """File-parallel compression: Spark schedules one task per raw postings
    file; each task reads its file DIRECTLY with pyarrow (columnar C++
    reader), stream-compresses it (:func:`_compress_batches`), and writes
    one output parquet file — the JVM↔Python row bridge never touches the
    posting stream.

    Why not the mapInArrow DataFrame path for this phase: Spark's Python
    runners convert scan output row-by-row into Arrow batches on the JVM
    side; measured at 83M postings that conversion alone costs 32 s on 16
    cores and (worse) hardly scales from 4→16 cores (~1.25×, contended).
    The file-parallel stage is pure C++/numpy per task and scales with
    tasks. Each shuffle-reduce task wrote whole (term, chunk) groups into
    one file, so per-file compression is exact with no cross-file carry.
    At cluster scale the same tasks read/write object storage through
    pyarrow.fs; Spark remains the scheduler, retry and lineage layer.

    Returns per-file metrics dicts (north-rule lineage: postings, chunk
    rows, bytes in/out, seconds).

    Storage routing: paths go through ``pyarrow.fs``. A URI
    (``s3://…``, ``hdfs://…``, ``file://…``) resolves via
    ``FileSystem.from_uri`` — the driver lists through it and each
    executor task re-resolves the same URI, so object storage works from
    any master. A PLAIN path means the driver's local disk, which
    executors can only see under a local[..]/local-cluster master (or a
    mounted shared FS) — any other master fails loudly instead of reading
    missing/stale files.
    """
    master = spark.sparkContext.master
    if (
        "://" not in raw_path or "://" not in out_path
    ) and not master.startswith("local"):
        raise NotImplementedError(
            "compress_files with plain (driver-local) paths requires a "
            f"local[..] master (master={master!r}, raw_path={raw_path!r}, "
            f"out_path={out_path!r}); on a cluster pass object-store/"
            "shared-FS URIs (s3://, hdfs://, file://) for BOTH paths so "
            "each task resolves them via pyarrow.fs"
        )

    fs_raw, raw_p = _resolve_fs(raw_path)
    fs_out, out_p = _resolve_fs(out_path)
    from pyarrow import fs as pafs

    files = sorted(
        info.base_name
        for info in fs_raw.get_file_info(pafs.FileSelector(raw_p))
        if info.is_file
        and info.base_name.endswith(".parquet")
        and not info.base_name.startswith((".", "_"))
    )
    fs_out.create_dir(out_p, recursive=True)

    def one(fname: str) -> dict:
        import time as _time

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        t0 = _time.perf_counter()
        t_fs_raw, t_raw_p = _resolve_fs(raw_path)
        t_fs_out, t_out_p = _resolve_fs(out_path)
        src = f"{t_raw_p}/{fname}"
        # read term dictionary-encoded: group-boundary detection runs on
        # the int32 codes and the dense string column (the widest column
        # of the raw table) is never materialized — measured, this is the
        # difference between the compress phase scaling with cores and
        # saturating memory bandwidth
        with t_fs_raw.open_input_file(src) as fh:
            pf = _pq.ParquetFile(fh, read_dictionary=["term"])
            cols = ["term", "chunk", "doc_id", "cnt", "maxcnt", "length"]
            out_batches = list(
                _compress_batches(
                    pf.iter_batches(batch_size=batch_rows, columns=cols),
                    chunk_bits, avgdl,
                )
            )
            n_rows = pf.metadata.num_rows
        dst = f"{t_out_p}/{fname}"
        if out_batches:
            tbl = _pa.Table.from_batches(out_batches)
            _pq.write_table(
                tbl, dst, compression="snappy", filesystem=t_fs_out
            )
            n_chunks = tbl.num_rows
        else:
            n_chunks = 0
        out = {
            "file": fname,
            "postings": int(n_rows),
            "chunks": int(n_chunks),
            "bytes_in": int(t_fs_raw.get_file_info(src).size),
            "bytes_out": (
                int(t_fs_out.get_file_info(dst).size) if out_batches else 0
            ),
            "seconds": round(_time.perf_counter() - t0, 3),
        }
        del out_batches
        # long-lived reused python workers must not retain the read/write
        # buffers of a one-shot compression task
        _pa.default_memory_pool().release_unused()
        return out

    if files:
        sc = spark.sparkContext
        metrics = sc.parallelize(files, len(files)).map(one).collect()
    else:
        metrics = []
    if not any(m["chunks"] for m in metrics):
        # zero output chunks (empty corpus, or an empty shard of a sharded
        # build): a task only writes its file when it has batches, so the
        # directory would be bare and every downstream reader would fail
        # parquet schema inference. Write ONE zero-row file carrying the
        # layout schema — an empty index is a valid index.
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        empty = _pa.table({
            "term": _pa.array([], _pa.string()),
            "chunk": _pa.array([], _pa.int32()),
            "df_chunk": _pa.array([], _pa.int64()),
            "doc_bytes": _pa.array([], _pa.binary()),
            "cnt_bytes": _pa.array([], _pa.binary()),
            "mc_bytes": _pa.array([], _pa.binary()),
            "dl_bytes": _pa.array([], _pa.binary()),
            "core_min": _pa.array([], _pa.float64()),
            "core_max": _pa.array([], _pa.float64()),
        })
        with fs_out.open_output_stream(f"{out_p}/part-empty.parquet") as fh:
            _pq.write_table(empty, fh)
    # commit marker so spark.read.parquet treats the dir as a valid table
    with fs_out.open_output_stream(f"{out_p}/_SUCCESS"):
        pass
    return metrics


def decode_chunk_row(
    row, *, chunk_bits: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """→ (doc_ids int64, tf float64, dl int64) for one compressed row.
    ``chunk_bits`` must be the layout's value: it maps the chunk back to
    its base doc id."""
    deltas = vb_decode(row["doc_bytes"]).astype(np.int64)
    doc_ids = np.cumsum(deltas) + (int(row["chunk"]) << chunk_bits)
    cnt = vb_decode(row["cnt_bytes"]).astype(np.float64)
    mc = vb_decode(row["mc_bytes"]).astype(np.float64)
    dl = vb_decode(row["dl_bytes"]).astype(np.int64)
    return doc_ids, cnt / mc, dl


DECODED_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tf", DoubleType(), False),
        StructField("length", LongType(), False),
    ]
)


def decode_postings(
    compressed: DataFrame, *, chunk_bits: int
) -> DataFrame:
    """Compressed chunks → flat (term, doc_id, tf, length): the round-trip
    proof used by tests and the driver's postings_roundtrip oracle check.
    ``chunk_bits`` as in :func:`decode_chunk_row`."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                doc_ids, tf, dl = decode_chunk_row(row, chunk_bits=chunk_bits)
                outs.append(
                    pd.DataFrame(
                        {
                            "term": row["term"],
                            "doc_id": doc_ids,
                            "tf": tf,
                            "length": dl,
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return compressed.mapInPandas(gen, DECODED_SCHEMA)


def save_compressed(
    compressed: DataFrame, path: str, *, term_buckets: int = 64
) -> None:
    """Persist compressed chunks bucketed+clustered by term hash: the
    serving layout for query-time WAND. Salting is unnecessary here —
    chunking already split head terms into bounded (term, chunk) groups,
    so the repartition keys are well distributed."""
    (
        compressed.withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(term_buckets)).cast("int")
        )
        .repartition(term_buckets, "bucket")
        .write.mode("overwrite")
        .parquet(path)
    )


def load_compressed(spark, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("bucket")


def compression_metrics(compressed: DataFrame) -> DataFrame:
    """Per-chunk physical metrics — feeds the build_metrics table.
    bytes_uncompressed is the reference's 56-B/posting record
    (Index.java:209-228) as the comparison point."""
    return compressed.select(
        "term",
        "chunk",
        "df_chunk",
        (
            F.length("doc_bytes")
            + F.length("cnt_bytes")
            + F.length("mc_bytes")
            + F.length("dl_bytes")
        ).alias("bytes_compressed"),
        (F.col("df_chunk") * 56).alias("bytes_uncompressed"),
    )
