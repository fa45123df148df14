"""Structured Streaming ingest: micro-batches → checkpoint batches →
finalize ≡ one-shot batch build; windowed event-time metrics."""

import pytest

from themis_search_engine_spark.corpus import load_documents
from themis_search_engine_spark.indexing import build_index
from themis_search_engine_spark.streaming import (
    finalize_stream,
    ingest_pages_stream,
    windowed_ingest_rate,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stream_ingest_equals_batch_build(spark, tmp_path):
    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    # land the corpus as several files → several micro-batches
    in_dir = str(tmp_path / "landing")
    docs.repartition(3).write.parquet(in_dir)

    out = str(tmp_path / "stream_ckpt")
    q = ingest_pages_stream(
        spark, in_dir, out, stem=False, max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(120)
    assert not q.isActive

    from themis_search_engine_spark.indexing.checkpoint import snapshot_status

    st = snapshot_status(out)
    assert len(st["committed_batches"]) >= 2  # maxFilesPerTrigger=1, 3 files
    assert st["pending_batches"] == []

    idx_s = finalize_stream(spark, out)
    idx_b = build_index(docs, stem=False, use_arrow=True)
    a = sorted(
        (r["term"], r["doc_id"], round(r["tf"], 9))
        for r in idx_s.postings_flat.collect()
    )
    b = sorted(
        (r["term"], r["doc_id"], round(r["tf"], 9))
        for r in idx_b.postings_flat.collect()
    )
    assert a == b
    assert idx_s.n_docs == idx_b.n_docs
    assert idx_s.avgdl == pytest.approx(idx_b.avgdl)


def test_stream_serving_index_equals_batch_build(spark, tmp_path):
    """Continuous serving maintenance: micro-batches streamed through
    serve_pages_stream (bootstrap build + delta merges) must yield a
    LIVE index indistinguishable from one batch serving build — stats,
    dictionary and WAND ranks — with stream batch ids stamped in the
    merge log for replay idempotence."""
    import json

    from themis_search_engine_spark.indexing import (
        build_and_save_serving,
        load_serving_index,
    )
    from themis_search_engine_spark.queryeng import qterms_df
    from themis_search_engine_spark.queryeng.wand import wand_topk
    from themis_search_engine_spark.streaming import serve_pages_stream

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    in_dir = str(tmp_path / "landing")
    docs.repartition(3).write.parquet(in_dir)

    live = str(tmp_path / "live_idx")
    q = serve_pages_stream(
        spark, in_dir, live, stem=False, partitions=8,
        max_files_per_trigger=1, available_now=True,
    )
    q.awaitTermination(180)
    assert not q.isActive

    log = json.load(open(f"{live}/merge_log.json"))
    assert log[0]["type"] == "stream_bootstrap_pending"
    assert log[1]["type"] == "stream_bootstrap"
    marked = [e["stream_batch_id"] for e in log if "stream_batch_id" in e]
    assert len(marked) == len(set(marked)) >= 3  # every batch stamped once
    runs = {e["stream_run"] for e in log if "stream_run" in e}
    assert len(runs) == 1  # one checkpoint -> one run id

    idx_s = load_serving_index(spark, live)
    ref = str(tmp_path / "ref_idx")
    idx_b = build_and_save_serving(docs, ref, stem=False, partitions=8)
    assert idx_s.n_docs == idx_b.n_docs
    assert idx_s.avgdl == idx_b.avgdl  # exact long-total_len arithmetic
    assert idx_s.max_doc_id == idx_b.max_doc_id
    assert sorted(
        (r["term"], r["df"]) for r in idx_s.dictionary.collect()
    ) == sorted((r["term"], r["df"]) for r in idx_b.dictionary.collect())

    qt = qterms_df(spark, {1: "spark shuffle join", 2: "window group"},
                   stem=False)
    got = sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in wand_topk(
            qt, idx_s.compressed, idx_s.dictionary, idx_s.avgdl, k=10,
            chunk_bits=idx_s.chunk_bits,
        ).collect()
    )
    want = sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in wand_topk(
            qt, idx_b.compressed, idx_b.dictionary, idx_b.avgdl, k=10,
            chunk_bits=idx_b.chunk_bits,
        ).collect()
    )
    assert got == want and len(got) > 0


def test_stream_serving_restart_adopt_and_crash_replay(spark, tmp_path):
    """Lifecycle edges of serve_pages_stream's exactly-once machinery:
    (a) a restarted stream with the same checkpoint merges ONLY new
    files; (b) a pre-existing batch-built index is adopted, not rebuilt;
    (c) an unresolved bootstrap-pending marker (crash between build and
    completion marker) replays into a clean rebuild; (d) urls are
    rejected as ids."""
    import json

    from themis_search_engine_spark.indexing import (
        build_and_save_serving,
        load_serving_index,
    )
    from themis_search_engine_spark.streaming import serve_pages_stream

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")

    # (a) restart with same checkpoint: only the newly landed file merges
    live = str(tmp_path / "a_idx")
    in_a = str(tmp_path / "a_landing")
    docs.where("doc_id < 300").repartition(1).write.parquet(in_a)
    serve_pages_stream(spark, in_a, live, stem=False,
                       partitions=4).awaitTermination(120)
    assert load_serving_index(spark, live).n_docs == 300
    docs.where("doc_id >= 300").repartition(1).write.mode("append").parquet(
        in_a
    )
    serve_pages_stream(spark, in_a, live, stem=False,
                       partitions=4).awaitTermination(120)
    idx = load_serving_index(spark, live)
    assert idx.n_docs == 500 and idx.max_doc_id == 499

    # (b) adopt: stream new docs into an index built outside the stream
    base = str(tmp_path / "b_idx")
    build_and_save_serving(docs.where("doc_id < 400"), base, stem=False,
                           partitions=4)
    in_b = str(tmp_path / "b_landing")
    docs.where("doc_id >= 400").repartition(1).write.parquet(in_b)
    serve_pages_stream(spark, in_b, base, stem=False,
                       partitions=4).awaitTermination(120)
    assert load_serving_index(spark, base).n_docs == 500
    log = json.load(open(f"{base}/merge_log.json"))
    assert not any("bootstrap" in str(e.get("type")) for e in log)

    # (c) crash window: pending marker without completion -> clean rebuild
    crash = str(tmp_path / "c_idx")
    in_c = str(tmp_path / "c_landing")
    docs.repartition(1).write.parquet(in_c)
    serve_pages_stream(spark, in_c, crash, stem=False,
                       partitions=4).awaitTermination(120)
    log = json.load(open(f"{crash}/merge_log.json"))
    log = [e for e in log if e.get("type") != "stream_bootstrap"]
    with open(f"{crash}/merge_log.json", "w") as fh:
        json.dump(log, fh)  # simulate dying before the completion marker
    import shutil

    shutil.rmtree(f"{crash}/_stream_checkpoint")  # force full re-delivery
    serve_pages_stream(spark, in_c, crash, stem=False,
                       partitions=4).awaitTermination(120)
    idx = load_serving_index(spark, crash)
    assert idx.n_docs == 500  # rebuilt, not merged-into-half-built
    log = json.load(open(f"{crash}/merge_log.json"))
    assert any(e.get("type") == "stream_bootstrap" for e in log)

    # (d) raw urls rejected
    with pytest.raises(ValueError, match="numeric id"):
        serve_pages_stream(spark, in_c, crash, key_col="url")


def test_crashed_bootstrap_then_checkpoint_reset_multibatch(spark, tmp_path):
    """A bootstrap that dies before its completion marker, followed by a
    checkpoint RESET (fresh stream run id), must not leave an eternally
    unmatched pending marker: pending resolution is by log order, not by
    same-run completion. Before the fix, every micro-batch after the
    first re-entered the bootstrap path and overwrote the index with
    just that batch's docs — the multi-batch replay here would end with
    ~1/3 of the corpus and extra bootstrap markers."""
    import json
    import shutil

    from themis_search_engine_spark.indexing import load_serving_index
    from themis_search_engine_spark.streaming import serve_pages_stream

    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    live = str(tmp_path / "idx")
    landing = str(tmp_path / "landing")

    # first run sees ONE file, bootstraps, then "crashes" before the
    # completion marker (strip it from the log)
    docs.where("doc_id < 200").repartition(1).write.parquet(landing)
    serve_pages_stream(spark, landing, live, stem=False,
                       partitions=4).awaitTermination(120)
    log = json.load(open(f"{live}/merge_log.json"))
    log = [e for e in log if e.get("type") != "stream_bootstrap"]
    with open(f"{live}/merge_log.json", "w") as fh:
        json.dump(log, fh)
    shutil.rmtree(f"{live}/_stream_checkpoint")  # reset -> fresh run id

    # more files land; the reset stream re-delivers everything in
    # multiple micro-batches (maxFilesPerTrigger=1)
    docs.where("doc_id >= 200 and doc_id < 350").repartition(1).write.mode(
        "append").parquet(landing)
    docs.where("doc_id >= 350").repartition(1).write.mode("append").parquet(
        landing)
    serve_pages_stream(spark, landing, live, stem=False, partitions=4,
                       max_files_per_trigger=1).awaitTermination(180)

    idx = load_serving_index(spark, live)
    assert idx.n_docs == 500 and idx.max_doc_id == 499
    log = json.load(open(f"{live}/merge_log.json"))
    # exactly one completed bootstrap in the recovered run; later batches
    # are merges stamped with (run, batch_id)
    assert sum(e.get("type") == "stream_bootstrap" for e in log) == 1
    merges = [e for e in log if e.get("stream_batch_id") is not None
              and e.get("type") != "stream_bootstrap"]
    assert len(merges) == 2


def test_windowed_ingest_rate(spark, tmp_path):
    from themis_search_engine_spark.corpus import synth_pages

    in_dir = str(tmp_path / "pages")
    synth_pages(spark, 300, partitions=2).write.parquet(in_dir)

    from themis_search_engine_spark.corpus import PAGES_SCHEMA

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(in_dir)
    rates = windowed_ingest_rate(stream, window="1 minute")
    # update mode + memory sink: append mode would hold windows open until
    # the watermark passes them, and an availableNow drain ends before that
    q = (
        rates.writeStream.outputMode("update")
        .format("memory")
        .queryName("ingest_rates")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT window_start, max(n_docs) AS n_docs FROM ingest_rates "
        "GROUP BY window_start"
    )
    # synth warc_ts = epoch + i seconds → 300 docs span 5 one-minute windows
    assert got.count() == 5
    assert got.agg({"n_docs": "sum"}).collect()[0][0] == 300


def test_streaming_event_window_counts_equals_batch(spark, tmp_path):
    """Watermarked tumbling-window agg: the stream (drained with late
    events arriving in a later file) must produce the batch twin's exact
    final state."""
    import datetime as dt

    from themis_search_engine_spark.pipeline_ops.sessions import (
        windowed_event_counts,
    )
    from themis_search_engine_spark.streaming.windows import (
        streaming_event_window_counts,
    )

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows1 = [
        (i, base + dt.timedelta(minutes=7 * i), i % 3, f"t{i % 2}", 1.5 * i)
        for i in range(40)
    ]
    # late stragglers for the FIRST hour arriving in the second file
    rows2 = [
        (100 + i, base + dt.timedelta(minutes=5 * i), 9, "t0", 2.0)
        for i in range(6)
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    in_dir = str(tmp_path / "events")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = streaming_event_window_counts(
        stream, window_minutes=60, watermark_minutes=600
    )
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = windowed_event_counts(
        spark.read.parquet(in_dir), window_minutes=60
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.table("win_counts").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in batch.collect()
    }
    assert got == want and len(want) > 4


def test_streaming_cms_equals_batch(spark, tmp_path):
    """The streaming Count-Min sketch drained over micro-batches equals
    the one-shot batch sketch cell-for-cell — CMS merges are exact (sums
    commute), so stream order cannot matter."""
    from themis_search_engine_spark.pipeline_ops.sketches import cms_counts
    from themis_search_engine_spark.streaming.windows import (
        streaming_cms_counts,
    )

    rows1 = [(i, f"u{i % 13}") for i in range(300)]
    rows2 = [(1000 + i, "hot") for i in range(80)]
    schema = "event_id long, user_id string"
    in_dir = str(tmp_path / "ev")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = streaming_cms_counts(stream, "user_id", depth=4, width=32)
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["j"], r["bucket"]): r["c"]
        for r in spark.table("cms_stream").collect()
    }
    want = {
        (r["j"], r["bucket"]): r["c"]
        for r in cms_counts(
            spark.read.parquet(in_dir), "user_id", depth=4, width=32
        ).collect()
    }
    assert got == want and len(want) > 10
