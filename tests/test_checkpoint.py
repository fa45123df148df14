"""Resumable checkpointed build: kill/resume equivalence + lineage.

SURVEY.md §7 slice 5 — north rule: resumable from snapshot checkpoints with
per-partition lineage and metrics.
"""

import json
import os

import pytest

from themis_search_engine_spark.corpus import load_documents
from themis_search_engine_spark.indexing import build_index
from themis_search_engine_spark.indexing.checkpoint import (
    build_resumable,
    corpus_fingerprint,
    finalize,
    load_final,
    snapshot_status,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_documents(spark, SF_DIR).select("doc_id", "text")


def _index_signature(idx):
    """Order-insensitive content signature of the four tables."""
    posts = sorted(
        (r["term"], r["doc_id"], round(r["tf"], 9))
        for r in idx.postings_flat.collect()
    )
    dic = sorted((r["term"], r["df"]) for r in idx.dictionary.collect())
    stats = sorted(
        (r["doc_id"], r["length"]) for r in idx.doc_stats.collect()
    )
    return posts, dic, stats, idx.n_docs, round(idx.avgdl, 9)


def test_kill_resume_equals_oneshot(spark, docs, tmp_path):
    out = str(tmp_path / "ckpt")
    # interrupted run: only 2 of 4 batches get committed
    m1 = build_resumable(docs, out, n_batches=4, stem=False, max_batches=2)
    assert len(m1) == 2
    st = snapshot_status(out)
    assert len(st["committed_batches"]) == 2

    # resume: the two committed batches are skipped (their manifests carry
    # the same lineage dicts), the remaining two are built
    m2 = build_resumable(docs, out, n_batches=4, stem=False)
    assert len(m2) == 4
    assert sorted(m["batch"] for m in m2) == [0, 1, 2, 3]
    committed_first = {m["batch"]: m for m in m1}
    for m in m2:
        if m["batch"] in committed_first:
            assert m == committed_first[m["batch"]]  # not rebuilt

    idx_ck = finalize(spark, out)
    idx_one = build_index(docs, stem=False, use_arrow=True)
    assert _index_signature(idx_ck) == _index_signature(idx_one)

    # the persisted final index reloads to the same content
    idx_re = load_final(spark, out)
    assert _index_signature(idx_re)[:3] == _index_signature(idx_one)[:3]


def test_lineage_manifest_fields(spark, docs, tmp_path):
    out = str(tmp_path / "lineage")
    ms = build_resumable(docs, out, n_batches=2, stem=False)
    total_docs = sum(m["n_docs"] for m in ms)
    assert total_docs == docs.count()
    for m in ms:
        assert m["committed"] is True
        assert m["n_postings"] > 0
        assert m["bytes_written"] > 0
        assert m["docs_per_sec"] > 0
        assert m["postings_per_sec"] > 0
        assert "slice_predicate" in m

    finalize(spark, out)
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.count() == 2
    assert {f.name for f in metrics.schema.fields} >= {
        "batch", "n_docs", "n_postings", "bytes_written", "wall_seconds",
        "docs_per_sec", "postings_per_sec",
    }
    with open(f"{out}/snapshot.json") as fh:
        snap = json.load(fh)
    assert snap["committed_batches"] == [0, 1]
    assert snap["n_docs"] == total_docs

    # north-rule merge metrics: throughput + bytes compressed
    mm = snap["merge_metrics"]
    assert mm["n_postings"] > 0
    assert mm["postings_per_sec"] > 0
    assert 0 < mm["bytes_per_posting"] < 56  # beats the reference record
    # and the compressed serving chunks decode back to the flat postings
    from themis_search_engine_spark.indexing.compress import (
        DEFAULT_CHUNK_BITS,
        decode_postings,
    )

    comp = spark.read.parquet(f"{out}/index/postings_comp")
    dec = decode_postings(comp, chunk_bits=DEFAULT_CHUNK_BITS)
    assert dec.count() == mm["n_postings"]


def test_fingerprint_mismatch_forces_rebuild(spark, docs, tmp_path):
    out = str(tmp_path / "fp")
    build_resumable(docs, out, n_batches=2, stem=False)
    # same layout, different build config (stem flag) → batches not trusted
    fp_stem = corpus_fingerprint(docs, text_col="text", stem=True)
    from themis_search_engine_spark.indexing.checkpoint import batch_committed

    assert not batch_committed(out, 0, fp_stem)
    # corrupt a manifest → that batch alone is rebuilt on resume
    mpath = os.path.join(out, "batches", "batch=1", "manifest.json")
    with open(mpath, "w") as fh:
        fh.write("{not json")
    ms = build_resumable(docs, out, n_batches=2, stem=False)
    assert sorted(m["batch"] for m in ms) == [0, 1]
