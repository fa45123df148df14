"""Secondary-artifact mutation lifecycle (indexing/secondary.py): the
positional index either rides delta merges (delta-append ≡ full rebuild)
or fails LOUDLY at load — never silently serves stale phrase results."""

import pytest
from pyspark.sql import functions as F

from themis_search_engine_spark.corpus import load_documents
from themis_search_engine_spark.indexing import (
    build_and_save_serving,
    merge_serving_delta,
)
from themis_search_engine_spark.indexing.secondary import (
    StaleSecondaryIndexError,
    check_secondary,
    merge_positional_delta,
    stamp_secondary,
)
from themis_search_engine_spark.queryeng.phrase import (
    load_positional_index,
    phrase_topk,
    save_positional_index,
)

PHRASES = {1: ["spark", "sql"], 2: ["group", "by"], 3: ["window"]}


@pytest.fixture(scope="module")
def split_docs(spark):
    docs = load_documents(spark, "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    return (
        docs.where("doc_id % 2 = 0").cache(),
        docs.where("doc_id % 2 = 1").cache(),
        docs.cache(),
    )


def _ranked(df):
    return sorted(
        (r["qid"], r["rank"], r["doc_id"], r["phrase_tf"])
        for r in df.collect()
    )


def test_stale_positional_fails_loudly_then_delta_merge_heals(
    spark, tmp_path, split_docs
):
    old, delta, full = split_docs
    idx_p = str(tmp_path / "idx")
    pos_p = str(tmp_path / "pos")
    build_and_save_serving(old, idx_p, stem=True, chunk_bits=5,
                           partitions=4)
    save_positional_index(old, pos_p, partitions=4, serving_path=idx_p)
    # fresh: check passes and load returns the table
    assert check_secondary(pos_p, idx_p)["kind"] == "positional"
    n_old = load_positional_index(spark, pos_p, serving_path=idx_p).count()
    assert n_old > 0

    # the serving index advances; the positional artifact did not
    merge_serving_delta(spark, idx_p, delta, stem=True, partitions=4)
    with pytest.raises(StaleSecondaryIndexError, match="generation"):
        load_positional_index(spark, pos_p, serving_path=idx_p)

    # remedy 1: merge the same delta into the artifact -> fresh again,
    # and phrase results equal a FULL REBUILD row for row
    merge_positional_delta(
        spark, pos_p, delta, serving_path=idx_p, partitions=4
    )
    merged = load_positional_index(spark, pos_p, serving_path=idx_p)
    rebuilt_p = str(tmp_path / "pos_rebuild")
    save_positional_index(full, rebuilt_p, partitions=4,
                          serving_path=idx_p)
    rebuilt = load_positional_index(spark, rebuilt_p, serving_path=idx_p)
    assert merged.count() == rebuilt.count() > n_old
    got = _ranked(phrase_topk(merged, PHRASES, k=10))
    want = _ranked(phrase_topk(rebuilt, PHRASES, k=10))
    assert got == want and len(want) > 0
    # proximity mode too (max_gap exercises the windowed join path)
    got_g = _ranked(phrase_topk(merged, PHRASES, k=10, max_gap=2))
    want_g = _ranked(phrase_topk(rebuilt, PHRASES, k=10, max_gap=2))
    assert got_g == want_g


def test_unstamped_artifact_policy(spark, tmp_path, split_docs):
    old, _, _ = split_docs
    idx_p = str(tmp_path / "idx2")
    pos_p = str(tmp_path / "pos2")
    build_and_save_serving(old, idx_p, stem=True, chunk_bits=5,
                           partitions=4)
    save_positional_index(old, pos_p, partitions=4)  # no stamp
    with pytest.raises(StaleSecondaryIndexError, match="no _secondary"):
        check_secondary(pos_p, idx_p)
    assert check_secondary(pos_p, idx_p, allow_unstamped=True) == {}
    # stamping later adopts the artifact at the current generation
    stamp_secondary(pos_p, idx_p, "positional")
    assert check_secondary(pos_p, idx_p)["index_generation"]


def test_derived_secondaries_are_inherently_fresh(spark, split_docs):
    """grep/trigram tables derive from the LIVE corpus/dictionary per
    query — after a delta the same call over the updated corpus sees the
    new docs (the no-persistence contract documented in secondary.py)."""
    from themis_search_engine_spark.queryeng.grepdocs import grep_docs

    old, delta, full = split_docs
    needle = (
        delta.select("doc_id", "text")
        .where(F.length("text") > 50).first()
    )
    token = [
        t for t in needle["text"].split() if len(t) >= 4 and t.isalpha()
    ][0]
    hits_old = {
        r["doc_id"]
        for r in grep_docs(spark, old, {1: token}).collect()
    }
    hits_full = {
        r["doc_id"]
        for r in grep_docs(spark, full, {1: token}).collect()
    }
    assert needle["doc_id"] not in hits_old
    assert needle["doc_id"] in hits_full
    assert hits_old <= hits_full


def test_stale_trigram_terms_fails_loudly_then_delta_merge_heals(
    spark, tmp_path, split_docs
):
    """The persisted gram→term artifact (r5): staleness is loud, the
    O(new-terms) delta append equals a full rebuild row-for-row, and
    infix expansion over the persisted table equals the derived path."""
    from themis_search_engine_spark.indexing import build_index
    from themis_search_engine_spark.queryeng.trigram import (
        infix_qterms,
        load_trigram_terms,
        merge_trigram_terms_delta,
        save_trigram_terms,
    )

    old, delta, full = split_docs
    idx_p = str(tmp_path / "idx")
    gt_p = str(tmp_path / "grams")
    build_and_save_serving(old, idx_p, stem=True, chunk_bits=5,
                           partitions=4)
    d_old = build_index(old, stem=True).dictionary.cache()
    save_trigram_terms(d_old, gt_p, serving_path=idx_p, partitions=2)
    assert check_secondary(gt_p, idx_p)["kind"] == "trigram_terms"
    assert load_trigram_terms(spark, gt_p, serving_path=idx_p).count() > 0

    merge_serving_delta(spark, idx_p, delta, stem=True, partitions=4)
    with pytest.raises(StaleSecondaryIndexError, match="generation"):
        load_trigram_terms(spark, gt_p, serving_path=idx_p)

    # remedy: append grams of the terms NEW to the merged dictionary
    d_full = build_index(full, stem=True).dictionary.cache()
    new_terms = d_full.select("term").exceptAll(d_old.select("term"))
    merge_trigram_terms_delta(
        spark, gt_p, new_terms, serving_path=idx_p, partitions=2
    )
    merged = load_trigram_terms(spark, gt_p, serving_path=idx_p)
    rb_p = str(tmp_path / "grams_rb")
    save_trigram_terms(d_full, rb_p, serving_path=idx_p, partitions=2)
    rebuilt = load_trigram_terms(spark, rb_p, serving_path=idx_p)
    a = sorted((r["gram"], r["term"]) for r in merged.collect())
    b = sorted((r["gram"], r["term"]) for r in rebuilt.collect())
    assert a == b and len(a) > 0

    # persisted-artifact expansion == derived expansion (df joined live)
    pats = {1: "ndo", 2: "uer"}
    via_art = infix_qterms(
        spark, d_full, pats, max_terms=16, gram_table=merged
    )
    via_live = infix_qterms(spark, d_full, pats, max_terms=16)
    assert sorted(map(tuple, via_art.collect())) == sorted(
        map(tuple, via_live.collect())
    )


def test_stale_doc_trigrams_fails_loudly_then_delta_merge_heals(
    spark, tmp_path, split_docs
):
    """The persisted doc-grain trigram artifact (r5): staleness is loud,
    the O(delta) append equals a full rebuild, and grep over the
    persisted table equals the derived path — including after deletes,
    where stale gram rows die at the live-corpus verify."""
    from themis_search_engine_spark.queryeng.grepdocs import (
        grep_docs,
        load_doc_trigrams,
        merge_doc_trigrams_delta,
        save_doc_trigrams,
    )

    old, delta, full = split_docs
    idx_p = str(tmp_path / "idx")
    dg_p = str(tmp_path / "docgrams")
    build_and_save_serving(old, idx_p, stem=True, chunk_bits=5,
                           partitions=4)
    save_doc_trigrams(old, dg_p, serving_path=idx_p, partitions=2)
    assert check_secondary(dg_p, idx_p)["kind"] == "doc_trigrams"

    merge_serving_delta(spark, idx_p, delta, stem=True, partitions=4)
    with pytest.raises(StaleSecondaryIndexError, match="generation"):
        load_doc_trigrams(spark, dg_p, serving_path=idx_p)

    merge_doc_trigrams_delta(
        spark, dg_p, delta, serving_path=idx_p, partitions=2
    )
    merged = load_doc_trigrams(spark, dg_p, serving_path=idx_p)
    rb_p = str(tmp_path / "docgrams_rb")
    save_doc_trigrams(full, rb_p, serving_path=idx_p, partitions=2)
    rebuilt = load_doc_trigrams(spark, rb_p, serving_path=idx_p)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )

    pats = {1: "hash join", 2: "slow query"}
    via_art = grep_docs(spark, full, pats, gram_table=merged)
    via_live = grep_docs(spark, full, pats)
    want = sorted(map(tuple, via_live.collect()))
    assert sorted(map(tuple, via_art.collect())) == want and want

    # deletes: serve a SHRUNK corpus against the (now-superset) artifact
    # — stale rows are false candidates only, results stay exact
    kept = full.where("doc_id % 7 != 0")
    via_art_d = grep_docs(spark, kept, pats, gram_table=merged)
    via_live_d = grep_docs(spark, kept, pats)
    assert sorted(map(tuple, via_art_d.collect())) == sorted(
        map(tuple, via_live_d.collect())
    )


def test_registry_grams_follow_serving_rebuild(spark):
    """The registry's persisted trigram artifacts are keyed by the
    serving index they are stamped against: a rebuild at the same sf_dir
    in one process gets fresh grams, and a merge past the stamp fails
    loudly at load instead of serving stale grams."""
    from themis_search_engine_spark import registry

    sf = "/root/testdata/sf0.001"
    try:
        assert registry._load_grams(spark, sf, "trigram_terms").count() > 0
        first = dict(registry._GRAM_CACHE)
        registry._SCACHE.pop(sf)  # rebuild the serving index in-process
        assert registry._load_grams(spark, sf, "doc_trigrams").count() > 0
        sp2 = registry._serving_bundle(spark, sf)[1]
        new = {k: v for k, v in registry._GRAM_CACHE.items()
               if k not in first}
        assert list(new) == [(sf, sp2)]
        assert new[(sf, sp2)] not in first.values()

        fresh = spark.createDataFrame(
            [(10**6, "fresh spark join text")], "doc_id long, text string"
        )
        merge_serving_delta(spark, sp2, fresh, stem=False, partitions=2)
        for kind in ("trigram_terms", "doc_trigrams"):
            with pytest.raises(StaleSecondaryIndexError):
                registry._load_grams(spark, sf, kind)
    finally:
        # later tests get an unmerged serving index for this sf_dir
        registry._SCACHE.pop(sf, None)
