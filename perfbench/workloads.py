"""The benchmark's workloads: what each sets up, what one timed
operation is, and how its output is checked.

Every workload is a closed loop with one client: the next operation
starts only after the previous reply arrived, and k = 10 throughout.
Setup builds every index the workload reads (the ingest path) and the
hot state a long-lived server would hold; it is timed as ``setup_s``.
The probe check compares a subset of the run's queries with
``queryeng.bm25.bm25_topk``, the naive DataFrame oracle, outside the
timed region.
"""

from __future__ import annotations

import math
import os
import time

from pyspark.sql import functions as F

from .queries import QueryStream

K = 10
PARTITIONS = 4  # (term, chunk) shuffle width of every build: one per core

SIZES = {
    "full": {
        "serve_interactive": {"base": 8_000, "delta": 2_000, "probe": 20},
        "serve_batch": {"docs": 12_000, "batch": 200, "probe": 20},
        "serve_federated": {"leg": 6_000, "batch": 16, "probe": 10},
    },
    "tiny": {
        "serve_interactive": {"base": 1_600, "delta": 400, "probe": 5},
        "serve_batch": {"docs": 2_000, "batch": 20, "probe": 5},
        "serve_federated": {"leg": 1_000, "batch": 5, "probe": 5},
    },
}

_PHASES = {
    "postings_write": "build.postings_write_s",
    "doc_stats": "build.doc_stats_s",
    "compress": "build.compress_s",
    "dictionary": "build.dictionary_s",
    "delta_postings_write": "merge.delta_postings_write_s",
    "delta_doc_stats": "merge.delta_doc_stats_s",
    "delta_compress": "merge.delta_compress_s",
    "delta_finalize": "merge.delta_finalize_s",
    "compact_shuffle": "merge.compact_shuffle_s",
    "compact_compress": "merge.compact_compress_s",
    "compact_finalize": "merge.compact_finalize_s",
}
PHASE_METRICS = tuple(_PHASES.values())


class Workload:
    """Shared plumbing. Subclasses define ``setup``, ``_run`` (answer a
    batch of queries, returning (qid, doc_id, score, rank) rows) and
    ``plan_label``; one operation is ``_run`` over ``batch`` queries."""

    name = ""
    warmup_ops = 0
    warmup_s = 0.0

    def __init__(self, spark, tracer, work: str, seed: int, size: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.p = SIZES[size][self.name]
        self.stream = QueryStream(seed)
        self.timings: dict[str, float] = {}
        self.ingest = {"build_docs": 0, "build_s": 0.0, "merge_docs": 0,
                       "merge_s": 0.0, "compact_s": 0.0}
        self.index_paths: list[str] = []
        self.corpus_docs = 0
        self.chunk_bits = -1
        # per timed operation: its queries and the rows returned; seconds
        # in the query pipeline and in the local kernel
        self.op_queries: list[dict[int, str]] = []
        self.op_results: list[int] = []
        self.qtm_s = 0.0
        self.local_s = 0.0
        self.probe_queries: dict[int, str] = {}
        self.probe_rows: dict[int, list] = {}

    # -- setup helpers ------------------------------------------------
    def corpus(self, n_docs: int):
        """Materialize ``synth_pages(n_docs)`` as (doc_id, text) parquet."""
        from themis_search_engine_spark.corpus import synth_pages

        path = os.path.join(self.work, "corpus")
        with self.tracer.span("corpus.synth_pages", "corpus"):
            (
                synth_pages(self.spark, n_docs, partitions=PARTITIONS)
                .select(
                    F.regexp_extract("url", r"/p/(\d+)", 1)
                    .cast("long").alias("doc_id"),
                    "text",
                )
                .write.parquet(path)
            )
        self.corpus_docs = n_docs
        return self.spark.read.parquet(path)

    def build(self, docs, n_docs: int, path: str, id_ceiling: int):
        from themis_search_engine_spark.indexing.build import (
            build_and_save_serving,
        )

        t = {}
        t0 = time.perf_counter()
        with self.tracer.span("build.build_and_save_serving", "build"):
            idx = build_and_save_serving(
                docs, path, partitions=PARTITIONS,
                max_doc_id_hint=id_ceiling, timings=t,
            )
        self.ingest["build_s"] += time.perf_counter() - t0
        self.ingest["build_docs"] += n_docs
        self._add_timings(t)
        self.index_paths.append(path)
        self.chunk_bits = idx.chunk_bits
        return idx

    def _add_timings(self, t: dict) -> None:
        for k, v in t.items():
            if k in _PHASES:
                self.timings[_PHASES[k]] = self.timings.get(_PHASES[k], 0.0) + v

    def warm_up(self) -> None:
        """Untimed operations, at least ``warmup_ops`` and for at least
        ``warmup_s`` seconds, so the timed ones start warm; the counters
        then restart from zero."""
        t_end = time.perf_counter() + self.warmup_s
        done = 0
        while done < self.warmup_ops or time.perf_counter() < t_end:
            self._run(self.stream.take(self.p.get("batch", 1)))
            done += 1
        self.qtm_s = self.local_s = 0.0

    def op(self) -> int:
        """One timed operation; returns the number of queries answered.
        The first ``probe`` queries keep their rows for :meth:`probe`."""
        queries = self.stream.take(self.p.get("batch", 1))
        rows = self._run(queries)
        self.op_queries.append(queries)
        self.op_results.append(len(rows))
        if len(self.probe_queries) < self.p["probe"]:
            got = _by_qid(rows)
            for qid in list(queries)[:self.p["probe"] - len(self.probe_queries)]:
                self.probe_queries[qid] = queries[qid]
                self.probe_rows[qid] = got.get(qid, [])
        return len(queries)

    def probe(self) -> tuple[int, int]:
        ix = self.idx
        return self.check(self.oracle(ix.postings_flat, ix.dictionary,
                                      ix.doc_stats, ix.avgdl))

    def check(self, oracle_rows) -> tuple[int, int]:
        """(probe queries checked, mismatches) against oracle rows."""
        want = _by_qid((r["qid"], r["doc_id"], r["score"], r["rank"])
                       for r in oracle_rows)
        bad = sum(
            not _rank_identical(self.probe_rows[q], want.get(q, []))
            for q in self.probe_queries
        )
        return len(self.probe_queries), bad

    def oracle(self, postings_flat, dictionary, doc_stats, avgdl):
        from themis_search_engine_spark.queryeng.bm25 import bm25_topk
        from themis_search_engine_spark.queryeng.pipeline import (
            qterms_df, query_term_list,
        )

        qt = qterms_df(self.spark, self.probe_queries)
        with self.tracer.span("bm25.bm25_topk", "bm25"):
            return bm25_topk(
                qt, postings_flat, dictionary, doc_stats, avgdl, K,
                term_list=query_term_list(self.probe_queries),
            ).collect()

    def query_terms(self, queries: dict[int, str]) -> dict[int, list[str]]:
        from themis_search_engine_spark.queryeng.pipeline import (
            query_term_map,
        )

        t0 = time.perf_counter()
        with self.tracer.span("pipeline.query_term_map", "pipeline",
                              spark_jobs=False):
            qmap = query_term_map(queries)
        self.qtm_s += time.perf_counter() - t0
        return qmap


class ServeInteractive(Workload):
    """One query: ``query_term_map`` then ``wand_topk_local`` (no Spark
    job) over a serving index that went through the whole ingest
    lifecycle: base build, one delta merge, compaction."""

    name = "serve_interactive"
    # right after the Spark-heavy setup, query latency keeps falling for
    # a few seconds (the first fifth of a 4 s window ran ~18% slower
    # than the last after a 5-query warm-up)
    warmup_s = 2.0

    def setup(self) -> None:
        from themis_search_engine_spark.indexing.merge import (
            compact_serving_index, merge_serving_delta, serving_bound_scales,
        )
        from themis_search_engine_spark.queryeng.sharded import (
            collect_idf_map,
        )

        base, delta = self.p["base"], self.p["delta"]
        docs = self.corpus(base + delta)
        self.path = os.path.join(self.work, "index")
        self.build(docs.where(F.col("doc_id") < base), base, self.path,
                   base + delta)
        t = {}
        t0 = time.perf_counter()
        with self.tracer.span("merge.merge_serving_delta", "merge"):
            merge_serving_delta(
                self.spark, self.path,
                docs.where(F.col("doc_id") >= base),
                partitions=PARTITIONS, timings=t,
            )
        self.ingest["merge_s"] = time.perf_counter() - t0
        self.ingest["merge_docs"] = delta
        t0 = time.perf_counter()
        with self.tracer.span("merge.compact_serving_index", "merge"):
            self.idx = compact_serving_index(
                self.spark, self.path, partitions=PARTITIONS, timings=t,
            )
        self.ingest["compact_s"] = time.perf_counter() - t0
        self._add_timings(t)
        # hot state a long-lived interactive server holds
        with self.tracer.span("sharded.collect_idf_map", "sharded"):
            self.idf = collect_idf_map(self.idx.dictionary)
        with self.tracer.span("merge.serving_bound_scales", "merge"):
            self.scales = serving_bound_scales(self.spark, self.path)
        self.warm_up()

    def _run(self, queries: dict[int, str]) -> list[tuple]:
        from themis_search_engine_spark.queryeng.wand import wand_topk_local

        qmap = self.query_terms(queries)
        t0 = time.perf_counter()
        with self.tracer.span("wand.wand_topk_local", "wand",
                              spark_jobs=False):
            pdf = wand_topk_local(
                os.path.join(self.path, "postings_comp"), qmap, self.idf,
                self.idx.avgdl, K, chunk_bits=self.idx.chunk_bits,
                bound_scales=self.scales,
            )
        self.local_s += time.perf_counter() - t0
        return list(pdf[["qid", "doc_id", "score", "rank"]]
                    .itertuples(index=False))

    def plan_label(self, terms: list[list[str]]) -> str:
        return _plan(terms, self.df_frac, interactive=True)


class ServeBatch(Workload):
    """One fixed-size batch through ``planner.search_serving`` with
    automatic plan choice."""

    name = "serve_batch"
    # after one untimed batch, batch latency still fell by ~9% over the
    # next three; after two the timed batches start warm
    warmup_ops = 2

    def setup(self) -> None:
        n = self.p["docs"]
        self.path = os.path.join(self.work, "index")
        self.idx = self.build(self.corpus(n), n, self.path, n)
        self.warm_up()

    def _run(self, queries: dict[int, str]) -> list[tuple]:
        from themis_search_engine_spark.queryeng.planner import search_serving

        qmap = self.query_terms(queries)
        with self.tracer.span("planner.search_serving", "planner"):
            rows = search_serving(self.spark, self.path, qmap, K).collect()
        return [(r.qid, r.doc_id, r.score, r.rank) for r in rows]

    def plan_label(self, terms: list[list[str]]) -> str:
        return _plan(terms, self.df_frac, interactive=False)


class ServeFederated(Workload):
    """One batch through ``federated.federated_wand_topk`` (default
    plan) over two legs with disjoint doc ids."""

    name = "serve_federated"
    warmup_ops = 1

    def setup(self) -> None:
        leg = self.p["leg"]
        docs = self.corpus(2 * leg)
        self.legs = [
            self.build(docs.where(F.col("doc_id") < leg), leg,
                       os.path.join(self.work, "leg_a"), 2 * leg),
            self.build(docs.where(F.col("doc_id") >= leg), leg,
                       os.path.join(self.work, "leg_b"), 2 * leg),
        ]
        self.warm_up()

    def _run(self, queries: dict[int, str]) -> list[tuple]:
        from themis_search_engine_spark.queryeng.federated import (
            federated_wand_topk,
        )
        from themis_search_engine_spark.queryeng.pipeline import (
            qterms_df, query_term_list,
        )

        t0 = time.perf_counter()
        with self.tracer.span("pipeline.qterms_df", "pipeline"):
            qt = qterms_df(self.spark, queries)
            tl = query_term_list(queries)
        self.qtm_s += time.perf_counter() - t0
        with self.tracer.span("federated.federated_wand_topk", "federated"):
            rows = federated_wand_topk(qt, self.legs, K, term_list=tl).collect()
        return [(r.qid, r.doc_id, r.score, r.rank) for r in rows]

    def plan_label(self, terms: list[list[str]]) -> str:
        return ""  # the federated path takes no planner decision

    def probe(self) -> tuple[int, int]:
        """Oracle over the union of both legs, with the global df, N and
        avgdl a single index over the union corpus would have."""
        a, b = self.legs
        n = a.n_docs + b.n_docs
        avgdl = (a.n_docs * a.avgdl + b.n_docs * b.avgdl) / n
        dictionary = (
            a.dictionary.select("term", "df")
            .unionByName(b.dictionary.select("term", "df"))
            .groupBy("term").agg(F.sum("df").alias("df"))
            .withColumn("idf", F.log2((F.lit(float(n)) - F.col("df") + 0.5)
                                      / (F.col("df") + 0.5)))
        )
        return self.check(self.oracle(
            a.postings_flat.unionByName(b.postings_flat), dictionary,
            a.doc_stats.unionByName(b.doc_stats), avgdl,
        ))


WORKLOADS = {w.name: w for w in (ServeInteractive, ServeBatch, ServeFederated)}


def _plan(terms: list[list[str]], df_frac: dict[str, float], *,
          interactive: bool) -> str:
    """The plan ``choose_query_plan`` returns for one operation's batch
    (the same inputs ``search_serving`` prices)."""
    from themis_search_engine_spark.queryeng.planner import choose_query_plan

    fracs = [df_frac.get(t, 0.0) for ts in terms for t in ts]
    return choose_query_plan(
        len(terms), max_df_frac=max(fracs, default=0.0),
        interactive=interactive,
    )["plan"]


def _by_qid(rows) -> dict[int, list[tuple]]:
    out: dict[int, list[tuple]] = {}
    for qid, doc, score, rank in rows:
        out.setdefault(int(qid), []).append((int(rank), int(doc), float(score)))
    for v in out.values():
        v.sort()
    return out


def _rank_identical(got: list[tuple], want: list[tuple]) -> bool:
    """Same docs at the same ranks. Two docs may trade places only when
    their scores tie at float grain (the two paths sum in different
    orders), so a rank holding another doc must hold the same score."""
    if len(got) != len(want):
        return False
    for (_, gd, gs), (_, wd, ws) in zip(got, want):
        if gd != wd and not math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12):
            return False
        if not math.isclose(gs, ws, rel_tol=1e-6, abs_tol=1e-9):
            return False
    return True
