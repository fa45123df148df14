#!/usr/bin/env python
"""Where does the in-process serving plan stop paying? Seconds per batch
of ``search_serving(plan="local")`` and ``search_serving(plan="sharded")``
across batch sizes and corpus sizes, against each batch's DECODE VOLUME
(Σ df over its distinct priced terms — the quantity the planner's
``LOCAL_MAX_VOLUME`` rule reads).

Per corpus size: ``synth_pages(n)`` built with ``build_and_save_serving``
on the auto layout (``partitions`` = cores, the benchmark's build shape);
then, per batch size, the first ``b`` queries of
``queryset.synth_reference_queries`` through both plans end to end
(metadata read, pricing, kernel or job, result frame, collect): one
warm-up call, then the median of ``SERVE_CROSSOVER_REPS`` timed calls.
Every cell also checks that both plans return the same (qid, doc_id,
rank) rows.

The recorded crossover per corpus is the decode volume halfway (in log
space) between the largest batch ``local`` still wins and the smallest
batch ``sharded`` wins; ``null`` when one plan wins every batch. Once
``local`` takes over twice the ``sharded`` time on a corpus, its larger
batches are not timed in-process (``local_s`` null): the side of the
crossover is settled and each such call costs tens of seconds at 400k
docs. ``best_local_max_volume`` is the one threshold, over all corpora,
whose volume rule loses the least summed time against the faster plan
of every cell (its ``regret_s``) — the evidence for
``planner.LOCAL_MAX_VOLUME``.

Writes SERVE_CROSSOVER.json at the repo root with the cores, each
index's ``chunk_bits`` and a same-run single-thread md5 calibration.
Env: SPARK_GRAFT_CPUS, SERVE_CROSSOVER_DOCS (default
12000,50000,400000), SERVE_CROSSOVER_BATCHES (default
1,16,64,200,400,1000,2000,4000), SERVE_CROSSOVER_REPS (default 3),
SERVE_CROSSOVER_OUT.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

from themis_search_engine_spark.corpus import synth_pages  # noqa: E402
from themis_search_engine_spark.indexing.build import (  # noqa: E402
    build_and_save_serving,
)
from themis_search_engine_spark.queryeng.pipeline import (  # noqa: E402
    query_term_map,
)
from themis_search_engine_spark.queryeng.planner import (  # noqa: E402
    _price_terms,
    search_serving,
)
from themis_search_engine_spark.queryset import (  # noqa: E402
    synth_reference_queries,
)
from themis_search_engine_spark.session import get_spark  # noqa: E402

K = 10


def md5_32mib_s() -> float:
    """Single-thread md5 over 32 MiB: the box-speed calibration."""
    buf = os.urandom(1 << 20) * 32
    t0 = time.perf_counter()
    hashlib.md5(buf).digest()
    return round(time.perf_counter() - t0, 4)


def _time_plan(spark, path, qmap, plan, reps):
    search_serving(spark, path, qmap, K, plan=plan).collect()  # warm-up
    secs, rows = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        rows = search_serving(spark, path, qmap, K, plan=plan).collect()
        secs.append(time.perf_counter() - t0)
    return statistics.median(secs), sorted(
        (r.qid, r.doc_id, r.rank) for r in rows
    )


def _crossover(cells):
    """Log-midpoint volume between the last local win and the first
    sharded win, walking cells in volume order."""
    cells = sorted(cells, key=lambda c: c["volume"])
    wins = [c["local_s"] is not None and c["local_s"] <= c["sharded_s"]
            for c in cells]
    for i in range(1, len(cells)):
        if wins[i - 1] and not wins[i]:
            return round(math.sqrt(max(cells[i - 1]["volume"], 1)
                                   * cells[i]["volume"]))
    return None


def _best_threshold(cells):
    """(threshold, regret seconds): the volume cut that minimizes the
    summed time lost by running ``local`` at or below it and
    ``sharded`` above it, over every cell; candidates are the cells'
    own volumes (and 0)."""
    def regret(cut):
        lost = 0.0
        for c in cells:
            loc = c["local_s"] if c["local_s"] is not None else math.inf
            best = min(loc, c["sharded_s"])
            lost += (loc if c["volume"] <= cut else c["sharded_s"]) - best
        return lost

    cuts = sorted({0, *(c["volume"] for c in cells)})
    best = min(cuts, key=regret)
    return best, round(regret(best), 4)


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    sizes = [int(x) for x in os.environ.get(
        "SERVE_CROSSOVER_DOCS", "12000,50000,400000").split(",")]
    batches = [int(x) for x in os.environ.get(
        "SERVE_CROSSOVER_BATCHES", "1,16,64,200,400,1000,2000,4000"
    ).split(",")]
    reps = int(os.environ.get("SERVE_CROSSOVER_REPS", 3))
    tmp = tempfile.mkdtemp(prefix="themis_crossover_")
    spark = get_spark("themis-serve-crossover", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {
        "metric": "serve_crossover",
        "cores": cpus,
        "k": K,
        "reps": reps,
        "timed": "median seconds per search_serving(...).collect() call",
        "calib_md5_32mib_s_before": md5_32mib_s(),
        "corpora": [],
    }
    try:
        for n in sizes:
            path = f"{tmp}/idx{n}"
            docs = synth_pages(spark, n, partitions=cpus).select(
                F.regexp_extract("url", r"/p/(\d+)", 1)
                .cast("long").alias("doc_id"),
                "text",
            )
            t0 = time.perf_counter()
            idx = build_and_save_serving(docs, path, partitions=cpus,
                                         max_doc_id_hint=n)
            corpus = {
                "docs": n, "chunk_bits": idx.chunk_bits,
                "build_s": round(time.perf_counter() - t0, 2),
                "cells": [],
            }
            local_lost = False
            for b in batches:
                qmap = query_term_map(synth_reference_queries(b), stem=True)
                priced = _price_terms(
                    path, {t for ts in qmap.values() for t in ts}
                )
                sh_s, sh_rows = _time_plan(spark, path, qmap, "sharded", reps)
                loc_s, loc_rows = (None, None) if local_lost else _time_plan(
                    spark, path, qmap, "local", reps
                )
                local_lost = local_lost or loc_s > 2 * sh_s
                cell = {
                    "batch": b,
                    "terms": len(priced),
                    "volume": sum(df for df, _ in priced.values()),
                    "local_s": None if loc_s is None else round(loc_s, 4),
                    "sharded_s": round(sh_s, 4),
                    "rank_identical": loc_rows in (None, sh_rows),
                }
                corpus["cells"].append(cell)
                print(json.dumps({"docs": n, **cell}), flush=True)
            corpus["crossover_volume"] = _crossover(corpus["cells"])
            out["corpora"].append(corpus)
            shutil.rmtree(path, ignore_errors=True)
        cut, lost = _best_threshold(
            [c for cp in out["corpora"] for c in cp["cells"]]
        )
        out["best_local_max_volume"] = cut
        out["regret_s"] = lost
        out["calib_md5_32mib_s_after"] = md5_32mib_s()
        dst = os.environ.get(
            "SERVE_CROSSOVER_OUT", os.path.join(HERE, "SERVE_CROSSOVER.json")
        )
        with open(dst, "w") as fh:
            json.dump(out, fh, indent=1)
        print(json.dumps({
            "crossover_volume": {c["docs"]: c["crossover_volume"]
                                 for c in out["corpora"]},
            "best_local_max_volume": cut, "regret_s": lost,
        }))
        if not all(c["rank_identical"] for cp in out["corpora"]
                   for c in cp["cells"]):
            sys.exit(1)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
