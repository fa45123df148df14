#!/usr/bin/env python3
"""Serving and ingest benchmark: one workload, one closed-loop run.

    python3 perfbench/run.py --workload serve_batch --seed 1 --seconds 15 \
        --trace 0

Run from the root of a checkout. Prints one ``metric <name> <value>
<unit>`` line per end-to-end metric, a ``context`` JSON line (cores,
layout, corpus sizes, seed, same-run calibration, probe count) and, as
the last line, the result object ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. Artifacts go to ``perfbench/out/<workload>/``.
Exits 1 when an operation failed or the probe check found a mismatch,
2 on a usage error or when the engine package is missing. See README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("serve_interactive", "serve_batch", "serve_federated")
PLANS = ("local", "single", "sharded", "batch")

# name -> unit; the last result line carries exactly these with --trace 0
END_TO_END = {
    "setup_s": "s",
    "qps": "queries/s",
    "lat_p50_ms": "ms",
    "index_bytes_per_posting": "B",
}
# printed on their own lines only (see README.md for why they are not
# gated): the tail name carries the percentile the sample supports
EXTRA_E2E = {
    "build_docs_per_s": "docs/s",
    "merge_docs_per_s": "docs/s",
    "compact_s": "s",
    "failed_frac": "fraction",
}



def _per_layer() -> dict[str, str]:
    from perfbench.eventlog import MODULES, SETUP_MODULES
    from perfbench.indexstats import TABLES
    from perfbench.workloads import PHASE_METRICS

    units = {
        "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.failed_tasks": "count",
        "spark.task_s_sum": "s", "spark.driver_only_s": "s",
        "spark.core_busy_frac": "fraction", "spark.input_bytes": "B",
        "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
        "spark.gc_s": "s",
        "bridge.sent_bytes": "B", "bridge.returned_bytes": "B",
        "bridge.task_s": "s",
    }
    for m in MODULES:
        units[f"{m}.job_wall_s"] = units[f"{m}.task_s"] = "s"
    for m in SETUP_MODULES:
        units[f"setup.{m}.job_wall_s"] = units[f"setup.{m}.task_s"] = "s"
    units["pipeline.query_term_map_ms"] = units["wand.local_ms"] = "ms"
    for p in PLANS:
        units[f"planner.plan_{p}"] = "fraction"
    for k in ("chunk_bits", "postings", "rows", "files", "row_groups"):
        units[f"index.{k}"] = "count"
    for t in TABLES:
        units[f"index.bytes.{t}"] = "B"
    for k in ("row_groups_touched", "rows_matched", "postings_matched"):
        units[f"index.{k}"] = "count"
    units["wand.useful_frac"] = "fraction"
    for k in PHASE_METRICS:
        units[k] = "s"
    units.update({
        "build_docs_per_s": "docs/s", "merge_docs_per_s": "docs/s",
        "compact_s": "s",
        "lat_tail_ms": "ms", "lat_tail_pct": "%", "lat_samples": "count",
        "proc.jvm_peak_rss_mb": "MiB", "proc.driver_peak_rss_mb": "MiB",
        "calib.md5_32mib_s": "s", "calib.ceiling_speedup": "x",
        "probe.queries": "count", "probe.mismatches": "count",
        "trace.spans": "count", "trace.overhead_frac": "fraction",
        "trace.untraced_runs": "count",
    })
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="corpus and batch sizes; tiny is for the self-test")
    return ap.parse_args(argv)


def _on_sigterm(signum, frame):
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # one unwind only
    raise SystemExit(128 + signum)


def tail_percentile(n: int) -> int:
    """Highest whole percentile (at most 99) with at least ten samples
    beyond it; 0 when ``n`` supports none above the median."""
    if n < 20:
        return 0
    return min(99, int(100 * (1 - 10 / n)))


def percentile(xs: list[float], pct: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(len(xs) * pct / 100))]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(
        os.path.join(ROOT, "themis_search_engine_spark", "__init__.py")
    ):
        print("perfbench: engine package themis_search_engine_spark not "
              f"found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGTERM, _on_sigterm)

    from perfbench import calib, sparkproc
    from perfbench.trace import Tracer

    sparkproc.become_subreaper()
    out_dir = os.path.join(HERE, "out", args.workload)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    calibration = calib.calibrate(sparkproc.CORES)

    t_setup = time.perf_counter()
    sp = sparkproc.SparkProcess(
        work, event_log_dir=os.path.join(work, "eventlog") if args.trace
        else None,
    )
    run = {"lats": [], "queries": 0, "ops": 0, "raised": 0,
           "probe": (0, 0), "probe_error": None}
    wl = tracer = None
    try:
        spark = sp.start()
        from perfbench.workloads import WORKLOADS

        tracer = Tracer(bool(args.trace), spark)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed,
                                      args.size)
        with tracer.op("setup"):
            wl.setup()
        run["setup_s"] = time.perf_counter() - t_setup
        timed_loop(wl, tracer, args.seconds, run)
        try:
            with tracer.op("probe"):
                run["probe"] = wl.probe()
        except Exception:
            run["probe_error"] = traceback.format_exc()
            print(run["probe_error"], file=sys.stderr)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        killed = sp.close()
        if killed:
            print(f"perfbench: killed processes that outlived the "
                  f"deadline: {killed}", file=sys.stderr)
        try:
            if wl is not None and "setup_s" in run:
                from perfbench.indexstats import bytes_per_posting

                run["index_bytes_per_posting"] = bytes_per_posting(
                    wl.index_paths)
                if args.trace:
                    run["layers"] = layer_metrics(wl, tracer, work, sp, run,
                                                  calibration)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    return report(args, wl, tracer, run, calibration, out_dir)


def timed_loop(wl, tracer, seconds: float, run: dict) -> None:
    """Closed loop, one client: the next operation starts when the
    previous one returned; at least one operation runs."""
    t_end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        try:
            with tracer.op(f"run:{run['ops']}"):
                n = wl.op()
            run["lats"].append(time.perf_counter() - t0)
            run["queries"] += n
        except Exception:
            if not run["raised"]:
                traceback.print_exc()
            run["raised"] += 1
        run["ops"] += 1
        if time.perf_counter() >= t_end:
            return


def end_to_end(wl, run: dict) -> dict:
    lats = run["lats"]
    ing = wl.ingest
    return {
        "setup_s": run["setup_s"],
        "qps": run["queries"] / sum(lats) if lats else 0.0,
        "lat_p50_ms": 1000 * statistics.median(lats) if lats else 0.0,
        "build_docs_per_s": ing["build_docs"] / ing["build_s"],
        "index_bytes_per_posting": run["index_bytes_per_posting"],
        "merge_docs_per_s": (ing["merge_docs"] / ing["merge_s"]
                             if ing["merge_s"] else 0.0),
        "compact_s": ing["compact_s"],
        "failed_frac": failed_ops(wl, run) / max(run["ops"], 1),
    }


def failed_ops(wl, run: dict) -> int:
    """Operations that raised, plus those whose probe check failed (each
    probe query is its own operation on serve_interactive; on the batch
    workloads all probe queries come from the first batch)."""
    bad = run["probe"][1]
    if run["probe_error"]:
        bad = max(bad, 1)
    if wl is not None and wl.name != "serve_interactive":
        bad = min(bad, 1)
    return run["raised"] + bad


def layer_metrics(wl, tracer, work, sp, run, calibration) -> dict:
    from perfbench import eventlog, indexstats, sparkproc

    jobs, tasks = eventlog.read(
        eventlog.find_log(os.path.join(work, "eventlog"))
    )
    layers = eventlog.op_counters(jobs, tasks, tracer.windows("run:"),
                                  sparkproc.CORES)
    layers.update(eventlog.setup_counters(jobs, tasks))
    n_ops = max(len(run["lats"]), 1)
    n_queries = max(run["queries"], 1)
    layers["pipeline.query_term_map_ms"] = 1000 * wl.qtm_s / n_queries
    layers["wand.local_ms"] = 1000 * wl.local_s / n_queries

    from themis_search_engine_spark.queryeng.pipeline import query_term_map

    op_terms = [list(query_term_map(q).values()) for q in wl.op_queries]
    # plan choice for each operation's inputs (df fractions from the
    # dictionary the operation priced)
    wl.df_frac = _df_fracs(wl.index_paths)
    plans = [wl.plan_label(terms) for terms in op_terms]
    for p in PLANS:
        layers[f"planner.plan_{p}"] = plans.count(p) / n_ops

    layers.update(indexstats.whole_index(wl.index_paths, wl.chunk_bits))
    rows = indexstats.TermRows(wl.index_paths)
    per_q = [rows.query(ts) for terms in op_terms for ts in terms]
    for i, key in enumerate(("index.row_groups_touched", "index.rows_matched",
                             "index.postings_matched")):
        layers[key] = sum(q[i] for q in per_q) / max(len(per_q), 1)
    matched = sum(q[2] for q in per_q)
    layers["wand.useful_frac"] = (sum(wl.op_results) / matched
                                  if matched else 0.0)

    from perfbench.workloads import PHASE_METRICS

    for name in PHASE_METRICS:
        layers[name] = wl.timings.get(name, 0.0)
    e2e = end_to_end(wl, run)
    for k in ("build_docs_per_s", "merge_docs_per_s", "compact_s"):
        layers[k] = e2e[k]

    lats = run["lats"]
    pct = tail_percentile(len(lats))
    layers["lat_tail_pct"] = float(pct)
    layers["lat_tail_ms"] = 1000 * percentile(lats, pct) if pct else 0.0
    layers["lat_samples"] = float(len(lats))
    layers["proc.jvm_peak_rss_mb"] = sp.jvm_peak_rss_mb
    layers["proc.driver_peak_rss_mb"] = sparkproc.peak_rss_mb()
    layers["calib.md5_32mib_s"] = calibration["md5_32mib_s"]
    layers["calib.ceiling_speedup"] = calibration["ceiling_speedup"]
    layers["probe.queries"] = float(run["probe"][0])
    layers["probe.mismatches"] = float(run["probe"][1])
    layers["trace.spans"] = float(len(tracer.spans))
    return layers


def _df_fracs(paths: list[str]) -> dict[str, float]:
    import pyarrow.parquet as pq

    out: dict[str, float] = {}
    for p in paths:
        n = pq.read_table(os.path.join(p, "global_stats")).column(
            "n_docs").to_pylist()[0]
        d = pq.read_table(os.path.join(p, "dictionary"),
                          columns=["term", "df"]).to_pydict()
        for t, df in zip(d["term"], d["df"]):
            out[t] = max(out.get(t, 0.0), df / n)
    return out


def report(args, wl, tracer, run, calibration, out_dir) -> int:
    """Print the metric lines, the context line and the result line;
    write the run's artifact. Returns the exit code."""
    from perfbench import sparkproc
    from perfbench.trace import self_times

    if wl is None or "setup_s" not in run:
        print("perfbench: setup did not complete", file=sys.stderr)
        return 1
    e2e = end_to_end(wl, run)
    lats = run["lats"]
    pct = tail_percentile(len(lats))
    for name, unit in END_TO_END.items():
        print(f"metric {name} {e2e[name]!r} {unit}")
    if pct:
        print(f"metric lat_p{pct}_ms {1000 * percentile(lats, pct)!r} ms")
    else:
        print(f"metric lat_tail_ms n/a ms ({len(lats)} samples support "
              "no percentile above the median)")
    for name, unit in EXTRA_E2E.items():
        print(f"metric {name} {e2e[name]!r} {unit}")
    failed = failed_ops(wl, run)
    correct = failed == 0 and run["probe"][0] > 0
    context = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "run_seconds": args.seconds, "trace": args.trace,
        "cores": os.cpu_count(), "spark_master": sparkproc.MASTER,
        "chunk_bits": wl.chunk_bits, "corpus_docs": wl.corpus_docs,
        "sizes": wl.p, "calibration": calibration,
        "operations": run["ops"], "latency_samples": len(lats),
        "probe_queries": run["probe"][0],
        "probe_mismatches": run["probe"][1],
    }
    print("context " + json.dumps(context))

    artifact = {"context": context, "end_to_end": e2e, "latencies_s": lats}
    if args.trace:
        metrics = run["layers"]
        overhead = tracing_overhead(out_dir, e2e, args.size, args.seconds)
        metrics["trace.overhead_frac"] = overhead["qps_overhead_frac"]
        metrics["trace.untraced_runs"] = float(overhead["untraced_runs"])
        artifact.update({
            "overhead": overhead, "layers": metrics, "spans": tracer.spans,
            "span_self_times": self_times(tracer.spans),
        })
        name = f"traced-seed{args.seed}.json"
    else:
        metrics = {k: e2e[k] for k in END_TO_END}
        name = f"untraced-seed{args.seed}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(artifact, fh, indent=1)
    units = _per_layer() if args.trace else END_TO_END
    missing = set(units) ^ set(metrics)
    if missing:
        raise RuntimeError(f"metric set differs from its units: {missing}")
    print(json.dumps({
        "correct": correct,
        "attempted": run["ops"],
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }))
    return 0 if correct else 1


def tracing_overhead(out_dir: str, traced: dict, size: str,
                     seconds: float) -> dict:
    """Traced end-to-end metrics against the median of the untraced runs
    of the same workload, size and run length stored in this checkout."""
    base = []
    for f in sorted(glob.glob(os.path.join(out_dir, "untraced-seed*.json"))):
        with open(f) as fh:
            rec = json.load(fh)
        ctx = rec["context"]
        if ctx["size"] == size and ctx["run_seconds"] == seconds:
            base.append(rec["end_to_end"])
    out = {"untraced_runs": len(base), "qps_overhead_frac": 0.0,
           "relative_change": {}}
    if not base:
        return out
    for k in END_TO_END:
        med = statistics.median(b[k] for b in base)
        if med:
            out["relative_change"][k] = traced[k] / med - 1
    out["qps_overhead_frac"] = -out["relative_change"].get("qps", 0.0)
    return out


if __name__ == "__main__":
    sys.exit(main())
