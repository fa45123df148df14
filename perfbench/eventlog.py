"""Spark event-log counters for a traced run, attributed per operation
and per engine module.

A job belongs to the operation named by its ``perfbench.op`` property
(see :mod:`perfbench.trace`). It belongs to the engine module named in
its call site when PySpark recorded one inside the engine package
(``collect at .../queryeng/planner.py:171``), and otherwise to the
module of the innermost benchmark span open when it was submitted
(writes and counts carry only a JVM call site). Stages and tasks follow
the same rule through the stage's own properties.
"""

from __future__ import annotations

import glob
import json
import os
import re

from .trace import MODULE_PROP, OP_PROP, union_length

MODULES = ("planner", "sharded", "wand", "federated", "build", "compress",
           "merge")
SETUP_MODULES = ("build", "compress", "merge")
_ENGINE_FILE = re.compile(r"themis_search_engine_spark/(?:\w+/)*(\w+)\.py")
# pandas operators (applyInPandas, mapInPandas, ...) named in a stage's
# RDD scopes: the stage runs the JVM <-> Python grouped-map bridge
_PANDAS_OP = re.compile(r'"name":"\w*InPandas\w*"')
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def _module(props: dict) -> str:
    m = _ENGINE_FILE.search(props.get("callSite.short", "") or "")
    if m:
        return m.group(1)
    return props.get(MODULE_PROP) or "other"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def find_log(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {files}")
    return files[0]


def read(path: str) -> tuple[dict, dict]:
    """(jobs, tasks_by_op): job id -> {op, module, start, end}; op ->
    list of task records {module, launch, finish, failed, metrics...}."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[str, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "op": props.get(OP_PROP), "module": _module(props),
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = {
                    "op": props.get(OP_PROP), "module": _module(props),
                    "pandas": any(_PANDAS_OP.search(r.get("Scope") or "")
                                  for r in info.get("RDD Info", [])),
                }
            elif kind == "SparkListenerTaskEnd":
                st = stages.get(ev["Stage ID"],
                                {"op": None, "module": "other", "pandas": False})
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                acc = {a.get("Name"): _num(a.get("Update"))
                       for a in info.get("Accumulables", [])}
                tasks.setdefault(st["op"], []).append({
                    "module": st["module"], "pandas": st["pandas"],
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "failed": ev["Task End Reason"]["Reason"] != "Success",
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "input_bytes": (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "py_sent": acc.get(_PY_SENT, 0.0),
                    "py_returned": acc.get(_PY_RETURNED, 0.0),
                    "stage": ev["Stage ID"],
                })
    return jobs, tasks


def op_counters(jobs: dict, tasks: dict, windows: dict, cores: int) -> dict:
    """Per-operation means over the operations in ``windows`` (op id ->
    (start, end) epoch seconds) of the runtime counters and the
    per-module job wall and task seconds."""
    n = max(len(windows), 1)
    out = {k: 0.0 for k in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
        "spark.task_s_sum", "spark.driver_only_s", "spark.core_busy_frac",
        "spark.input_bytes", "spark.shuffle_bytes", "spark.spill_bytes",
        "spark.gc_s", "bridge.sent_bytes", "bridge.returned_bytes",
        "bridge.task_s",
    )}
    for m in MODULES:
        out[f"{m}.job_wall_s"] = 0.0
        out[f"{m}.task_s"] = 0.0
    busy = 0.0
    for op, (t0, t1) in windows.items():
        op_jobs = [j for j in jobs.values() if j["op"] == op]
        op_tasks = tasks.get(op, [])
        out["spark.jobs"] += len(op_jobs)
        out["spark.stages"] += len({t["stage"] for t in op_tasks})
        out["spark.tasks"] += len(op_tasks)
        out["spark.failed_tasks"] += sum(t["failed"] for t in op_tasks)
        run_s = sum(t["run_s"] for t in op_tasks)
        out["spark.task_s_sum"] += run_s
        if op_jobs:  # an operation that runs no job has no Spark time
            covered = union_length(
                [(t["launch"], t["finish"]) for t in op_tasks], t0, t1
            )
            out["spark.driver_only_s"] += (t1 - t0) - covered
        busy += run_s / max((t1 - t0) * cores, 1e-9)
        for key, field in (("spark.input_bytes", "input_bytes"),
                           ("spark.shuffle_bytes", "shuffle_bytes"),
                           ("spark.spill_bytes", "spill_bytes"),
                           ("spark.gc_s", "gc_s"),
                           ("bridge.sent_bytes", "py_sent"),
                           ("bridge.returned_bytes", "py_returned")):
            out[key] += sum(t[field] for t in op_tasks)
        out["bridge.task_s"] += sum(t["run_s"] for t in op_tasks
                                    if t["pandas"])
        for j in op_jobs:
            if j["module"] in MODULES and j["end"] is not None:
                out[f"{j['module']}.job_wall_s"] += j["end"] - j["start"]
        for t in op_tasks:
            if t["module"] in MODULES:
                out[f"{t['module']}.task_s"] += t["run_s"]
    out = {k: v / n for k, v in out.items()}
    out["spark.core_busy_frac"] = busy / n
    return out


def setup_counters(jobs: dict, tasks: dict) -> dict:
    """Totals over the setup phase (the ingest lifecycle) for the build,
    compress and merge modules."""
    out = {}
    for m in SETUP_MODULES:
        out[f"setup.{m}.job_wall_s"] = sum(
            j["end"] - j["start"] for j in jobs.values()
            if j["op"] == "setup" and j["module"] == m and j["end"] is not None
        )
        out[f"setup.{m}.task_s"] = sum(
            t["run_s"] for t in tasks.get("setup", []) if t["module"] == m
        )
    return out
