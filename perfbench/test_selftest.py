"""Tiny-size self-test of the benchmark (about four minutes):

    python3 -m pytest -q perfbench/test_selftest.py

Runs every workload the command accepts (the ones in BENCHMARK.json and
``serve_federated``) once traced and once untraced. Checks that every
metric is printed by name with its unit, that the probe check ran, and
that no process the run started is alive the moment the command
returns.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid

import pytest

from perfbench.run import WORKLOAD_NAMES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MARK = "PERFBENCH_SELFTEST_MARK"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
PRINTED = ("setup_s", "qps", "lat_p50_ms", "build_docs_per_s",
           "index_bytes_per_posting", "merge_docs_per_s", "compact_s",
           "failed_frac")


def _marked_pids(token: str) -> list[int]:
    """Live processes whose environment carries ``MARK=token``."""
    needle = f"{MARK}={token}".encode()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                env = fh.read().split(b"\0")
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if needle in env and stat[stat.rindex(")") + 2] != "Z":
            found.append(int(name))
    return found


def _run(cwd: str, workload: str, trace: int) -> tuple[subprocess.
                                                       CompletedProcess, list]:
    token = uuid.uuid4().hex
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, env=dict(os.environ, **{MARK: token}),
        capture_output=True, text=True, timeout=600,
    )
    return proc, _marked_pids(token)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_workload_once(workload, trace):
    proc, left = _run(ROOT, workload, trace)
    assert left == [], f"processes alive after the command returned: {left}"
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1

    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    metric_lines = {ln.split()[1]: ln.split()[3] for ln in lines
                    if ln.startswith("metric ") and ln.split()[2] != "n/a"}
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    for name in PRINTED:
        assert name in metric_lines, name
        if name in units:
            assert metric_lines[name] == units[name]
    assert any(n.startswith(("lat_p", "lat_tail")) for n in
               (ln.split()[1] for ln in lines if ln.startswith("metric ")))

    context = json.loads(next(
        ln for ln in lines if ln.startswith("context "))[len("context "):])
    assert context["probe_queries"] > 0
    assert context["probe_mismatches"] == 0
    assert "md5_32mib_s" in context["calibration"]
    if trace:
        assert result["metrics"]["probe.queries"]["value"] > 0
        if workload == "serve_interactive":
            spark = [k for k in result["metrics"] if k.startswith("spark.")]
            assert all(result["metrics"][k]["value"] == 0 for k in spark)


def test_fails_without_engine(tmp_path):
    """A directory holding only BENCHMARK.json and the benchmark exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", ".work",
                                                  "__pycache__"))
    proc, left = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert left == []
    assert proc.returncode != 0
    assert not proc.stdout.strip()
