"""Spark session lifetime for one benchmark run.

The benchmark must leave no process behind: ``SparkSession.stop()`` alone
leaves the JVM alive for about half a second, and the ``pyspark.daemon``
workers it forked die only after the JVM does. :class:`SparkProcess`
starts the session with every scratch path inside the run's work
directory and, on :meth:`close`, stops the session, shuts the py4j
gateway down, closes the JVM's stdin (its exit signal), and waits for
the JVM and every process below it, killing whatever outlives the
deadline.

The run makes itself a child subreaper (Linux ``prctl``), so workers
orphaned by the JVM's exit are re-parented to this process and can be
reaped with ``waitpid`` instead of polled.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

MASTER = "local[4]"
CORES = 4
_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _children_of(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[1]) == pid and fields[0] != "Z":
            out.append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children_of(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB, 0.0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _kill(pids) -> list[int]:
    killed = []
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
            killed.append(p)
        except ProcessLookupError:
            pass
    return killed


def wait_gone(tracked: list[int], deadline: float) -> list[int]:
    """Reap every child of this process and wait for the ``tracked``
    pids (which need not be children) until ``deadline``
    (``time.monotonic`` seconds); SIGKILL what is left, then wait for
    it too. Returns the pids that had to be killed."""
    killed: list[int] = []
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
            kids = _children_of(os.getpid())
        except ChildProcessError:
            kids = []
        left = kids + [p for p in tracked if alive(p)]
        if not left:
            return killed
        if time.monotonic() >= deadline:
            killed += _kill(
                [d for k in kids for d in descendants(k)] + left
            )
            deadline = float("inf")
        time.sleep(0.01)


class SparkProcess:
    """One ``local[4]`` session whose scratch state lives under ``work``."""

    def __init__(self, work: str, *, event_log_dir: str | None = None):
        self.work = work
        self.event_log_dir = event_log_dir
        self.spark = None
        self.jvm_pid: int | None = None
        self.jvm_peak_rss_mb = 0.0

    def start(self):
        from themis_search_engine_spark.session import get_spark

        local = os.path.join(self.work, "spark-local")
        jtmp = os.path.join(self.work, "jvm-tmp")
        for d in (local, jtmp):
            os.makedirs(d, exist_ok=True)
        # the environment is inherited by the JVM and its Python workers;
        # SPARK_LAUNCHER_OPTS reaches the short-lived launcher JVM that
        # spark-submit runs first
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = jtmp
        os.environ["SPARK_LAUNCHER_OPTS"] = (
            f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
        )
        conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        }
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            "themis-perfbench", master=MASTER, shuffle_partitions=8,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def close(self, deadline_s: float = 20.0) -> list[int]:
        """Stop Spark and wait until the JVM and its workers are gone.
        Safe to call when :meth:`start` failed half-way. Returns pids
        that outlived the deadline and were killed."""
        from pyspark import SparkContext

        deadline = time.monotonic() + deadline_s
        tracked: list[int] = []
        if self.jvm_pid is not None:
            self.jvm_peak_rss_mb = peak_rss_mb(self.jvm_pid)
            tracked = [self.jvm_pid] + descendants(self.jvm_pid)
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as exc:  # keep tearing down
                print(f"perfbench: spark.stop failed: {exc!r}", file=sys.stderr)
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception as exc:
                print(f"perfbench: gateway shutdown failed: {exc!r}",
                      file=sys.stderr)
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=max(0.1, deadline - time.monotonic()))
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None
        return wait_gone(tracked, deadline)
