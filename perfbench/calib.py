"""Same-run machine calibration, recorded next to every result.

Two yardsticks let later runs be compared like for like on a box whose
speed drifts: a single-thread md5 over a fixed buffer (as bench.py) and
a multi-core ceiling in the style of bench_scaling.py's compute kernel,
run as plain subprocesses so nothing outlives the measurement.
"""

from __future__ import annotations

import hashlib
import subprocess
import sys
import time

# each kernel waits for a go byte on stdin so all start together, then
# prints the seconds its own md5 chain took (process start excluded)
_CHAIN = (
    "import hashlib, sys, time\n"
    "sys.stdin.read(1)\n"
    "t0 = time.perf_counter()\n"
    "h = b'x'\n"
    "for _ in range({n}):\n"
    "    h = hashlib.md5(h).digest()\n"
    "print(time.perf_counter() - t0)\n"
)


def md5_single_s(mib: int = 32) -> float:
    """Seconds for one thread to md5 ``mib`` MiB in 64 KiB blocks."""
    blk = b"\xa5" * 65536
    t0 = time.perf_counter()
    for _ in range(mib * 16):
        hashlib.md5(blk).digest()
    return time.perf_counter() - t0


def _chains_s(procs: int, n: int) -> list[float]:
    running = [
        subprocess.Popen([sys.executable, "-c", _CHAIN.format(n=n)],
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                         text=True)
        for _ in range(procs)
    ]
    for p in running:
        p.stdin.write("g")
        p.stdin.flush()
    out = []
    for p in running:
        stdout, _ = p.communicate()
        if p.returncode != 0:
            raise RuntimeError("calibration kernel failed")
        out.append(float(stdout))
    return out


def ceiling(cores: int, n: int = 150_000) -> dict:
    """Throughput of ``cores`` concurrent md5 chains over one chain: the
    speed-up this box itself gives a compute-bound kernel at the
    benchmark's core count (``cores`` at perfect scaling). The single
    chain is the faster of two runs, since one run alone drifts with
    the box's clock."""
    one = min(_chains_s(1, n)[0] for _ in range(2))
    many = _chains_s(cores, n)
    return {
        "ceiling_1core_s": one,
        "ceiling_ncore_s": max(many),
        "ceiling_speedup": sum(one / t for t in many),
    }


def calibrate(cores: int) -> dict:
    return {"md5_32mib_s": md5_single_s(), **ceiling(cores)}
