"""Process-lifetime scratch directories (session.scratch_dir, used by the
registry's per-corpus caches) are removed when the interpreter exits."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import os
from themis_search_engine_spark.session import scratch_dir
d = scratch_dir("themis_test_")
os.makedirs(d + "/idx/part")
with open(d + "/idx/part/f.parquet", "w") as fh:
    fh.write("x")
print(d, os.path.isdir(d))
"""


def test_scratch_dir_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", CHILD], cwd=ROOT, env=env,
        capture_output=True, text=True, check=True,
    )
    d, existed = out.stdout.split()
    assert existed == "True"
    assert d.startswith(str(tmp_path)) and "themis_test_" in d
    assert not os.path.exists(d)
