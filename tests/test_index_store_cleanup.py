"""Index stores live in per-process temp directories; each one is removed
when the process that built it exits."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import os, sys
sys.path.insert(0, {root!r})
from log_vector_spark.sources import index_store

def build(spark, sf_dir, path):
    open(os.path.join(path, "artifact"), "w").close()

path = index_store._ensure(None, {sf_dir!r}, "probe", build)
assert os.path.exists(os.path.join(path, "artifact"))
print(path)
"""


def test_index_store_temp_dir_removed_at_exit(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", CHILD.format(root=ROOT, sf_dir=str(tmp_path))],
        capture_output=True,
        text=True,
        env={**os.environ, "TMPDIR": str(tmp)},
    )
    assert proc.returncode == 0, proc.stderr
    path = proc.stdout.strip().splitlines()[-1]
    assert os.path.dirname(path) == str(tmp)
    assert os.path.basename(path).startswith("lvs_probe_store_")
    assert not os.path.exists(path)
    assert os.listdir(tmp) == []
