"""The driver contract's scratch dirs outlive their query but not the
process: a query that builds a temp catalog (or stages a stream) leaves
its dir readable for the session, and interpreter exit removes it."""

import glob
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import glob, os, sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as E
from uckg_spark.session import build_session

spark = build_session(app_name="uckg-scratch", master="local[2]",
                      shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
rows = E.queries()["catalog_tag"](spark, E.SF_DEFAULT).collect()
live = glob.glob(os.path.join({tmp!r}, "uckg_*_q_*"))
print("ROWS", len(rows), "LIVE", len(live))
spark.stop()
"""


def test_query_scratch_dirs_removed_at_exit(tmp_path):
    tmp = str(tmp_path / "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, TMPDIR=tmp)
    proc = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO, tmp=tmp)],
        env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS")][-1]
    _, n_rows, _, n_live = line.split()
    # the query ran, and its catalog was on disk while the session lived
    assert int(n_rows) > 0 and int(n_live) == 1
    assert glob.glob(os.path.join(tmp, "uckg_*_q_*")) == []
