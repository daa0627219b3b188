"""Session factory: master parsing and the single reuse policy."""

import glob
import os

import pytest

from uckg_spark.session import _master_cores, reuse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("master,cores", [
    ("local", 1),
    ("local[*]", os.cpu_count()),
    ("local[4]", 4),
    ("local[4,2]", 4),  # with task retries
    ("local-cluster[2,1,1024]", 2),
    ("local-cluster[3,2,512]", 6),
])
def test_master_cores(master, cores):
    assert _master_cores(master) == cores


def test_reuse_checkpoints_in_single_jvm_local_mode(spark):
    df = reuse(spark.range(5))
    assert not df.is_cached  # localCheckpoint, not persist
    assert df.count() == 5


def test_reuse_policy_lives_only_in_session():
    """The local-vs-cluster materialization choice is made in one place:
    no other module reads the master or checkpoints locally itself."""
    paths = (glob.glob(f"{REPO}/uckg_spark/**/*.py", recursive=True)
             + glob.glob(f"{REPO}/jobs/**/*.py", recursive=True)
             + [f"{REPO}/__spark_entry__.py"])
    offenders = []
    for path in paths:
        if os.path.samefile(path, f"{REPO}/uckg_spark/session.py"):
            continue
        src = open(path, encoding="utf-8").read()
        # literal split so a grep for the call keeps listing session.py alone
        for needle in ("sparkContext.master", "localCheckpoint" "("):
            if needle in src:
                offenders.append(f"{os.path.relpath(path, REPO)}: {needle}")
    assert not offenders, "use uckg_spark.session.reuse:\n" + "\n".join(offenders)
