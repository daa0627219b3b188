"""Every /root/reference/ path cited in repo docstrings/comments must
resolve — citations are the audit trail (round-5 verdict item 4)."""
import glob
import os
import re

import pytest

REF_RE = re.compile(r"/root/reference/[A-Za-z0-9_./-]+?\.(?:py|ttl|json|cypher|md|txt)")
REF_ROOT = REF_RE.pattern.split("[", 1)[0]
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not os.path.isdir(REF_ROOT),
                    reason=f"reference tree {REF_ROOT} is not checked out")
def test_reference_citations_resolve():
    missing = []
    for path in glob.glob(f"{REPO}/uckg_spark/**/*.py", recursive=True) \
            + glob.glob(f"{REPO}/*.py"):
        src = open(path, encoding="utf-8").read()
        for cited in set(REF_RE.findall(src)):
            if not os.path.exists(cited):
                missing.append(f"{path}: {cited}")
    assert not missing, "stale reference citations:\n" + "\n".join(missing)
