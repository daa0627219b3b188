"""Guard: deployment settings are read in ``uckg_spark/session.py`` only.

A module under ``uckg_spark/``, ``jobs/`` or ``tools/``, or the driver
contract ``__spark_entry__.py``, that reads ``os.environ`` or
``os.getenv`` grows a tuning knob no caller sees. Settings a deployment
must choose (master, driver memory) live in ``session.py``; everything
else is a constant or a parameter. ``bench.py`` is frozen and out of
scope.
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALLOWED = {os.path.join("uckg_spark", "session.py")}
ENV_NAMES = {"environ", "getenv", "environb", "getenvb"}


def _env_reads(path: str) -> list[int]:
    """Line numbers in ``path`` that touch the process environment."""
    lines = []
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
        if (isinstance(node, ast.Attribute) and node.attr in ENV_NAMES
                and isinstance(node.value, ast.Name) and node.value.id == "os"):
            lines.append(node.lineno)
        elif (isinstance(node, ast.ImportFrom) and node.module == "os"
              and any(a.name in ENV_NAMES for a in node.names)):
            lines.append(node.lineno)
    return sorted(lines)


def test_only_session_reads_the_environment():
    paths = ([f"{REPO}/__spark_entry__.py"]
             + [p for d in ("uckg_spark", "jobs", "tools")
                for p in glob.glob(f"{REPO}/{d}/**/*.py", recursive=True)])
    assert any(p.endswith("session.py") for p in paths)
    assert any(p.endswith("scaling_bench.py") for p in paths)
    found = [f"{rel}:{line}" for p in sorted(paths)
             if (rel := os.path.relpath(p, REPO)) not in ALLOWED
             for line in _env_reads(p)]
    assert not found, (
        "environment reads outside uckg_spark/session.py (make them a "
        "constant or a parameter):\n" + "\n".join(found))


def test_guard_sees_both_spellings(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text("import os\nfrom os import getenv\n"
                   "a = os.environ.get('X')\nb = os.getenv('Y')\n")
    assert _env_reads(str(src)) == [2, 3, 4]
