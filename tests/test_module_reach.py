"""Guard: every module under ``uckg_spark/`` has a caller.

Walks ``import`` statements (function-level ones included) from the
driver contract, the spark-submit jobs and the streaming package, plus
the test-support roots (fixtures, the oracle, the plan doctor). A module
no walk reaches is code nothing runs: delete it, or give it a caller.
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _module_name(path: str) -> str:
    parts = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: str, known: dict[str, str]):
    """Module names imported anywhere in ``path``."""
    name = _module_name(path)
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1]
                                + ([base] if base else []))
            yield base
            # `from pkg import mod` names a submodule, not an attribute
            yield from (f"{base}.{a.name}" for a in node.names
                        if f"{base}.{a.name}" in known)


def test_every_package_module_has_a_caller():
    known = {_module_name(p): p for p in
             glob.glob(f"{REPO}/uckg_spark/**/*.py", recursive=True)}
    roots = ([f"{REPO}/__spark_entry__.py", f"{REPO}/uckg_spark/plans/doctor.py"]
             + glob.glob(f"{REPO}/jobs/*.py")
             + [p for sub in ("streaming", "fixtures", "oracle")
                for p in glob.glob(f"{REPO}/uckg_spark/{sub}/*.py")])
    reached = {_module_name(p) for p in roots}
    stack = list(roots)
    while stack:
        for mod in _imports(stack.pop(), known):
            parts = mod.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in known and prefix not in reached:
                    reached.add(prefix)
                    stack.append(known[prefix])
    unreached = sorted(set(known) - reached)
    assert not unreached, (
        "modules no entry point imports (delete them or give them a caller):\n"
        + "\n".join(unreached))
