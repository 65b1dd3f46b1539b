"""Unused-import lint over the program's own Python files.

The repo ships no linter, so an import left behind by a refactor survives
until someone happens to read the file. This test parses every module of
the package, ``scripts/``, ``tests/`` and the two top-level entry points,
and fails
when a name an ``import`` binds is never read in that file. A name listed
in the module's ``__all__`` counts as used (a re-export); an import whose
line carries ``noqa: F401`` is kept on purpose (an import run for its side
effect).
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOTS = ["nocouncil_etl_spark", "scripts", "tests"]
FILES = ["bench.py", "__spark_entry__.py"]


def _sources() -> list[str]:
    paths = [os.path.join(REPO, f) for f in FILES]
    for root in ROOTS:
        for dirpath, _, names in os.walk(os.path.join(REPO, root)):
            paths += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    return sorted(paths)


def _exported(tree: ast.Module) -> set[str]:
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            return {e.value for e in node.value.elts if isinstance(e, ast.Constant)}
    return set()


def unused_imports(path: str) -> list[str]:
    """``relpath:line name`` for each name an import in ``path`` binds and
    the file never reads."""
    with open(path) as fh:
        src = fh.read()
    tree = ast.parse(src)
    lines = src.splitlines()
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)} | _exported(tree)
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if "noqa: F401" in lines[node.lineno - 1]:
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            if name != "*" and name not in read:
                found.append(f"{os.path.relpath(path, REPO)}:{node.lineno} {name}")
    return found


def test_no_unused_imports():
    found = [u for path in _sources() for u in unused_imports(path)]
    assert not found, "unused imports:\n" + "\n".join(found)


def test_lint_sees_an_unused_import(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import os\nimport sys  # noqa: F401\nfrom math import pi, tau\n"
        "__all__ = ['tau']\n\n\ndef f():\n    import json\n    return pi\n"
    )
    assert [u.split(" ")[1] for u in unused_imports(str(probe))] == ["os", "json"]
