"""Unused-import check over the engine package: a stdlib `ast` scan, no
linter dependency. An import counts as used when its bound name appears
anywhere in the same module; `__init__.py` re-exports and `# noqa`
lines are skipped."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "bingo2sql_spark"


def unused_imports(path: pathlib.Path) -> list[str]:
    source = path.read_text()
    lines = source.splitlines()
    tree = ast.parse(source)
    used = {node.id for node in ast.walk(tree) if isinstance(node, ast.Name)}
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if "# noqa" in lines[node.lineno - 1]:
            continue
        for alias in node.names:
            bound = alias.asname or alias.name.split(".")[0]
            if alias.name != "*" and bound not in used:
                found.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {bound}")
    return found


def test_no_unused_imports():
    files = sorted(p for p in PACKAGE.rglob("*.py") if p.name != "__init__.py")
    assert files
    unused = [hit for p in files for hit in unused_imports(p)]
    assert not unused, "unused imports:\n" + "\n".join(unused)
