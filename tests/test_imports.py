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


REPO = PACKAGE.parent


def _names(node: ast.AST) -> set[str]:
    """Every identifier `node` mentions: names, attributes, imported names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _repo_files() -> list[pathlib.Path]:
    """Every `.py` file of the repository outside hidden directories."""
    return [
        p for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    ]


def unreferenced_defs() -> list[str]:
    """Top-level functions and classes of the engine package that no
    `.py` file in the repository (engine, tests, cdcbench, bench.py,
    __spark_entry__.py, ...) mentions outside the definition's own
    body. Dunder names are skipped."""
    files = _repo_files()
    # per top-level statement: how many statements mention each name
    mentions: dict[str, int] = {}
    defs = []
    for p in files:
        tree = ast.parse(p.read_text())
        for stmt in tree.body:
            names = _names(stmt)
            for name in names:
                mentions[name] = mentions.get(name, 0) + 1
            if PACKAGE in p.parents and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.append((p, stmt, stmt.name in names))
    return [
        f"{p.relative_to(REPO)}:{d.lineno} {d.name}"
        for p, d, self_ref in defs
        if not (d.name.startswith("__") and d.name.endswith("__"))
        and mentions.get(d.name, 0) - self_ref == 0
    ]


def test_no_unreferenced_definitions():
    dead = unreferenced_defs()
    assert not dead, "definitions nothing references:\n" + "\n".join(dead)


def unpassed_keyword_only() -> list[str]:
    """Keyword-only parameters with a default (declared after `*`) of the
    engine package's functions that no call in any `.py` file of the
    repository passes by name: a setting no caller sets is dead."""
    passed = set()
    for p in _repo_files():
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Call):
                passed.update(k.arg for k in node.keywords if k.arg)
    found = []
    for p in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for arg, default in zip(node.args.kwonlyargs, node.args.kw_defaults):
                if default is not None and arg.arg not in passed:
                    found.append(f"{p.relative_to(REPO)}:{node.lineno} {node.name}({arg.arg}=)")
    return found


def test_keyword_only_parameters_are_passed():
    dead = unpassed_keyword_only()
    assert not dead, "keyword-only parameters no caller passes:\n" + "\n".join(dead)
