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
    repository passes by name to a callee of the function's name (a
    call of a class counts for its `__init__`): a setting no caller sets
    is dead. A keyword passed to another function of its own does not
    keep it alive."""
    passed = set()
    for p in _repo_files():
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Call):
                callee = _callee_name(node)
                passed.update((callee, k.arg) for k in node.keywords if k.arg)
    found = []
    for p in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(p.read_text())
        init_of = {
            id(f): c.name
            for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
            for f in c.body if isinstance(f, ast.FunctionDef) and f.name == "__init__"
        }
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            callee = init_of.get(id(node), node.name)
            for arg, default in zip(node.args.kwonlyargs, node.args.kw_defaults):
                if default is not None and (callee, arg.arg) not in passed:
                    found.append(f"{p.relative_to(REPO)}:{node.lineno} {node.name}({arg.arg}=)")
    return found


def test_keyword_only_parameters_are_passed():
    dead = unpassed_keyword_only()
    assert not dead, "keyword-only parameters no caller passes:\n" + "\n".join(dead)


#: DataFrame methods that run their first argument on a Python worker
PYTHON_UDF_METHODS = {"mapInArrow", "mapInPandas", "applyInPandas", "applyInPandasWithState"}
WORKER_WRAPPER = "on_python_worker"


def _callee_name(node: ast.AST) -> str | None:
    """`f` for `f`, `f(...)`, `m.f` and `m.f(...)`."""
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _wrapped(fn: ast.FunctionDef, below: int = -1) -> bool:
    """Whether `fn` carries the worker wrapper among its decorators after
    index `below` (decorators apply bottom-up, so a wrapper listed
    under `@pandas_udf` is applied first)."""
    return any(_callee_name(d) == WORKER_WRAPPER for d in fn.decorator_list[below + 1:])


def unwrapped_python_udfs() -> list[str]:
    """Functions the engine package hands to Spark to run on a Python
    worker — the first argument of `mapInArrow` / `mapInPandas` /
    `applyInPandas` / `applyInPandasWithState`, and every function
    decorated with (or passed to) `pandas_udf` — that are not wrapped by
    `session.on_python_worker`. A passed name resolves to the nearest
    definition of that name in an enclosing scope of the call; an
    argument that is neither a name nor a wrapper call counts as
    unwrapped."""
    scopes = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
    found = []
    for p in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(p.read_text())
        parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        where = f"{p.relative_to(REPO)}"

        def local_defs(scope: ast.AST) -> dict[str, ast.FunctionDef]:
            out, todo = {}, list(ast.iter_child_nodes(scope))
            while todo:
                n = todo.pop()
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    out.setdefault(n.name, n)
                elif not isinstance(n, scopes):
                    todo.extend(ast.iter_child_nodes(n))
            return out

        def resolve(name: str, at: ast.AST):
            n = at
            while n in parent:
                n = parent[n]
                if isinstance(n, scopes) and name in local_defs(n):
                    return local_defs(n)[name]
            return None

        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for i, d in enumerate(node.decorator_list):
                    if _callee_name(d) == "pandas_udf" and not _wrapped(node, i):
                        found.append(f"{where}:{node.lineno} @pandas_udf {node.name}")
                continue
            if not isinstance(node, ast.Call):
                continue
            name = _callee_name(node.func)
            if isinstance(node.func, ast.Attribute) and name in PYTHON_UDF_METHODS:
                args = node.args[:1] or [k.value for k in node.keywords if k.arg == "func"]
            elif isinstance(node.func, ast.Name) and name == "pandas_udf":
                args = [a for a in node.args[:1] if not isinstance(a, ast.Constant)]
            else:
                continue
            for arg in args:
                if isinstance(arg, ast.Call) and _callee_name(arg) == WORKER_WRAPPER:
                    continue
                target = resolve(arg.id, node) if isinstance(arg, ast.Name) else None
                if target is None or not _wrapped(target):
                    found.append(f"{where}:{node.lineno} {name}({ast.unparse(arg)})")
    return found


def test_python_udfs_run_through_worker_wrapper():
    """Every Python UDF body of the engine drops the worker's zip
    finders first (`session.on_python_worker`); one that does not makes
    every later task of its worker re-read `pyspark.zip`."""
    bare = unwrapped_python_udfs()
    assert not bare, "Python UDFs not wrapped by on_python_worker:\n" + "\n".join(bare)


def test_drop_zip_finders_keeps_the_archive_importable(tmp_path, monkeypatch):
    """A call through `on_python_worker` leaves no `zipimporter` in
    `sys.path_importer_cache`, and a module of the same archive that was
    not imported yet still imports: its finder is rebuilt from
    zipimport's directory cache. The wrapper keeps the signature PySpark
    reads off grouped-map bodies."""
    import importlib
    import inspect
    import sys
    import zipfile
    import zipimport

    from bingo2sql_spark.session import on_python_worker

    archive = tmp_path / "zipped_pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_pkg/__init__.py", "")
        z.writestr("zipped_pkg/first.py", "VALUE = 1\n")
        z.writestr("zipped_pkg/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))

    def zip_finders() -> list[str]:
        cache = sys.path_importer_cache
        return [k for k, v in cache.items() if isinstance(v, zipimport.zipimporter)]

    @on_python_worker
    def body(x: int) -> list[str]:
        return zip_finders()

    try:
        assert importlib.import_module("zipped_pkg.first").VALUE == 1
        assert any(k.startswith(str(archive)) for k in zip_finders())
        assert body(0) == []
        assert zip_finders() == []
        assert importlib.import_module("zipped_pkg.second").VALUE == 2
        assert inspect.getfullargspec(body).args == ["x"]
    finally:
        for mod in ("zipped_pkg", "zipped_pkg.first", "zipped_pkg.second"):
            sys.modules.pop(mod, None)


#: calls that build a Column: a first argument made by one is a column
COLUMN_BUILDERS = {"col", "column", "expr"}


def _is_column_arg(arg: ast.AST) -> bool:
    """Whether a repartition call's first positional argument reads as a
    column: a string literal, `*cols`, `df.c` / `df["c"]`, or a
    `col(...)` / `column(...)` / `expr(...)` call."""
    if isinstance(arg, ast.Constant):
        return isinstance(arg.value, str)
    if isinstance(arg, ast.Call):
        return _callee_name(arg) in COLUMN_BUILDERS
    return isinstance(arg, (ast.Starred, ast.Attribute, ast.Subscript))


def counted_repartitions() -> list[str]:
    """`repartition` calls in the engine package given a partition
    count: `numPartitions=`, or a first positional argument that is not
    a column (an int, arithmetic, or a name ahead of the columns). A
    lone name passes: it may hold a column name."""
    found = []
    for p in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartition"
            ):
                continue
            first = node.args[0] if node.args else None
            lone_name = isinstance(first, ast.Name) and len(node.args) == 1
            counted = any(k.arg == "numPartitions" for k in node.keywords) or (
                first is not None and not _is_column_arg(first) and not lone_name
            )
            if counted:
                found.append(f"{p.relative_to(REPO)}:{node.lineno} {ast.unparse(node)}")
    return found


def test_repartitions_name_no_partition_count():
    """No exchange of the engine fixes its partition count. AQE can
    coalesce only a shuffle whose count it chose (spark.sql.shuffle
    .partitions), so a fixed count keeps every empty or tiny partition
    as a task, and each task pays a fixed setup cost (a file writer's
    deserializes the Hadoop Configuration in its closure). Pass columns
    only and let AQE size the tasks by their shuffle bytes."""
    fixed = counted_repartitions()
    assert not fixed, (
        "repartition calls with a fixed partition count (AQE cannot coalesce "
        "them; pass columns only, a column name held in a variable through "
        "F.col when more columns follow):\n" + "\n".join(fixed)
    )


#: the one engine module that reads deployment settings from the environment
SETTINGS_MODULE = PACKAGE / "session.py"


def environment_reads() -> list[str]:
    """`os.environ` / `os.getenv` uses (and `from os import` of either)
    in the engine package outside the settings module."""
    names = {"environ", "getenv"}
    found = []
    for p in sorted(PACKAGE.rglob("*.py")):
        if p == SETTINGS_MODULE:
            continue
        for node in ast.walk(ast.parse(p.read_text())):
            hit = (
                isinstance(node, ast.Attribute)
                and node.attr in names
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ) or (
                isinstance(node, ast.ImportFrom)
                and node.module == "os"
                and any(a.name in names for a in node.names)
            )
            if hit:
                found.append(f"{p.relative_to(REPO)}:{node.lineno} {ast.unparse(node)}")
    return found


def test_environment_is_read_only_in_session():
    """Deployment settings come from the environment in one place,
    `session.py`. An environment read elsewhere is a setting no caller
    passes and no test sets: make it a constant or an argument."""
    reads = environment_reads()
    assert not reads, (
        "environment reads outside bingo2sql_spark/session.py:\n" + "\n".join(reads)
    )


#: engine modules whose plans are SQL text (functions/sqltext.py): each
#: `pyspark.sql.functions` call there is one or more py4j round trips
SQL_TEXT_MODULES = ("operators/apply.py", "operators/resolve.py")

#: the `pyspark.sql.functions` calls those modules may make, with why
SQL_TEXT_ALLOWED = {
    "expr": "parses one SQL text into a Column in one gateway call; the "
    "commit's Observation metrics and bucket_col's public Column need one",
}


def column_builders() -> list[str]:
    """`pyspark.sql.functions` uses in SQL_TEXT_MODULES other than those
    SQL_TEXT_ALLOWED names: attributes of the module under any alias or
    its dotted path, and names imported from it."""
    found = []
    for rel in SQL_TEXT_MODULES:
        p = PACKAGE / rel
        tree = ast.parse(p.read_text())
        aliases = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
                aliases |= {a.asname or a.name for a in node.names if a.name == "functions"}
            elif isinstance(node, ast.Import):
                aliases |= {
                    a.asname for a in node.names if a.name == "pyspark.sql.functions" and a.asname
                }
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql.functions":
                names = [a.name for a in node.names if a.name not in SQL_TEXT_ALLOWED]
            elif isinstance(node, ast.Attribute) and node.attr not in SQL_TEXT_ALLOWED and (
                (isinstance(node.value, ast.Name) and node.value.id in aliases)
                or ast.unparse(node.value) == "pyspark.sql.functions"
            ):
                names = [node.attr]
            else:
                continue
            found += [f"{p.relative_to(REPO)}:{node.lineno} {n}" for n in names]
    return found


def test_sql_text_modules_build_no_column_trees():
    """The table's plans (operators/apply.py) and the batch projections
    that feed its commits (operators/resolve.py) are SQL text handed to
    Spark in a few gateway calls per step. A Column tree built through
    pyspark.sql.functions (F.col, F.lit, F.struct, F.when, ...) costs a
    round trip per node, plus one more per proxy finalization; such a
    call needs an entry with its reason in SQL_TEXT_ALLOWED."""
    built = column_builders()
    assert not built, (
        "pyspark.sql.functions calls in SQL-text modules (write the "
        "expression as SQL text, see functions/sqltext.py):\n" + "\n".join(built)
    )
