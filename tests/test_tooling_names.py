"""The tooling names only code that exists: every script the Makefile
runs is on disk, and every ``borsa_spark`` import in the repo resolves.
A removed script or module would otherwise leave a dead entry that only
fails when the target is run (or, for an import inside a function, when
that function is called). The request paths also build no local rows
from a Python list, which would start Python workers. Everything is read
with ``ast`` or a regex, so no script is imported and no Spark session
starts."""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_makefile_examples_exist():
    with open(os.path.join(REPO, "Makefile")) as f:
        scripts = re.findall(r"\bpython3?\s+([\w./-]+\.py)\b", f.read())
    dirs = {os.path.dirname(s) for s in scripts}
    assert {"examples", "tools", "perfbench"} <= dirs, dirs
    missing = [s for s in scripts
               if not os.path.isfile(os.path.join(REPO, s))]
    assert missing == []


# Where ``borsa_spark`` is imported from: the package and everything
# that drives it.
IMPORT_SCAN = ("borsa_spark", "examples", "tools", "tests", "perfbench",
               "__spark_entry__.py")


def _module_file(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _top_level_names(stmts, names: set) -> set:
    """Names a module binds at top level, including inside top-level
    ``if``/``try``/``with``/``for`` blocks (but not in function or class
    bodies)."""
    for node in stmts:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0]
                         for a in node.names)
        else:
            for _, value in ast.iter_fields(node):
                for sub in value if isinstance(value, list) else [value]:
                    if isinstance(sub, ast.stmt):
                        _top_level_names([sub], names)
                    elif isinstance(sub, ast.ExceptHandler):
                        names.update([sub.name] if sub.name else [])
                        _top_level_names(sub.body, names)
                    elif isinstance(sub, ast.AST):
                        names.update(
                            n.id for n in ast.walk(sub)
                            if isinstance(n, ast.Name)
                            and isinstance(n.ctx, ast.Store)
                        )
    return names


def _py_files():
    for entry in IMPORT_SCAN:
        path = os.path.join(REPO, entry)
        if os.path.isfile(path):
            yield path
            continue
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            yield from (os.path.join(root, f) for f in sorted(files)
                        if f.endswith(".py"))


def _from_module(path: str, node: ast.ImportFrom) -> str:
    """The absolute module of a ``from`` import (relative ones resolved
    against the importing file's package)."""
    if not node.level:
        return node.module
    parts = os.path.relpath(path, REPO)[:-len(".py")].split(os.sep)
    base = ".".join(parts[:len(parts) - node.level])
    return f"{base}.{node.module}" if node.module else base


def test_borsa_spark_imports_resolve():
    bindings: dict = {}

    def binds(module: str, name: str) -> bool:
        if _module_file(f"{module}.{name}"):
            return True
        if module not in bindings:
            with open(_module_file(module)) as f:
                bindings[module] = _top_level_names(
                    ast.parse(f.read()).body, set())
        return name in bindings[module]

    dangling = []
    for path in _py_files():
        rel = os.path.relpath(path, REPO)
        with open(path) as f:
            tree = ast.parse(f.read(), rel)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                pairs = [(a.name, None) for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                module = _from_module(path, node)
                pairs = [(module, a.name) for a in node.names]
            else:
                continue
            for module, name in pairs:
                if module.split(".")[0] != "borsa_spark":
                    continue
                if _module_file(module) is None:
                    dangling.append((rel, node.lineno, module))
                elif name not in (None, "*") and not binds(module, name):
                    dangling.append((rel, node.lineno, f"{module}:{name}"))
    assert dangling == []


# Request paths: their local rows go through Arrow (``_local_frame``),
# because ``createDataFrame`` over a list runs a pickled Python RDD.
LOCAL_ROW_SCAN = ("borsa_spark/router", "borsa_spark/sources/rest.py")


def _pickled_row_calls(tree) -> list[int]:
    """Lines of ``createDataFrame`` calls whose data is a list, tuple or
    list comprehension."""
    lines = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"):
            continue
        data = node.args[:1] + [k.value for k in node.keywords
                                if k.arg == "data"]
        if any(isinstance(d, (ast.List, ast.Tuple, ast.ListComp))
               for d in data):
            lines.append(node.lineno)
    return lines


def test_request_paths_create_no_rows_from_lists():
    planted = ast.parse(
        'spark.createDataFrame([(s,) for s in symbols], "symbol string")\n'
        'spark.createDataFrame(data=[], schema="symbol string")\n'
        'spark.createDataFrame(((1,),), "a int")\n'
        'spark.createDataFrame(pdf, "symbol string")\n'
    )
    assert _pickled_row_calls(planted) == [1, 2, 3]
    offenders = []
    for entry in LOCAL_ROW_SCAN:
        path = os.path.join(REPO, entry)
        files = [path] if os.path.isfile(path) else [
            os.path.join(path, f) for f in sorted(os.listdir(path))
            if f.endswith(".py")]
        for f in files:
            with open(f) as fh:
                tree = ast.parse(fh.read(), f)
            offenders += [(os.path.relpath(f, REPO), line)
                          for line in _pickled_row_calls(tree)]
    assert offenders == []
