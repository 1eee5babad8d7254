"""The tooling names only code that exists: every script the Makefile
runs is on disk, every example is run by some Makefile target, and every
``borsa_spark`` import in the repo resolves. A removed script or module
would otherwise leave a dead entry that only fails when the target is
run (or, for an import inside a function, when that function is
called), and a cut could leave an example that nothing runs. The
request paths also build no local rows from a Python list, which would
start Python workers; no library module sets the shuffle partition
count on a live session, or a key that drops the checksums of checkpoint
and state files. Every registered query has a DuckDB oracle and
every oracle a query. Everything but the registry is read with ``ast`` or
a regex, so no script is imported, and no check starts a Spark
session."""

from __future__ import annotations

import ast
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _makefile_scripts(text: str) -> list[str]:
    return re.findall(r"\bpython3?\s+([\w./-]+\.py)\b", text)


def test_makefile_examples_exist():
    with open(os.path.join(REPO, "Makefile")) as f:
        scripts = _makefile_scripts(f.read())
    dirs = {os.path.dirname(s) for s in scripts}
    assert {"examples", "tools", "perfbench"} <= dirs, dirs
    missing = [s for s in scripts
               if not os.path.isfile(os.path.join(REPO, s))]
    assert missing == []


def _orphan_examples(makefile: str, names: list[str]) -> list[str]:
    run = set(_makefile_scripts(makefile))
    return [n for n in names
            if n != "_common.py" and f"examples/{n}" not in run]


def test_every_example_is_run_by_the_makefile():
    planted = "tour:\n\tpython examples/a.py\n"
    assert _orphan_examples(planted, ["_common.py", "a.py", "b.py"]) == [
        "b.py"]
    with open(os.path.join(REPO, "Makefile")) as f:
        makefile = f.read()
    names = sorted(n for n in os.listdir(os.path.join(REPO, "examples"))
                   if n.endswith(".py"))
    assert _orphan_examples(makefile, names) == []


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


def _py_files(entries=IMPORT_SCAN):
    for entry in entries:
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


# ``get_spark`` alone decides the shuffle partition count and the Arrow
# batch size. A library call that sets either on a live session changes
# every query that shares the session, concurrent router threads included,
# and a stateful stream freezes whatever partition count it starts under
# into its checkpoint.
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
ARROW_BATCH_SIZE = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _conf_sets(tree, key: str) -> list[int]:
    """Lines of ``<anything>.conf.set(key, ...)`` and
    ``<anything>.hadoopConfiguration().set(key, ...)`` calls, the key
    written as a literal or as a module-level name bound to one."""
    names = {t.id: node.value.value
             for node in tree.body
             if isinstance(node, ast.Assign)
             and isinstance(node.value, ast.Constant)
             for t in node.targets if isinstance(t, ast.Name)}
    lines = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "set"):
            continue
        target = node.func.value
        if isinstance(target, ast.Call):
            target = target.func
        if not (isinstance(target, ast.Attribute)
                and target.attr in ("conf", "hadoopConfiguration")):
            continue
        args = node.args[:1] + [k.value for k in node.keywords
                                if k.arg == "key"]
        if any((isinstance(a, ast.Constant) and a.value == key)
               or (isinstance(a, ast.Name) and names.get(a.id) == key)
               for a in args):
            lines.append(node.lineno)
    return lines


def _library_conf_sets(key: str) -> list[tuple[str, int]]:
    offenders = []
    for path in _py_files(("borsa_spark",)):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        offenders += [(os.path.relpath(path, REPO), line)
                      for line in _conf_sets(tree, key)]
    return offenders


def test_library_sets_no_shuffle_partitions():
    planted = ast.parse(
        'spark.conf.set("spark.sql.shuffle.partitions", "8")\n'
        'df.sparkSession.conf.set(key="spark.sql.shuffle.partitions",'
        ' value=n)\n'
        'spark.conf.set("spark.sql.session.timeZone", "UTC")\n'
        'spark.conf.get("spark.sql.shuffle.partitions")\n'
        'b.config("spark.sql.shuffle.partitions", "4")\n'
    )
    assert _conf_sets(planted, SHUFFLE_PARTITIONS) == [1, 2]
    assert _library_conf_sets(SHUFFLE_PARTITIONS) == []


def test_library_sets_no_arrow_batch_size():
    planted = ast.parse(
        'spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",'
        ' "100")\n'
        'KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"\n'
        'df.sparkSession.conf.set(KEY, str(rows))\n'
        'spark.conf.set(key=KEY, value=1)\n'
        'spark.conf.get(KEY)\n'
        'spark.conf.set("spark.sql.shuffle.partitions", "8")\n'
        'b.config(KEY, "4")\n'
    )
    assert _conf_sets(planted, ARROW_BATCH_SIZE) == [1, 3, 4]
    assert _library_conf_sets(ARROW_BATCH_SIZE) == []


# Shortcuts to fewer forks that drop checksums: the raw local file system
# writes no ``.crc`` companions, and the checksum switch drops Spark's state
# checksum files. The package's checkpoint manager keeps both.
CHECKSUM_DROPPING_KEYS = (
    "fs.file.impl",
    "fs.AbstractFileSystem.file.impl",
    "spark.hadoop.fs.file.impl",
    "spark.hadoop.fs.AbstractFileSystem.file.impl",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled",
)


@pytest.mark.parametrize("key", CHECKSUM_DROPPING_KEYS)
def test_library_keeps_checksums(key):
    planted = ast.parse(
        f'spark.conf.set("{key}", "x")\n'
        f'KEY = "{key}"\n'
        'sc._jsc.hadoopConfiguration().set(KEY, "x")\n'
        'spark.conf.get(KEY)\n'
        'spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", c)\n'
    )
    assert _conf_sets(planted, key) == [1, 3]
    assert _library_conf_sets(key) == []


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    # Late oracles are assigned by key after the @query decorators run,
    # so a cut query can leave its oracle behind.
    from borsa_spark.queries import ORACLES, QUERIES

    assert sorted(set(QUERIES) ^ set(ORACLES)) == []
