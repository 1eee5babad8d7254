"""The tooling names only code that exists: every query listed in
bench.py's tiers and in tools/plan_report.py is registered, and every
example the Makefile runs is on disk. A removed query or example would
otherwise leave a dead entry that only fails when the tool is run.
The lists are read with ``ast``, so neither script is imported and no
Spark session starts."""

from __future__ import annotations

import ast
import os
import re

from borsa_spark.queries import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _literal(rel: str, name: str):
    """The literal a module-level assignment binds to ``name``."""
    with open(os.path.join(REPO, rel)) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == name for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError(f"{rel} binds no {name}")


def test_tool_query_lists_name_registered_queries():
    listed = [
        ("bench.py", "HEADLINE"),
        ("bench.py", "TIER2"),
        ("tools/plan_report.py", "MATERIALIZED_GATES"),
    ]
    stale = []
    for rel, name in listed:
        names = _literal(rel, name)
        assert names, (rel, name)
        stale += [(rel, name, q) for q in names if q not in QUERIES]
    assert stale == []


def test_makefile_examples_exist():
    with open(os.path.join(REPO, "Makefile")) as f:
        scripts = re.findall(r"python\s+(examples/\S+\.py)", f.read())
    assert scripts
    missing = [s for s in scripts
               if not os.path.isfile(os.path.join(REPO, s))]
    assert missing == []
