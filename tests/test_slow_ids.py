"""Every node id pinned in tests/slow_tests.txt names a test that
exists. conftest.py marks ids that match a collected item and ignores
the rest, so a renamed or deleted test would otherwise leave a dead
line behind. Parsed with ``ast``: no test module is imported."""

from __future__ import annotations

import ast
import os

TESTS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS)


def _slow_ids() -> list[str]:
    with open(os.path.join(TESTS, "slow_tests.txt")) as f:
        return [
            line.strip() for line in f
            if line.strip() and not line.startswith("#")
        ]


def _defined(path: str) -> set[str]:
    """``name`` for module-level tests, ``Class::name`` for methods."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out.add(node.name)
        elif isinstance(node, ast.ClassDef):
            out.update(
                f"{node.name}::{m.name}" for m in node.body
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
            )
    return out


def test_every_slow_id_names_an_existing_test():
    ids = _slow_ids()
    assert ids
    parsed: dict[str, set[str]] = {}
    missing = []
    for node_id in ids:
        rel, _, rest = node_id.partition("::")
        path = os.path.join(REPO, rel)
        if not os.path.isfile(path):
            missing.append(node_id)
            continue
        if path not in parsed:
            parsed[path] = _defined(path)
        if rest.split("[", 1)[0] not in parsed[path]:
            missing.append(node_id)
    assert missing == []
