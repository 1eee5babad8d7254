"""The market-data engine stands alone: importing the router, the
streaming path, the middleware and the sources pulls in no corpus code.
Runs in a fresh interpreter with no Spark session so nothing an earlier
test imported can hide a stray import. The streaming path also names no
Python UDF, so no Python worker touches a micro-batch."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = r"""
import json, sys

import borsa_spark.middleware
import borsa_spark.router
import borsa_spark.sources
import borsa_spark.sources.provider
import borsa_spark.streaming

print(json.dumps({"modules": sorted(sys.modules)}))
"""


def test_market_engine_imports_no_corpus_code():
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=REPO, capture_output=True,
        text=True, timeout=300, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    stray = [
        m for m in got["modules"]
        if m.startswith("borsa_spark.functions.")
        or (m.startswith("borsa_spark.sources.")
            and m.split(".")[2].startswith("warc"))
    ]
    assert stray == []


#: PySpark calls that run Python on a DataFrame's rows.
PYTHON_ROW_CALLS = {"mapInPandas", "mapInArrow", "pandas_udf", "udf"}


def test_streaming_path_runs_no_python_on_rows():
    """No module under ``borsa_spark/streaming/`` names a Python UDF or a
    Pandas/Arrow map (``applyInPandas*``, ``mapInPandas``, ``mapInArrow``,
    ``pandas_udf``, ``udf``), whether called, passed or used as a
    decorator: the stream's row path stays in the JVM."""
    import ast
    import pathlib

    found = []
    for path in sorted(pathlib.Path(REPO, "borsa_spark", "streaming")
                       .rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            name = None
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            if name and (name in PYTHON_ROW_CALLS
                         or name.startswith("applyInPandas")):
                found.append(f"{path.name}:{node.lineno} {name}")
    assert found == []
