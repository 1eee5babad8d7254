"""The market-data engine stands alone: importing the router, the
streaming path, the middleware and the Data Source mounts pulls in no
corpus code, and mounting registers exactly the three market formats.
Runs in a fresh interpreter with no Spark session so nothing an earlier
test imported can hide a stray import."""

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
import borsa_spark.sources.datasource as ds
import borsa_spark.streaming


class _Registry:
    def __init__(self):
        self.formats = []

    def register(self, cls):
        self.formats.append(cls.name())


class _StubSpark:
    def __init__(self):
        self.dataSource = _Registry()


stub = _StubSpark()
ds.register_datasources(stub)
print(json.dumps({
    "formats": stub.dataSource.formats,
    "modules": sorted(sys.modules),
}))
"""


def test_market_engine_imports_no_corpus_code():
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=REPO, capture_output=True,
        text=True, timeout=300, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert sorted(got["formats"]) == [
        "borsa_history", "borsa_quote_stream", "borsa_tick_sink",
    ]
    stray = [
        m for m in got["modules"]
        if m.startswith("borsa_spark.functions.")
        or (m.startswith("borsa_spark.sources.")
            and m.split(".")[2].startswith("warc"))
    ]
    assert stray == []
