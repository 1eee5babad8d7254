"""The market-data engine stands alone: importing the router, the
streaming path, the middleware and the sources pulls in no corpus code.
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
