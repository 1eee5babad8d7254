"""The gate kernel's build cache (``borsa_spark.jvm``): one class directory
per source and Spark version, one ``javac`` run per directory, a clear error
when the host has no ``javac``, no compile in a session that never opens
the gate, and a cold compile that the running JVM loads."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pyspark
import pytest

from borsa_spark import jvm
from borsa_spark.errors import BorsaSparkError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_changed_source_or_spark_version_gets_new_class_dir(
        tmp_path, monkeypatch):
    src = tmp_path / "Kernel.java"
    src.write_text("class Kernel {}\n")
    monkeypatch.setattr(jvm, "SOURCE", src)
    first = jvm.class_dir(tmp_path)
    assert jvm.class_dir(tmp_path) == first
    src.write_text("class Kernel { int x; }\n")
    edited = jvm.class_dir(tmp_path)
    monkeypatch.setattr(pyspark, "__version__", pyspark.__version__ + ".1")
    upgraded = jvm.class_dir(tmp_path)
    assert len({first, edited, upgraded}) == 3
    assert {d.parent for d in (first, edited, upgraded)} == {tmp_path}


def test_compiles_once_then_hits_the_cache(tmp_path, monkeypatch):
    runs = []
    real_run = subprocess.run

    def counting_run(cmd, **kw):
        runs.append(cmd[0])
        return real_run(cmd, **kw)

    monkeypatch.setattr(jvm.subprocess, "run", counting_run)
    out = jvm.ensure_compiled(tmp_path)
    assert out == jvm.class_dir(tmp_path)
    assert jvm._class_file(out).exists()
    assert [os.path.basename(r) for r in runs] == ["javac"]
    assert sorted(p.name for p in tmp_path.iterdir()) == [out.name]

    assert jvm.ensure_compiled(tmp_path) == out
    assert len(runs) == 1  # the cache hit ran no javac


def test_missing_javac_names_it(tmp_path, monkeypatch):
    monkeypatch.setenv("PATH", str(tmp_path))
    with pytest.raises(BorsaSparkError, match="javac"):
        jvm.ensure_compiled(tmp_path)


def test_cold_cache_compiles_on_first_gate_call_and_loads(tmp_path):
    """A session compiles nothing until the gate is opened; the first gate
    call compiles into a cache that did not exist when the JVM started, and
    the local executors load the class for their tasks."""
    env = dict(os.environ, HOME=str(tmp_path), SPARK_GRAFT_CPUS="1",
               SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("SPARK_GRAFT_MASTER", None)
    probe = (
        "from borsa_spark import jvm\n"
        "from borsa_spark.session import get_spark\n"
        "from pyspark.sql import DataFrame\n"
        "s = get_spark('cold-cache')\n"
        "assert s.range(3).count() == 3\n"
        "assert not jvm.CACHE_ROOT.exists()\n"
        "df = s.sql(\"select 'A' symbol, timestamp'2024-01-01 00:00:10' ts, "
        "1L seq union all select 'A', timestamp'2024-01-01 00:00:05', 2L\")\n"
        "gated = DataFrame(jvm.monotonic_gate(s).apply(df._jdf, 'symbol', -1), s)\n"
        "print(sorted(r.seq for r in gated.collect()))\n"
        "print(jvm.class_dir())\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    kept, class_dir = out.stdout.strip().splitlines()[-2:]
    assert kept == "[1]"
    assert class_dir.startswith(str(tmp_path))
    assert jvm._class_file(Path(class_dir)).exists()
