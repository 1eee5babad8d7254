"""The build cache of the package's Java classes (``borsa_spark.jvm``): one
class directory per set of sources and Spark version, one ``javac`` run per
directory for every source, a clear error when the host has no ``javac``,
no compile in a session that never opens a stream, and a cold compile that
the running JVM loads."""

from __future__ import annotations

import functools
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
    a, b = tmp_path / "A.java", tmp_path / "B.java"
    a.write_text("class A {}\n")
    b.write_text("class B {}\n")
    monkeypatch.setattr(jvm, "_PACKAGE_ROOT", tmp_path)
    monkeypatch.setattr(jvm, "SOURCES", [a, b])
    first = jvm.class_dir(tmp_path)
    assert jvm.class_dir(tmp_path) == first
    b.write_text("class B { int x; }\n")
    edited = jvm.class_dir(tmp_path)
    monkeypatch.setattr(jvm, "SOURCES", [a])
    removed = jvm.class_dir(tmp_path)
    monkeypatch.setattr(pyspark, "__version__", pyspark.__version__ + ".1")
    upgraded = jvm.class_dir(tmp_path)
    assert len({first, edited, removed, upgraded}) == 4
    assert {d.parent for d in (first, edited, removed, upgraded)} == {
        tmp_path}


def test_sources_hold_the_gate_and_the_checkpoint_manager():
    names = {".".join(s.relative_to(jvm._PACKAGE_ROOT).with_suffix("").parts)
             for s in jvm.SOURCES}
    assert names == {jvm.GATE, jvm.CHECKPOINT_MANAGER}


def test_compiles_once_then_hits_the_cache(tmp_path, monkeypatch):
    runs = []
    real_run = subprocess.run

    def counting_run(cmd, **kw):
        runs.append(cmd[0])
        return real_run(cmd, **kw)

    monkeypatch.setattr(jvm.subprocess, "run", counting_run)
    out = jvm.ensure_compiled(tmp_path)
    assert out == jvm.class_dir(tmp_path)
    assert all(jvm._class_file(out, src).exists() for src in jvm.SOURCES)
    assert [os.path.basename(r) for r in runs] == ["javac"]
    assert sorted(p.name for p in tmp_path.iterdir()) == [out.name]

    assert jvm.ensure_compiled(tmp_path) == out
    assert len(runs) == 1  # the cache hit ran no javac


def test_missing_javac_names_it(tmp_path, monkeypatch):
    monkeypatch.setenv("PATH", str(tmp_path))
    with pytest.raises(BorsaSparkError, match="javac"):
        jvm.ensure_compiled(tmp_path)


def test_only_the_gate_needs_javac(tmp_path, monkeypatch):
    """Without ``javac`` and compiled classes, the candle aggregate and the
    exact dedup keep Spark's default checkpoint manager (they touch no
    session here), while the gate, which needs its class, raises."""
    monkeypatch.setenv("PATH", str(tmp_path))
    monkeypatch.setattr(jvm, "ensure_compiled",
                        functools.partial(jvm.ensure_compiled, tmp_path))
    jvm.use_checkpoint_manager(None)
    with pytest.raises(jvm.JavacMissing, match="javac"):
        jvm.monotonic_gate(None)


def test_cold_cache_compiles_on_first_gate_call_and_loads(tmp_path):
    """A session compiles nothing and names no checkpoint manager until the
    gate is opened; the first gate call compiles into a cache that did not
    exist when the JVM started, the local executors load the class for
    their tasks, and the session's checkpoints then go through the
    package's manager."""
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
        "assert s.conf.get(jvm.CHECKPOINT_MANAGER_KEY, None) is None\n"
        "df = s.sql(\"select 'A' symbol, timestamp'2024-01-01 00:00:10' ts, "
        "1L seq union all select 'A', timestamp'2024-01-01 00:00:05', 2L\")\n"
        "gated = DataFrame(jvm.monotonic_gate(s).apply(df._jdf, 'symbol', -1), s)\n"
        "print(sorted(r.seq for r in gated.collect()))\n"
        "print(jvm.class_dir())\n"
        "print(s.conf.get(jvm.CHECKPOINT_MANAGER_KEY))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    kept, class_dir, manager = out.stdout.strip().splitlines()[-3:]
    assert kept == "[1]"
    assert manager == jvm.CHECKPOINT_MANAGER
    assert class_dir.startswith(str(tmp_path))
    assert all(jvm._class_file(Path(class_dir), src).exists()
               for src in jvm.SOURCES)
