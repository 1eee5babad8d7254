"""The package's Java classes: compiled from source on first use, cached
outside the checkout, loaded into the running JVM.

``SOURCES`` are every ``.java`` file under ``borsa_spark/``, each in the
directory that matches its Java package, so
``borsa_spark/streaming/MonotonicGate.java`` is the class
``borsa_spark.streaming.MonotonicGate``. They are:

- ``streaming/MonotonicGate.java``, the streaming gate's kernel;
- ``streaming/LocalCheckpointFileManager.java``, which writes a stream's
  ``file:`` checkpoint and state files without forking (see ``load``).

One ``javac --release 17`` run compiles them all against the Spark
installation's jars into ``~/.cache/borsa_spark/classes-<hash>``; the hash
covers every source and the Spark version, so an edit or an upgrade gets a
fresh directory. A compile writes into a temporary directory and renames
the class files into place.

The first ``load`` in a JVM adds the class directory to the class loader
that Py4J and the local-mode executors load classes through: the context
class loader spark-submit installs, a ``MutableURLClassLoader``. Nothing
goes on the JVM's start-up class path, so a session that never opens a
stream pays nothing for it; a directory there costs every class lookup a
file-system probe (measured: ``point_requests``' warm-up ran 0.8 s longer).
On a cluster, ship the classes to the executors as well.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
from pathlib import Path

import pyspark
from py4j.java_gateway import JavaClass

from borsa_spark.errors import BorsaSparkError

_PACKAGE_ROOT = Path(__file__).resolve().parent.parent
SOURCES = sorted((_PACKAGE_ROOT / "borsa_spark").rglob("*.java"))
CACHE_ROOT = Path.home() / ".cache" / "borsa_spark"
GATE = "borsa_spark.streaming.MonotonicGate"
CHECKPOINT_MANAGER = "borsa_spark.streaming.LocalCheckpointFileManager"
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


class JavacMissing(BorsaSparkError):
    """The host has no ``javac`` and the cache holds no compiled classes."""


def class_dir(root: Path = CACHE_ROOT) -> Path:
    """The class directory for the current sources and Spark version."""
    h = hashlib.sha256(pyspark.__version__.encode())
    for src in SOURCES:
        h.update(str(src.relative_to(_PACKAGE_ROOT)).encode() + b"\0")
        h.update(src.read_bytes())
    return root / f"classes-{h.hexdigest()[:16]}"


def _class_file(out: Path, src: Path) -> Path:
    return out / src.relative_to(_PACKAGE_ROOT).with_suffix(".class")


def _compiled(out: Path) -> bool:
    return all(_class_file(out, src).exists() for src in SOURCES)


def ensure_compiled(root: Path = CACHE_ROOT) -> Path:
    """Compile ``SOURCES`` into ``class_dir(root)`` unless already there."""
    out = class_dir(root)
    if _compiled(out):
        return out
    javac = shutil.which("javac")
    if javac is None:
        raise JavacMissing(
            "javac not found on PATH: the package compiles its Java sources "
            "(the streaming monotonic gate) with the host's JDK 17+ javac"
        )
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars", "*")
    out.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=root) as tmp:
        done = subprocess.run(
            [javac, "--release", "17", "-d", tmp, "-cp", jars,
             *map(str, SOURCES)],
            capture_output=True, text=True,
        )
        if done.returncode != 0:
            raise BorsaSparkError(f"javac failed:\n{done.stderr}")
        # Nested classes first, the top-level classes last: once those
        # files are in place, so is everything they load.
        for f in sorted(Path(tmp).rglob("*.class"),
                        key=lambda p: "$" not in p.name):
            dest = out / f.relative_to(tmp)
            dest.parent.mkdir(parents=True, exist_ok=True)
            os.replace(f, dest)
    return out


def _lookup(spark, name: str) -> JavaClass | None:
    cls = spark._jvm
    for part in name.split("."):
        cls = getattr(cls, part)
    return cls if isinstance(cls, JavaClass) else None


def load(spark) -> None:
    """Compile the package's classes if needed and load them into the
    running JVM, then route the session's ``file:`` checkpoints through
    ``LocalCheckpointFileManager``.

    Spark reads ``CHECKPOINT_MANAGER_KEY`` from a query's Hadoop
    configuration when the query opens its offset, commit and source logs
    and its state stores, and loads the class it names, so the key is set
    only here, after the class has loaded, and before the caller starts the
    query. A value already set on the session or in its Hadoop
    configuration is kept."""
    out = ensure_compiled()
    if _lookup(spark, GATE) is None:
        jvm = spark._jvm
        loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
        loader.addURL(jvm.java.io.File(str(out)).toURI().toURL())
    if _lookup(spark, GATE) is None:
        raise BorsaSparkError(f"{GATE} did not load from {out}")
    if (spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None
            and spark._jsc.hadoopConfiguration().get(
                CHECKPOINT_MANAGER_KEY) is None):
        spark.conf.set(CHECKPOINT_MANAGER_KEY, CHECKPOINT_MANAGER)


def use_checkpoint_manager(spark) -> None:
    """``load``, for the stateful operators that need no class of their own
    (the candle aggregate, the exact dedup): on a host without ``javac``
    and with no compiled classes, their queries keep Spark's default
    checkpoint manager instead of failing."""
    try:
        load(spark)
    except JavacMissing:
        pass


def monotonic_gate(spark) -> JavaClass:
    """The Py4J handle of ``MonotonicGate``, compiled and loaded if needed."""
    load(spark)
    return _lookup(spark, GATE)
