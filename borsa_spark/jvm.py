"""The streaming gate's Java kernel: compiled from source on first use,
cached outside the checkout, loaded into the running JVM.

``SOURCE`` sits in the directory that matches its Java package, so
``borsa_spark/streaming/MonotonicGate.java`` is the class
``borsa_spark.streaming.MonotonicGate``. It compiles with the host's
``javac --release 17`` against the Spark installation's jars into
``~/.cache/borsa_spark/classes-<hash>``; the hash covers the source and the
Spark version, so an edit or an upgrade gets a fresh directory. A compile
writes into a temporary directory and renames the class files into place.

The first gate call in a JVM adds the class directory to the class loader
that Py4J and the local-mode executors load classes through: the context
class loader spark-submit installs, a ``MutableURLClassLoader``. Nothing
goes on the JVM's start-up class path, so a session that never opens the
gate pays nothing for it; a directory there costs every class lookup a
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
SOURCE = _PACKAGE_ROOT / "borsa_spark" / "streaming" / "MonotonicGate.java"
CACHE_ROOT = Path.home() / ".cache" / "borsa_spark"


def class_dir(root: Path = CACHE_ROOT) -> Path:
    """The class directory for the current source and Spark version."""
    h = hashlib.sha256(pyspark.__version__.encode())
    h.update(SOURCE.read_bytes())
    return root / f"classes-{h.hexdigest()[:16]}"


def _class_file(out: Path) -> Path:
    return out / SOURCE.relative_to(_PACKAGE_ROOT).with_suffix(".class")


def ensure_compiled(root: Path = CACHE_ROOT) -> Path:
    """Compile ``SOURCE`` into ``class_dir(root)`` unless already there."""
    out = class_dir(root)
    if _class_file(out).exists():
        return out
    javac = shutil.which("javac")
    if javac is None:
        raise BorsaSparkError(
            "javac not found on PATH: the streaming monotonic gate compiles "
            "its Java source with the host's JDK 17+ javac"
        )
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars", "*")
    out.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=root) as tmp:
        done = subprocess.run(
            [javac, "--release", "17", "-d", tmp, "-cp", jars, str(SOURCE)],
            capture_output=True, text=True,
        )
        if done.returncode != 0:
            raise BorsaSparkError(f"javac failed:\n{done.stderr}")
        # Nested classes first, the top-level class last: once its file is
        # in place, so is everything it loads.
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


def monotonic_gate(spark) -> JavaClass:
    """The Py4J handle of ``MonotonicGate``, compiled and loaded if needed."""
    out = ensure_compiled()
    name = ".".join(SOURCE.relative_to(_PACKAGE_ROOT).with_suffix("").parts)
    gate = _lookup(spark, name)
    if gate is None:
        jvm = spark._jvm
        loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
        loader.addURL(jvm.java.io.File(str(out)).toURI().toURL())
        gate = _lookup(spark, name)
    if gate is None:
        raise BorsaSparkError(f"{name} did not load from {out}")
    return gate
