"""Spark session lifetime for one benchmark process: the timed set-up
(start, mount, warm-up), JVM identification for memory figures, and a full
stop that waits for the JVM and its Python workers to exit."""

from __future__ import annotations

import os
import time
from typing import Callable

from harness import SetupTimes, descendants, wait_gone

#: Young generation size of the driver JVM (eden plus both survivor spaces).
YOUNG_GEN = "384m"


def session_conf(work: str) -> dict[str, str]:
    """Settings passed to ``get_spark`` on top of its defaults: keep the
    JVM's files inside the run's work directory (``SPARK_LOCAL_DIRS`` is set
    by the caller for shuffle files), and no console progress bars.

    The JVM runs the serial collector with a fixed young generation
    (``YOUNG_GEN``): eden is then fully touched after the first collection
    and the old generation fills from one end, so the JVM's peak resident
    size follows what the program keeps alive. Under the default G1 it
    depends on which heap regions the collector happened to hand out, and
    peak RSS moved by a fifth between identical runs. The parallel collector
    spent about a sixth of all CPU time in its own threads, which also wait
    for each other whenever another process holds a core: on a 4-core host,
    ten requests in a row took 19.7 s and 52 CPU-seconds under it, and
    10.0 s and 30 CPU-seconds under the serial collector."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:+UseSerialGC -Xmn{YOUNG_GEN}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


class SparkHost:
    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.jvm_pid: int | None = None

    def start(self):
        from borsa_spark.session import get_spark
        from pyspark import SparkContext

        self.spark = get_spark("perfbench", extra_conf=session_conf(self.work))
        if self.jvm_pid is None:
            self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait until it and every process it
        started (the Python worker daemons) have exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        tree = descendants(proc.pid)
        gw.shutdown()
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
        wait_gone(tree, timeout_s=15)
        SparkContext._gateway = None
        SparkContext._jvm = None


def set_up(host: SparkHost, mount: Callable, warm_up: Callable):
    """Start the session (and its JVM), ``mount(spark)``, then
    ``warm_up(state)`` on what ``mount`` returned. Returns the mounted
    state and the time each step took."""
    t0 = time.perf_counter()
    spark = host.start()
    t1 = time.perf_counter()
    state = mount(spark)
    t2 = time.perf_counter()
    warm_up(state)
    t3 = time.perf_counter()
    return state, SetupTimes(t1 - t0, t2 - t1, t3 - t2)
