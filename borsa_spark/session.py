"""Tuned SparkSession builder.

- One shuffle partition per core. AQE coalesces the shuffles of batch
  queries at run time, but not those of stateful streaming operators (the
  monotonic gate, candle and dedup state): their partition count is frozen
  into the checkpoint when a query first starts, and every state partition
  costs one task and one state-store commit on every micro-batch, whatever
  its data. More partitions than cores only add those fixed costs. A
  query restarted from a checkpoint keeps the checkpoint's count.
  ``extra_conf={"spark.sql.shuffle.partitions": ...}`` sets another count.
- Streaming state lives in Spark's default HDFS-backed store, which keeps
  every key's state on the JVM heap. For large keyed state, pass
  ``extra_conf={"spark.sql.streaming.stateStore.providerClass":
  "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"}``.
- UTC session timezone is a *correctness* requirement: all reference
  timestamps are UTC epoch seconds and the DuckDB oracle compares UTC-naive.
- Arrow on: the Python/JVM boundaries that remain move columnar batches,
  not pickled rows: ``sources/rest.py``'s ``mapInPandas`` fetch,
  ``packing``'s ``applyInPandas``, ``quotes()``'s ``toArrow`` and
  ``sources.provider._local_frame``.
- The driver heap defaults to half the memory the process may use: the
  cgroup v2 ``memory.max`` when it holds a number, capped by physical
  memory. ``SPARK_GRAFT_DRIVER_MEM`` (e.g. ``2g``) overrides it.
- On a real cluster the same builder is used with `master` unset (picked up
  from spark-submit) — nothing here is local-mode specific except defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _default_driver_memory() -> str:
    """Half of the host's usable memory, in megabytes, as a Spark size."""
    usable = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
    except OSError:
        limit = ""
    if limit.isdigit():  # "max" means no limit
        usable = min(usable, int(limit))
    return f"{max(1, usable // 2 // 2**20)}m"


def get_spark(
    app_name: str = "borsa_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_all_cached(spark: SparkSession) -> int:
    """Free EVERY cached relation in the session: catalog-cached plans
    (``clearCache``) AND RDD-level persists, which ``clearCache`` does
    not touch — ``localCheckpoint`` blocks (the cluster-fixpoint rounds
    in ``dup_clusters``, bloom probe sets, the logreg feature relation)
    live in the RDD layer, not the CacheManager, and accumulate across a
    long session otherwise (round-9 ADVICE). Returns the number of RDDs
    unpersisted.

    This is the teeth behind the package-wide cache-lifetime contract
    (see ``borsa_spark.__doc__``): library functions persist
    multi-consumer intermediates and the HARNESS frees them between
    queries. tools/check_oracle.py clears the catalog cache after every
    query; the sweep test in tests/test_cache_discipline.py asserts it
    returns the session to zero cached blocks after each queries() entry.

    Note: unpersisting a localCheckpointed RDD truncates its lineage —
    any still-live DataFrame built on it cannot be recomputed. Callers
    run this BETWEEN units of work, never while a result is pending.

    The RDD-layer sweep rides on the py4j handle
    ``sparkContext._jsc.getPersistentRDDs()`` — PySpark exposes no
    public equivalent (SPARK-2141's Scala API was never surfaced to
    Python). That is a private attribute and can move across Spark
    versions, so the access is guarded: if it ever disappears, the
    function degrades to ``catalog.clearCache()`` (losing only the
    localCheckpoint sweep) instead of breaking every caller. The
    returned count is APPROXIMATE bookkeeping — it is read before
    clearCache (catalog-cached plans register storage there too) and
    may include blocks already being dropped asynchronously; tests
    assert it reaches zero, never exact magnitudes.
    """
    try:
        jsc = spark.sparkContext._jsc
        # Count BEFORE clearCache: catalog-cached plans register their
        # storage in getPersistentRDDs too, and clearCache deregisters
        # them — counting after would report only RDD-layer leftovers.
        n = int(jsc.getPersistentRDDs().size())
        spark.catalog.clearCache()
        for r in list(jsc.getPersistentRDDs().values()):
            r.unpersist(False)
        return n
    except AttributeError:
        spark.catalog.clearCache()
        return 0
