"""Tuned SparkSession builder.

Scale notes (100 TB target):
- AQE on: runtime partition coalescing + skew-join splitting replaces hand
  tuning of `spark.sql.shuffle.partitions` across 1000-executor clusters.
- UTC session timezone is a *correctness* requirement: all reference
  timestamps are UTC epoch seconds and the DuckDB oracle compares UTC-naive.
- Arrow on: every Pandas-UDF boundary (stateful gate, minhash, multimodal)
  moves columnar batches, not pickled rows.
- On a real cluster the same builder is used with `master` unset (picked up
  from spark-submit) — nothing here is local-mode specific except defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "borsa_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state_store: bool = False,
) -> SparkSession:
    """``rocksdb_state_store`` switches streaming state to
    RocksDBStateStoreProvider — the production backend for large keyed state
    (HDFSBacked keeps every symbol's state on the JVM heap)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
        )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    if rocksdb_state_store:
        b = b.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_all_cached(spark: SparkSession) -> int:
    """Free EVERY cached relation in the session: catalog-cached plans
    (``clearCache``) AND RDD-level persists, which ``clearCache`` does
    not touch — ``localCheckpoint`` blocks (kmeans per-round centroids,
    the band-join checkpoint in ``_band_near_pairs``, bloom probe sets)
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
