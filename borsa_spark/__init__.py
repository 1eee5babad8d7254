"""borsa_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of borsaorg/borsa.

Everything here is built Spark-first: DataFrame/SQL declarative plans that
Catalyst optimizes, Structured Streaming for streams, Pandas UDFs only where
built-in operators genuinely cannot express the semantics.

Layout
------
- ``schemas``     explicit StructTypes for every table (no inference)
- ``session``     tuned SparkSession builder (AQE, UTC, Arrow)
- ``operators``   stateless DataFrame transforms: resample, merge, infer,
                  attribution, monotonic gate, validation
- ``plans``       pure-Python planning: routing policy, interval planning
- ``router``      capability routers (history, quotes, search, info, ...)
- ``sources``     provider/fixture table registry
- ``functions``   dedup / text-analysis / multimodal pipelines
- ``streaming``   stream fan-in, monotonic gate, windowed candles, supervisor
- ``middleware``  TTL cache / quota / blacklist wrappers

Cache-lifetime contract
-----------------------
Library functions that feed one intermediate to several consumers
(`minhash_dedup_pairs`' shingle arrays, `repeated_substring_spans`'
anchors, `bloom_decontaminate`'s probe set, ...) ``persist()`` that
intermediate and do NOT unpersist it before returning: the returned
DataFrame is lazy, so the cache must outlive the call for the
consumer's action to benefit. The CALLER (harness, service loop, or
notebook) owns the release — run
``borsa_spark.session.release_all_cached(spark)`` after consuming each
result (it also frees ``localCheckpoint`` blocks, which
``spark.catalog.clearCache()`` alone does not). The oracle harness
(tools/check_oracle.py) clears the cache between queries;
tests/test_cache_discipline.py asserts the sweep returns the session
to zero cached blocks after representative queries() entries. The few
functions that themselves run the terminal action (e.g.
``dup_clusters``' label-propagation loop) clean up their own persists.
"""

from borsa_spark.errors import (
    AllProvidersFailed,
    BorsaSparkError,
    CurrencyError,
    NotFoundError,
    UnsupportedError,
)

__version__ = "0.1.0"

__all__ = [
    "AllProvidersFailed",
    "BorsaSparkError",
    "CurrencyError",
    "NotFoundError",
    "UnsupportedError",
    "__version__",
]
