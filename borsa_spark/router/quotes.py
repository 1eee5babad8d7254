"""Quote lookups: single (R3 fallback / R4 latency, P4 exchange enforcement)
and batch (A8 partial-failure aggregate).

Reference: borsa/src/router/quotes.rs:8-71, core.rs:276-296 (exchange
enforcement), core.rs:499-616 (fetch strategies).

Spark-first translation of the fetch strategies: PriorityWithFallback's
"try providers in order until one returns a usable quote" collapses — for
table-backed sources — into ONE declarative query: union all eligible
provider scans, drop rows failing exchange enforcement, keep the
lowest-priority (= highest-preference) surviving row per symbol. Providers
that would have errored or returned NotFound simply contribute no rows, which
is exactly what "continue to the next provider" means. Latency racing (R4) is
a wall-clock scheduling concern for live APIs; over tables both strategies
produce the same winner, so `strategy` only gates live-source scheduling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from borsa_spark.errors import (
    BorsaSparkError,
    NotFoundError,
    UnsupportedError,
    collapse_errors,
)
from borsa_spark.plans.routing_policy import RoutingContext
from borsa_spark.sources.provider import Catalog, _local_frame


def _quote_union(catalog: Catalog, ctx: RoutingContext) -> DataFrame:
    eligible = catalog.eligible(ctx, "quote")
    if not eligible:
        raise UnsupportedError("quote: no eligible provider")
    frames = []
    errors: list[BorsaSparkError] = []
    for idx, source in eligible:
        # A provider that fails (quota, blacklist, 5xx) is skipped, as
        # PriorityWithFallback moves on to the next one (quotes.rs:38-71).
        try:
            df = source.table("quote")
        except BorsaSparkError as e:
            e.connector = e.connector or source.name
            errors.append(e)
            continue
        frames.append(df.withColumn("priority", F.lit(idx)))
    if not frames:
        raise collapse_errors(len(eligible), errors, "quote")
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    if ctx.exchange is not None:
        # P4: mismatched exchange => NotFound (=> fallback); missing exchange
        # passes through (core.rs:276-296).
        union = union.filter(
            F.col("exchange").isNull() | (F.col("exchange") == ctx.exchange)
        )
    return union


def _best_quotes(
    catalog: Catalog, kind: str | None, symbols: "list[str] | DataFrame"
) -> DataFrame:
    """Each requested symbol's winning quote row: the provider union
    restricted to ``symbols`` (a list, or a one-column ``symbol``
    DataFrame joined left-semi), then the lowest ``priority`` per symbol.
    Every union column is kept; callers select their own."""
    union = _quote_union(catalog, RoutingContext(kind=kind))
    if isinstance(symbols, DataFrame):
        union = union.join(
            symbols.select("symbol").distinct(), "symbol", "left_semi"
        )
    else:
        union = union.filter(F.col("symbol").isin(symbols))
    w = Window.partitionBy("symbol").orderBy(F.col("priority").asc())
    return (
        union.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def quote(
    spark: SparkSession,
    catalog: Catalog,
    symbol: str,
    kind: str | None = None,
    exchange: str | None = None,
    strategy: str = "priority",
    provider_timeout: float | None = None,
) -> DataFrame:
    """Best quote for one symbol.

    ``strategy='priority'`` (PriorityWithFallback, core.rs:499-558) is the
    declarative path: highest-priority surviving provider row out of one
    union — over table sources the "try next on failure" loop collapses
    into a top-1 by priority, which plans without an exchange.

    ``strategy='latency'`` (R4, core.rs:560-616) is a wall-clock race:
    every eligible provider's fetch runs concurrently, each bounded by
    ``provider_timeout``, and the first *successful* response wins —
    completion order, not priority order, decides, so a slow high-priority
    provider loses to a fast low-priority one. Failures (NotFound /
    timeout / provider errors) accumulate; if nobody wins they collapse
    exactly like the sequential chain. The fetch here is the provider
    *invocation plus a usable-row probe* — the Spark analog of the
    reference's async quote call returning a value.
    """
    if strategy not in ("priority", "latency"):
        raise UnsupportedError(f"unknown quote strategy {strategy!r}")
    ctx = RoutingContext(symbol=symbol, kind=kind, exchange=exchange)
    if strategy == "latency":
        return _quote_latency_race(
            spark, catalog, ctx, symbol, provider_timeout
        )
    return (
        _quote_union(catalog, ctx)
        .filter(F.col("symbol") == symbol)
        .orderBy("priority")
        .limit(1)
    )


def _quote_latency_race(
    spark: SparkSession,
    catalog: Catalog,
    ctx: RoutingContext,
    symbol: str,
    provider_timeout: float | None,
) -> DataFrame:
    """R4: race per-provider quote fetches; first usable response wins."""
    from borsa_spark.router.deadline import race_providers

    eligible = catalog.eligible(ctx, "quote")
    if not eligible:
        raise UnsupportedError("quote: no eligible provider")

    def make_fetch(idx: int, source) -> tuple[str, object]:
        def fetch() -> DataFrame:
            df = source.table("quote").filter(F.col("symbol") == symbol)
            if ctx.exchange is not None:
                df = df.filter(
                    F.col("exchange").isNull()
                    | (F.col("exchange") == ctx.exchange)
                )
            df = df.withColumn("priority", F.lit(idx))
            # Usable-response probe: the reference's racing future resolves
            # with the quote VALUE; an empty scan is this source's NotFound.
            # One LIMIT-1 job over a single-symbol pushed-down scan.
            if df.isEmpty():
                raise NotFoundError(f"quote for {symbol}")
            return df

        return source.name, fetch

    calls = [make_fetch(idx, source) for idx, source in eligible]
    _winner, df = race_providers(calls, "quote", provider_timeout)
    return df


def quotes(
    spark: SparkSession,
    catalog: Catalog,
    symbols: list[str],
    kind: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """A8: batch quotes -> (successes, failures). Failures are requested
    symbols with no surviving row from any provider, in request order
    (quotes.rs:38-71): a list, not an exception, preserving partial
    results.

    The call is eager: it runs the provider union and the per-symbol
    window once, as one collect of at most ``len(symbols)`` rows, and
    returns both outputs as ``LocalRelation``s built from those rows. It
    caches nothing and starts no Python worker, and reading the outputs
    does not run the union again. A REST provider is fetched once per
    call, while the union is built."""
    if len(set(symbols)) != len(symbols):
        # duplicate-symbol validation (download.rs:10-26 applies the same rule)
        raise ValueError("duplicate symbols in batch quote request")
    best = _best_quotes(catalog, kind, symbols)
    won = best.toArrow()
    quoted = set(won.column("symbol").to_pylist())
    failures = _local_frame(
        spark, [(s,) for s in symbols if s not in quoted], "symbol string"
    )
    return spark.createDataFrame(won, best.schema), failures


def quote_or_raise(
    spark: SparkSession,
    catalog: Catalog,
    symbol: str,
    kind: str | None = None,
    exchange: str | None = None,
):
    """Single-quote action: collect the one winning row or raise NotFound."""
    rows = quote(spark, catalog, symbol, kind, exchange).limit(1).collect()
    if not rows:
        raise NotFoundError(f"quote for {symbol}")
    return rows[0]
