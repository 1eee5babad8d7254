"""The history router — the flagship batch pipeline (SURVEY §3.1).

Reference lifecycle (borsa/src/router/history.rs:295-337 + 521-664):
eligibility filter -> per-provider effective-interval rewrite (R6 pushdown)
-> fan-out scans -> per-provider resample plan -> adjusted-first ordering
(O3) -> adjustedness filter (P5) -> first-wins merge (J1) -> attribution
(A9) -> final resample (forced or auto-subdaily) -> strip close_unadj.

Spark-first design: everything after planning is ONE declarative DataFrame
program — per-provider scans are unioned with an explicit priority column and
the adjustedness ordering/filter is expressed with window functions instead
of driver-side collects. The only driver-side work is pure-Python planning
(which scans run, at which native interval, with which resample plan), the
analog of Catalyst's rule phase. Scans push their (symbol, ts) predicates to
the source and no Python runs in the row path. The program has two shapes:

- One symbol (``symbols`` unset, a bare string or a one-element list): the
  scans are coalesced to one partition before any resample, so every
  aggregate, the adjustedness window and the final sort run in that one
  partition with no exchange — one Spark job with one task, the reference's
  single sorted in-memory pass over one series (merge.rs:39,
  resample.rs:34-36).
- A batch or ``ALL_SYMBOLS``: a shuffle for the resample keyed on
  (provider, symbol, bucket), one on ``symbol`` for the adjustedness window
  that the merge aggregate reuses, and a global range sort on (symbol, ts).

Deep vs Fallback strategy (R5, history.rs:405-519): Deep unions every
eligible provider (gap backfill); Fallback takes the first provider whose
scan is non-empty — the emptiness probe is a LIMIT 1 job per provider in
priority order, mirroring the reference's sequential stop-at-first-non-empty.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from borsa_spark.router.deadline import Deadline, provider_call_with_timeout
from borsa_spark.errors import (
    BorsaSparkError,
    NotFoundError,
    UnsupportedError,
    collapse_errors,
)
from borsa_spark.operators.attribution import build_attribution
from borsa_spark.operators.merge import (
    dedup_actions,
    merge_candles,
    merged_series_flags,
)
from borsa_spark.operators.resample import resample
from borsa_spark.plans.intervals import ResamplePlan, choose_effective_interval
from borsa_spark.plans.routing_policy import RoutingContext
from borsa_spark.sources.provider import Catalog, Source

_BIG = 1 << 20  # adjusted-first reorder offset; > any provider count


@dataclass
class HistoryRequest:
    """Mirrors HistoryRequest (flags enumerated at borsa-middleware/src/
    cache.rs:38-64; Range::M6 default at download.rs:50)."""

    symbol: str
    kind: str = "EQUITY"
    exchange: str | None = None
    interval: str = "1d"
    start: datetime | None = None
    end: datetime | None = None
    #: Range key ('6mo', '1y', 'ytd', 'max', ...) — resolved to (start, end)
    #: at execution time when no explicit period was given (range XOR period,
    #: cache.rs:28-64; Range::M6 is the download default, download.rs:50).
    range: str | None = None
    include_prepost: bool = False
    include_actions: bool = True
    auto_adjust: bool = True
    keepna: bool = False

    def resolved(self, now: datetime | None = None) -> "HistoryRequest":
        """Materialize ``range`` into (start, end) bounds if set."""
        if self.range is None or self.start is not None or self.end is not None:
            return self
        from dataclasses import replace

        from borsa_spark.plans.intervals import range_to_bounds

        start, end = range_to_bounds(self.range, now or datetime.now())
        return replace(self, start=start, end=end)


@dataclass
class HistoryResult:
    """Result + warnings envelope (borsa-types/src/reports.rs:16-52).

    ``flags`` is the per-symbol merged-series metadata the reference
    returns on HistoryResponse (merge.rs:99-109): ``adjusted`` = AND over
    contributing providers, ``timezone``/``utc_offset_seconds`` = first
    contributing provider's non-null meta by priority. One row per symbol.
    """

    candles: DataFrame
    actions: DataFrame | None
    attribution: DataFrame
    warnings: list[str] = field(default_factory=list)
    flags: DataFrame | None = None


#: Sentinel for ``symbols=``: scan every symbol the provider carries, with
#: no driver-side symbol list at all (the 100 TB shape — a ``collect()`` to
#: enumerate symbols before the scan would be a driver materialization).
ALL_SYMBOLS = "*"


def _symbol_filter(
    df: DataFrame, req: HistoryRequest, symbols: list[str] | str | None
) -> DataFrame:
    """Restrict ``df`` to the requested symbols: ``ALL_SYMBOLS`` adds no
    predicate, a batch is an ``isin``, and None means ``req.symbol``."""
    if symbols == ALL_SYMBOLS:
        return df
    if symbols is not None:
        return df.filter(F.col("symbol").isin(symbols))
    return df.filter(F.col("symbol") == req.symbol)


def _scan_provider(
    source: Source,
    req: HistoryRequest,
    interval: str,
    symbols: list[str] | str | None = None,
) -> DataFrame:
    """One provider scan with every predicate pushed to the source.

    Fixture sources carry an ``interval`` column (native cadence per row);
    live sources would receive the interval in their fetch plan.
    """
    df = source.table("history")
    if "interval" in df.columns:
        df = df.filter(F.col("interval") == interval).drop("interval")
    df = _symbol_filter(df, req, symbols)
    if req.start is not None:
        df = df.filter(F.col("ts") >= F.lit(req.start))
    if req.end is not None:
        df = df.filter(F.col("ts") < F.lit(req.end))
    return df


def plan_history(
    catalog: Catalog, req: HistoryRequest
) -> tuple[list[tuple[int, Source, str, ResamplePlan | None]], list[str]]:
    """Planning phase: eligible providers with per-provider effective
    interval + resample plan (R1-R6). Pure Python, no Spark."""
    ctx = RoutingContext(symbol=req.symbol, kind=req.kind, exchange=req.exchange)
    eligible = catalog.eligible(ctx, "history")
    if not eligible:
        raise UnsupportedError(f"history({req.symbol}): no eligible provider")
    plans = []
    warnings = []
    for idx, source in eligible:
        try:
            eff, rplan = choose_effective_interval(
                list(source.history_intervals), req.interval
            )
        except UnsupportedError as e:
            warnings.append(f"[{source.name}] {e.message}")
            continue
        plans.append((idx, source, eff, rplan))
    if not plans:
        raise UnsupportedError(
            f"history({req.symbol}): interval {req.interval!r} unsupported by "
            "every eligible provider"
        )
    return plans, warnings


def _apply_adjustedness(
    union: DataFrame, prefer_adjusted: bool
) -> DataFrame:
    """O3 + P5 declaratively (history.rs:578-586 + 188-203).

    A provider's series-level ``adjusted`` flag is constant per
    (provider, symbol). With prefer_adjusted, unadjusted series are demoted
    below every adjusted one (priority += BIG) — the composite
    (!adjusted, idx) sort key. The filter keeps series whose flag equals the
    top-priority series' flag; when any series is adjusted and
    prefer_adjusted is set, the reorder makes that flag True, i.e.
    "keep only adjusted" — exactly filter_adjustedness.
    """
    wsym = Window.partitionBy("symbol")
    series_adj = F.coalesce(F.col("adjusted"), F.lit(False))
    if prefer_adjusted:
        union = union.withColumn(
            "priority",
            F.col("priority") + F.when(series_adj, F.lit(0)).otherwise(F.lit(_BIG)),
        )
    first_flag = F.expr(
        "min_by(coalesce(adjusted, false), priority)"
    ).over(wsym)
    return union.withColumn("__first_adj", first_flag).filter(
        series_adj == F.col("__first_adj")
    ).drop("__first_adj")


def history(
    spark: SparkSession,
    catalog: Catalog,
    req: HistoryRequest,
    strategy: str = "deep",
    prefer_adjusted: bool = True,
    resampling: str | None = None,
    auto_resample_subdaily_to_daily: bool = False,
    symbols: list[str] | str | None = None,
    validate_currency: bool = False,
    provider_timeout: float | None = None,
    request_timeout: float | None = None,
) -> HistoryResult:
    """Full history pipeline; returns merged candles + actions + attribution.

    ``resampling``: None | 'daily' | 'weekly' — forced final resample
    (Resampling config, history.rs:636-664). ``auto_resample_subdaily_to_daily``
    resamples to daily iff the merged series is subdaily (infer.rs:122-158).

    ``symbols`` widens the scan to a symbol batch sharing ``req``'s plan
    (bulk download path). A batch of two or more symbols, or
    ``ALL_SYMBOLS`` ("*", every symbol the providers carry, never
    enumerated on the driver), runs symbol-partitioned shuffles and a global
    ``(symbol, ts)`` sort; a single symbol runs in one partition with no
    exchange (see the module docstring).

    ``validate_currency`` enforces the reference's currency invariant before
    merging (merge.rs:55-68): a mixed-currency input raises CurrencyError
    blaming the faulty provider (R9, history.rs:223-274). Opt-in because it
    is an *action* (a tiny O(providers) aggregation job) on the lazy path.

    ``provider_timeout`` bounds each provider *invocation* wall-clock (R7,
    core.rs:346-361); a stalled connector becomes a ProviderTimeout warning
    and the chain proceeds. ``request_timeout`` is the whole-request budget
    (config.rs:142): each call gets min(provider_timeout, remaining), and
    an exhausted budget raises RequestTimeout. Both default to None (no
    thread wrapper) because fixture catalogs cannot stall.
    """
    req = req.resolved()
    # One symbol given as a bare string is a batch of one, not a sequence
    # of characters; ALL_SYMBOLS stays the full-catalog sentinel.
    if isinstance(symbols, str) and symbols != ALL_SYMBOLS:
        symbols = [symbols]
    # Checked before any provider is called: a rejected request spends no
    # transport call or quota.
    if strategy not in ("deep", "fallback"):
        raise UnsupportedError(f"unknown merge strategy {strategy!r}")
    if resampling not in (None, "daily", "weekly"):
        # Resampling is a closed enum in the reference (history.rs:636-664).
        raise UnsupportedError(f"unknown resampling {resampling!r}")
    if strategy == "fallback" and (
        symbols == ALL_SYMBOLS or (symbols is not None and len(symbols) > 1)
    ):
        # Fallback semantics are per-request (first provider with data
        # for THE symbol, history.rs:481-519); applying them wholesale
        # to a batch would silently drop symbols only covered by
        # later-in-chain providers. Deep handles batches correctly.
        raise UnsupportedError(
            "fallback strategy is per-symbol; use strategy='deep' for "
            "symbol batches (or issue per-symbol fallback requests)"
        )
    deadline = Deadline(request_timeout, f"history({req.symbol})")
    plans, warnings = plan_history(catalog, req)

    # One request for one symbol is one series: run the whole program in one
    # partition, as the reference merges one series in a single in-memory
    # pass (merge.rs:39). One partition meets every distribution the
    # aggregates, the window and the final sort ask for, so Spark plans no
    # exchange. Batches keep their symbol-keyed shuffles.
    one_symbol = symbols is None or (
        symbols != ALL_SYMBOLS and len(symbols) == 1
    )

    def coalesced(df: DataFrame) -> DataFrame:
        return df.coalesce(1) if one_symbol else df

    # When every provider shares one (interval, resample) plan — the common
    # case under a uniform policy — defer the resample until after the union
    # so ONE aggregation keyed (provider, symbol, bucket) covers all
    # providers instead of N separate stages. Semantics are identical: the
    # resampler never mixes series across the provider key.
    uniform_plan = (
        strategy == "deep"
        and len({(eff, rp) for _, _, eff, rp in plans}) == 1
        and plans[0][3] is not None
    )

    frames: list[DataFrame] = []
    actions_frames: list[DataFrame] = []
    errors: list[BorsaSparkError] = []
    attempted = 0
    for idx, source, eff_interval, rplan in plans:
        attempted += 1
        # Outside the try: an exhausted *request* budget aborts the whole
        # fan-out (RequestTimeout), it is not a per-provider failure.
        budget = deadline.clamp(provider_timeout)
        try:
            df = provider_call_with_timeout(
                source.name, "history", budget,
                lambda s=source, e=eff_interval: _scan_provider(
                    s, req, e, symbols
                ),
            )
            if rplan is not None and not uniform_plan:
                df = resample(coalesced(df), rplan.kind, rplan.minutes)
            df = df.withColumn("priority", F.lit(idx))
            frames.append(df)
            if req.include_actions and source.supports("actions"):
                actions_frames.append(
                    _symbol_filter(source.table("actions"), req, symbols)
                )
        except BorsaSparkError as e:
            e.connector = e.connector or source.name
            errors.append(e)
            warnings.append(f"[{source.name}] {e.message}")

    if not frames:
        raise collapse_errors(
            attempted, errors, f"history({req.symbol})",
            not_found_what=f"history for {req.symbol}",
        )

    if strategy == "fallback":
        # Sequential first-non-empty (history.rs:481-519). LIMIT-1 probes in
        # priority order; each probe is a tiny job thanks to pushdown.
        chosen = None
        for df in frames:
            if not df.isEmpty():
                chosen = df
                break
        if chosen is None:
            raise NotFoundError(f"history for {req.symbol}")
        union = coalesced(chosen)
    else:
        union = coalesced(reduce(lambda a, b: a.unionByName(b), frames))
        if uniform_plan:
            rplan = plans[0][3]
            union = resample(
                union, rplan.kind, rplan.minutes,
                keys=["priority", "provider", "symbol"],
            )

    if validate_currency:
        from borsa_spark.operators.validate import (
            check_series_currency_uniform,
            identify_faulty_provider,
        )
        from borsa_spark.errors import CurrencyError

        try:
            check_series_currency_uniform(union)
        except CurrencyError:
            blamed = identify_faulty_provider(
                union, {s.name: i for i, s, _, _ in plans}
            )
            raise CurrencyError(
                "Connector provided mixed-currency history", connector=blamed
            ) from None

    union = _apply_adjustedness(union, prefer_adjusted)
    merged = merge_candles(union)
    attribution = build_attribution(merged)
    # Per-symbol merged-series metadata (merge.rs:99-109), computed on the
    # post-adjustedness union so only actual contributors participate in
    # the AND. Lazy like everything else — no job unless the caller acts.
    series_flags = merged_series_flags(merged, union)

    actions = None
    if actions_frames:
        actions = dedup_actions(
            reduce(lambda a, b: a.unionByName(b), actions_frames)
        )

    if resampling is not None:
        merged = resample(
            merged.withColumn("provider", F.lit(None).cast("string")),
            resampling,
            keys=["provider", "symbol"],
        )
    elif auto_resample_subdaily_to_daily:
        # Declarative split: symbols whose merged series is subdaily get a
        # daily resample; others pass through untouched (history.rs:646-658).
        from borsa_spark.operators.infer import is_subdaily

        # One small row per symbol: broadcast it rather than shuffle both
        # sides of a sort-merge join.
        flags = F.broadcast(is_subdaily(merged))
        tagged = merged.join(flags, "symbol", "left")
        sub = tagged.filter(F.coalesce(F.col("subdaily"), F.lit(False))).drop(
            "subdaily"
        )
        rest = tagged.filter(~F.coalesce(F.col("subdaily"), F.lit(False))).drop(
            "subdaily"
        )
        sub_daily = resample(
            sub.withColumn("provider", F.lit(None).cast("string")),
            "daily",
            keys=["provider", "symbol"],
        )
        merged = coalesced(
            sub_daily.unionByName(rest.select(*sub_daily.columns))
        )

    if resampling is not None or auto_resample_subdaily_to_daily:
        # strip_unadjusted (timeseries/util.rs via history.rs:659-662)
        merged = merged.withColumn(
            "close_unadj", F.lit(None).cast("decimal(38,9)")
        )

    return HistoryResult(
        candles=merged.orderBy("symbol", "ts"),
        actions=actions,
        attribution=attribution,
        warnings=warnings,
        flags=series_flags,
    )
