"""Info composition join (J2) + bulk download (S12).

Reference: borsa/src/router/info.rs:27-179 — Info is assembled from quote,
profile, isin, price-target, recommendation-summary, and ESG lookups, all
optional (per-source failures become warnings, not errors), with field
coalescing (name = quote.shortname else profile.name, info.rs:139).
Download: borsa/src/router/download.rs:137-211 — per-symbol history fan-out
aggregated into one report with per-symbol failures preserved.

Spark mapping: Info = multi-way LEFT join on symbol with coalesce per field;
every side is a first-provider-wins capability scan. All sides are
symbol-keyed; dims are small relative to the fact side so join order lets
AQE broadcast them. Download = ONE history pipeline over symbol IN (...)
plus an anti-join to report symbols with no data — never a driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from borsa_spark.errors import BorsaSparkError, UnsupportedError
from borsa_spark.router.quotes import _best_quotes
from borsa_spark.router.tables import capability_scan
from borsa_spark.sources.provider import Catalog, _local_frame


def _try_scan(catalog, capability, symbols, prefix: str,
              warnings: list[str]) -> DataFrame | None:
    """One optional side of the info join; failure -> warning, not error."""
    try:
        df = capability_scan(catalog, capability, symbols)
    except BorsaSparkError as e:
        warnings.append(f"[{capability}] {e.message}")
        return None
    keep = [c for c in df.columns if c not in ("provider", "priority")]
    renamed = df.select(
        "symbol",
        *[
            F.col(c).alias(f"{prefix}_{c}")
            for c in keep
            if c != "symbol"
        ],
    )
    return renamed


def info(
    spark: SparkSession,
    catalog: Catalog,
    symbols: "list[str] | DataFrame",
    kind: str | None = None,
) -> tuple[DataFrame, list[str]]:
    """J2: the composed Info view for a set of symbols + warnings.

    ``symbols`` may be a driver-side list or a one-column ``symbol``
    DataFrame; the DataFrame form keeps the symbol universe distributed
    (no collect) — the side tables are restricted by left-semi join.
    """
    warnings: list[str] = []
    try:
        quotes = _best_quotes(catalog, kind, symbols)
    except BorsaSparkError as e:
        warnings.append(f"[quote] {e.message}")
        quotes = None

    base = (
        symbols.select("symbol").distinct()
        if isinstance(symbols, DataFrame)
        else _local_frame(spark, [(s,) for s in symbols], "symbol string")
    )
    out = base
    if quotes is not None:
        out = out.join(
            quotes.select(
                "symbol", "shortname", "price", "previous_close", "currency",
                "exchange", "market_state",
            ),
            "symbol",
            "left",
        )
    for capability, prefix in [
        ("profile", "profile"),
        ("isin", "isin"),
        ("price_target", "pt"),
        ("recommendations_summary", "rec"),
        ("esg", "esg"),
    ]:
        side = _try_scan(catalog, capability, symbols, prefix, warnings)
        if side is not None:
            out = out.join(side, "symbol", "left")

    # Field coalescing (info.rs:139): display name prefers the quote's
    # shortname, falling back to the profile's name.
    if "shortname" in out.columns and "profile_name" in out.columns:
        out = out.withColumn(
            "name", F.coalesce(F.col("shortname"), F.col("profile_name"))
        )
    elif "shortname" in out.columns:
        out = out.withColumn("name", F.col("shortname"))
    return out, warnings


def fast_info(
    spark: SparkSession,
    catalog: Catalog,
    symbols: "list[str] | DataFrame",
    kind: str | None = None,
) -> DataFrame:
    """The light Info subset (FastInfo, borsa/src/router/info.rs:222-251):
    quote-derived fields only — no profile/analyst/esg joins, one window
    over the quote union. ``symbols`` may be a one-column ``symbol``
    DataFrame (left-semi restriction, no driver list)."""
    return _best_quotes(catalog, kind, symbols).select(
        "symbol", "shortname", "price", "previous_close", "currency",
        "exchange", "market_state",
    )


def download(
    spark: SparkSession,
    catalog,
    symbols: list[str],
    interval: str = "1d",
    **history_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """S12: bulk multi-symbol history -> (candles, failed_symbols).

    Duplicate symbols are rejected up front (download.rs:10-26). Symbols are
    grouped by their *plan signature* (which providers at which effective
    interval — routing rules can differ per symbol), and each group runs as
    ONE history pipeline over symbol IN (...). For the common case of a
    uniform policy that's a single Spark program for the whole batch — the
    reference's per-symbol task fan-out becomes data parallelism.

    ``symbols=ALL_SYMBOLS`` ("*") downloads every symbol the providers
    carry under the catalog-wide plan (valid when routing is uniform —
    per-symbol policy rules need an explicit list to plan against); the
    failure report is empty by definition (no requested universe).
    """
    from borsa_spark.router.history import (
        ALL_SYMBOLS,
        HistoryRequest,
        history,
        plan_history,
    )

    if symbols == ALL_SYMBOLS:
        res = history(
            spark, catalog,
            HistoryRequest(symbol=ALL_SYMBOLS, interval=interval),
            symbols=ALL_SYMBOLS, **history_kwargs,
        )
        return res.candles, _local_frame(spark, [], "symbol string")
    if len(set(symbols)) != len(symbols):
        raise ValueError("duplicate symbols in download request")

    groups: dict[tuple, list[str]] = {}
    warnings: list[str] = []
    for sym in symbols:
        req = HistoryRequest(symbol=sym, interval=interval)
        try:
            plans, w = plan_history(catalog, req)
        except BorsaSparkError as e:
            warnings.append(f"[{sym}] {e.message}")
            continue
        warnings.extend(w)
        sig = tuple((s.name, eff, rplan) for _, s, eff, rplan in plans)
        groups.setdefault(sig, []).append(sym)

    frames = []
    for sig, group_syms in groups.items():
        req = HistoryRequest(symbol=group_syms[0], interval=interval)
        try:
            res = history(
                spark, catalog, req, symbols=group_syms, **history_kwargs
            )
            frames.append(res.candles)
        except BorsaSparkError as e:
            warnings.append(f"[{','.join(group_syms)}] {e.message}")
    if not frames:
        raise UnsupportedError("download: no symbol produced history")
    candles = frames[0]
    for f in frames[1:]:
        candles = candles.unionByName(f)
    requested = _local_frame(spark, [(s,) for s in symbols], "symbol string")
    failed = requested.join(candles.select("symbol").distinct(), "symbol", "left_anti")
    return candles, failed
