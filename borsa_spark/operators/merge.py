"""Priority-keyed union-merge — the flagship operator (SURVEY §2.3 J1, §2.4 A6).

Semantics match borsa-core/src/timeseries/merge.rs:

merge_history (merge.rs:28-110):
- Candle rows from N providers, each provider carrying a priority (0 = highest).
- Per (symbol, ts) the highest-priority provider's candle wins; within one
  provider, the first row by input order (``seq``) wins for duplicate ts
  (BTreeMap Entry::Vacant first-wins over a stable ts-sort).
- Output is sorted by ts; ``close_unadj`` is cleared (merge.rs:94-95).
- ``adjusted`` = AND over *contributing* providers' flags — a provider
  contributes iff it won at least one timestamp (merge.rs:76-84, 99-102);
  no contributors -> false.
- meta (timezone / utc_offset_seconds) = first (by priority) contributing
  provider with non-null meta; if the merged series is empty, first provider
  overall with non-null meta (merge.rs:44-49, 81-84, 88-91).
- Actions from all providers are concatenated and deduplicated by full
  identity (ts, kind, payload) (merge.rs:264-279). The reference's canonical
  (ts, kind-rank, payload) sort (merge.rs:173-225) is not applied: a
  DataFrame has no row order until the caller sorts it.

Determinism at scale: Spark's ``dropDuplicates`` keeps an *arbitrary* row and
is therefore wrong here (SURVEY §4.2) — we use an argmin aggregation
(``min_by`` over explicit ``(priority, seq)``), which is a total stable order
regardless of partitioning AND gets map-side partial combine, so hot-key
replicas collapse before the shuffle (skew-resilient; see merge_candles).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_priority(df: DataFrame, priorities: Mapping[str, int]) -> DataFrame:
    """Attach an explicit priority column from a provider->rank mapping.

    The mapping comes from the routing policy (catalog order — see
    plans.routing). Providers absent from the mapping sort last.
    """
    expr = F.lit(len(priorities) + 1)
    for name, rank in sorted(priorities.items(), key=lambda kv: -kv[1]):
        expr = F.when(F.col("provider") == name, F.lit(rank)).otherwise(expr)
    return df.withColumn("priority", expr.cast("int"))


def merge_candles(candles: DataFrame) -> DataFrame:
    """First-wins candle merge (merge_candles_by_priority, merge.rs:122-161).

    Input must carry ``priority``; returns the winning candle per
    (symbol, ts) with provider retained for attribution, close_unadj cleared.

    Expressed as ``min_by(row, (priority, seq))`` AGGREGATION rather than a
    window ``row_number() = 1``: an argmin aggregate gets map-side partial
    combine, so a hot symbol's rows collapse to one row per (ts) per map
    task BEFORE the shuffle — a window would move every replica of the hot
    key to a single reducer. Determinism: (priority, seq) is a total order
    within a (symbol, ts) group (priorities are distinct per provider, seq
    is the within-provider input order).
    """
    ord_key = F.struct(
        F.col("priority"),
        F.coalesce(F.col("seq"), F.lit(0)).alias("__seq"),
    )
    payload = F.struct(*[F.col(c) for c in candles.columns])
    winner = (
        candles.groupBy("symbol", "ts")
        .agg(F.min_by(payload, ord_key).alias("__w"))
    )
    out_cols = [
        F.col(f"__w.{c}").alias(c)
        for c in candles.columns
        if c not in ("symbol", "ts")
    ]
    return (
        winner.select("symbol", "ts", *out_cols)
        .withColumn("close_unadj", F.lit(None).cast("decimal(38,9)"))
    )


def merged_series_flags(merged: DataFrame, candles: DataFrame) -> DataFrame:
    """Per-symbol merged-series attributes: the ``adjusted`` flag and meta.

    - adjusted = AND over contributing providers (merge.rs:76-84, 99-102).
    - timezone / utc_offset_seconds = first contributing provider's non-null
      meta by priority (merge.rs:81-84); callers handle the empty-series
      fallback (first provider overall) since an empty merge has no rows.
    """
    contrib = merged.groupBy("symbol", "provider").agg(
        F.min("priority").alias("__prio")
    )
    per_provider = candles.groupBy("symbol", "provider").agg(
        F.min("priority").alias("__prio2"),
        F.any_value("adjusted").alias("__adj"),
        F.any_value("timezone").alias("__tz"),
        F.any_value("utc_offset_seconds").alias("__off"),
    )
    j = contrib.join(per_provider, ["symbol", "provider"], "inner")
    return j.groupBy("symbol").agg(
        F.coalesce(F.bool_and("__adj"), F.lit(False)).alias("adjusted"),
        F.min_by("__tz", F.when(F.col("__tz").isNotNull(), F.col("__prio2"))).alias("timezone"),
        F.min_by(
            "__off", F.when(F.col("__off").isNotNull(), F.col("__prio2"))
        ).alias("utc_offset_seconds"),
    )


def merge_history(
    candles: DataFrame,
    actions: DataFrame | None = None,
    priorities: Mapping[str, int] | None = None,
) -> tuple[DataFrame, DataFrame | None, DataFrame]:
    """Full merge: (merged candles, deduped actions, per-symbol flags).

    ``priorities`` maps provider -> rank (0 wins); if omitted the input must
    already carry ``priority``.
    """
    if priorities is not None:
        candles = with_priority(candles, priorities)
        if actions is not None:
            actions = with_priority(actions, priorities)
    merged = merge_candles(candles)
    flags = merged_series_flags(merged, candles)
    deduped = dedup_actions(actions) if actions is not None else None
    return merged, deduped, flags


def dedup_actions(actions: DataFrame) -> DataFrame:
    """A6: dedup actions by full identity (merge.rs:264-279); unsorted.

    Identity: dividend (ts, amount, currency); split (ts, numerator,
    denominator); capital_gain (ts, amount, currency). ``dropDuplicates`` is
    safe here because all identity fields are part of the key — every
    surviving row is identical on those fields, so no ordering is needed.
    """
    return actions.dropDuplicates(
        ["symbol", "ts", "kind", "amount", "currency", "numerator", "denominator"]
    )
