"""Currency invariants + faulty-provider blame (SURVEY §2.11 R9, §4.2).

The reference aborts a merge/resample on the first currency inconsistency
(merge.rs:55-68, resample.rs:131-168) and, when the merged series mixes
currencies, scans per-provider consistency to blame the right connector
(borsa/src/router/history.rs:223-274).

Spark transforms are lazy, so invariants are explicit validation
aggregations the router runs before the main op. The validation aggregates to
a handful of rows (one per provider/symbol), so collecting them to the driver
is O(providers), not O(data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from borsa_spark.errors import CurrencyError


def check_series_currency_uniform(
    df: DataFrame, keys: list[str] | None = None
) -> None:
    """Raise CurrencyError if any series mixes currencies.

    ``keys`` defaults to ["symbol"] — one merged series per symbol.
    """
    keys = keys or ["symbol"]
    bad = (
        df.groupBy(*keys)
        .agg(F.countDistinct("currency").alias("n_cur"))
        .filter(F.col("n_cur") > 1)
        .limit(5)
        .collect()
    )
    if bad:
        labels = ", ".join("/".join(str(r[k]) for k in keys) for r in bad)
        raise CurrencyError(f"mixed-currency series: {labels}")


def identify_faulty_provider(
    candles: DataFrame, priorities: dict[str, int] | None = None
) -> str:
    """Blame analysis on mixed-currency merge failure (history.rs:223-274).

    Rules, in order:
    1. a provider that is internally inconsistent (2+ currencies) is blamed;
    2. else the reference currency is the first (by priority) provider with a
       consistent currency; the first provider whose currency differs is blamed;
    3. else the last provider is blamed.
    """
    per = (
        candles.groupBy("provider")
        .agg(
            F.countDistinct("currency").alias("n_cur"),
            F.min("currency").alias("cur"),
        )
        .collect()
    )
    if not per:
        return "unknown"
    rank = priorities or {}
    per.sort(key=lambda r: rank.get(r["provider"], 1 << 30))
    for r in per:
        if r["n_cur"] > 1:
            return r["provider"]
    ref_cur = next((r["cur"] for r in per if r["n_cur"] == 1), None)
    if ref_cur is not None:
        for r in per:
            if r["n_cur"] == 1 and r["cur"] != ref_cur:
                return r["provider"]
    return per[-1]["provider"]
