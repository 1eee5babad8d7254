"""09 — Stock comparison: several symbols side-by-side on quote and
fundamental metrics (reference: borsa/examples/09_stock_comparison.rs).

The reference loops symbols and awaits a call per symbol per metric.
Spark-first: the whole comparison is ONE batched plan — the quote scan and
the fundamentals scan each run once over the symbol set (IN-predicate
pushdown), joined on symbol. Adding a symbol changes the predicate, not
the job count.

Run: python examples/09_stock_comparison.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from borsa_spark import schemas  # noqa: E402
from borsa_spark.router import quotes  # noqa: E402
from borsa_spark.router import tables as rt  # noqa: E402
from borsa_spark.session import get_spark  # noqa: E402
from borsa_spark.sources import load_table  # noqa: E402
from borsa_spark.sources.provider import Catalog, fixture_source  # noqa: E402

SF = "/root/testdata/sf0.001"
WATCHLIST = ["click", "view", "purchase"]


def build_catalog(spark) -> Catalog:
    ev = load_table(spark, SF, "events")
    sym = F.col("event_type").alias("symbol")
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    quotes_tbl = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.lit("prov0").alias("provider"), sym,
            F.lit("EQUITY").alias("kind"),
            F.col("value").cast(schemas.MONEY).alias("price"),
            (F.col("value") * 0.97).cast(schemas.MONEY)
             .alias("previous_close"),
            F.lit("USD").alias("currency"),
            F.lit(None).cast("string").alias("exchange"),
        )
    )
    fins = ev.groupBy(sym).agg(
        F.round(F.sum("value"), 2).alias("revenue"),
        F.round(F.avg("value"), 4).alias("avg_margin"),
        F.count("*").cast("long").alias("n_periods"),
    ).withColumn("provider", F.lit("prov0"))
    pt = ev.groupBy(sym).agg(
        F.round(F.min("value"), 2).alias("low"),
        F.round(F.avg("value"), 2).alias("mean"),
        F.round(F.max("value"), 2).alias("high"),
    ).withColumn("provider", F.lit("prov0"))

    cat = Catalog()
    cat.register(
        fixture_source(
            "prov0", quote=quotes_tbl, earnings=fins, price_target=pt
        )
    )
    return cat


def main() -> None:
    spark = get_spark("ex09_stock_comparison")
    cat = build_catalog(spark)

    print(f"# Comparing {', '.join(WATCHLIST)} — one plan, {len(WATCHLIST)} "
          "symbols\n")
    best, _failures = quotes(spark, cat, WATCHLIST)
    q = best.select("symbol", "price", "previous_close")
    cmp_df = (
        q.join(rt.earnings(cat, WATCHLIST)
               .select("symbol", "revenue", "avg_margin"), "symbol")
        .join(rt.price_target(cat, WATCHLIST)
              .select("symbol", "mean", "high"), "symbol")
        .withColumn(
            "upside_pct",
            F.round((F.col("mean") - F.col("price")) / F.col("price") * 100, 2),
        )
        .orderBy(F.col("upside_pct").desc())
    )
    cmp_df.show()
    best = cmp_df.limit(1).collect()[0]
    print(f"Highest mean-target upside: {best.symbol} ({best.upside_pct}%)")
    spark.stop()


if __name__ == "__main__":
    main()
