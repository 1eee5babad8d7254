"""Market-data API tour — the Spark-native analogs of the remaining
reference examples (/root/reference/borsa/examples/): 01 simple quote,
03 search, 04 price target, 05 options chain, 06 fundamentals deep dive,
07 financial snapshot, 09 stock comparison, 10 analyst recommendations,
11 upcoming events, 18 holders, 19 news, 20 esg, 22 multi quotes,
23 dataframe sink.

Every capability table is derived deterministically from the driver's
events parquet (no synthesized inputs beyond column projections), and
every router call is one declarative Spark plan — a batch of symbols
costs one job, not one job per symbol.

Run: python examples/market_data_tour.py
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from borsa_spark import schemas  # noqa: E402
from borsa_spark.router import quote, quotes, search  # noqa: E402
from borsa_spark.router import tables as rt  # noqa: E402
from borsa_spark.router.info import fast_info, info  # noqa: E402
from borsa_spark.session import get_spark  # noqa: E402
from borsa_spark.sources import load_table  # noqa: E402
from borsa_spark.sources.provider import Catalog, fixture_source  # noqa: E402

SF = "/root/testdata/sf0.001"


def build_catalog(spark) -> Catalog:
    """One multi-capability provider pair over the events table.

    prov0 carries every capability; prov1 only quotes (higher priority for
    half the symbols via registration order it is NOT — priority is
    registration order, so prov0 wins wherever it has rows).
    """
    ev = load_table(spark, SF, "events").cache()
    sym = F.col("event_type").alias("symbol")

    # quotes: latest event value per symbol
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    quotes_tbl = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.lit("prov0").alias("provider"),
            sym,
            F.lit("EQUITY").alias("kind"),
            F.upper(F.col("event_type")).alias("shortname"),
            F.col("value").cast(schemas.MONEY).alias("price"),
            (F.col("value") * 0.99).cast(schemas.MONEY).alias("previous_close"),
            F.lit("USD").alias("currency"),
            F.lit("NASDAQ").alias("exchange"),
            F.lit("REGULAR").alias("market_state"),
            F.lit(None).cast("long").alias("day_volume"),
        )
    )

    # search: symbol + display name per instrument
    search_tbl = quotes_tbl.select(
        "provider",
        F.lit("").alias("query"),
        "symbol",
        "kind",
        "exchange",
        F.col("shortname").alias("name"),
        F.lit(0).alias("result_idx"),
    )

    # fundamentals: per-symbol per-quarter aggregates of event values
    stmt = ev.groupBy(
        sym,
        F.date_trunc("quarter", F.col("ts")).alias("period"),
    ).agg(
        F.round(F.sum("value"), 2).alias("revenue"),
        F.round(F.avg("value"), 4).alias("margin"),
        F.count("*").cast("long").alias("line_items"),
    ).withColumn("provider", F.lit("prov0"))
    annual = stmt.withColumn("quarterly", F.lit(False))
    quarterly = stmt.withColumn("quarterly", F.lit(True))
    income = annual.unionByName(quarterly)

    # analyst surface: price target band + recommendation counts
    pt = ev.groupBy(sym).agg(
        F.round(F.min("value"), 2).alias("low"),
        F.round(F.avg("value"), 2).alias("mean"),
        F.round(F.max("value"), 2).alias("high"),
    ).withColumn("provider", F.lit("prov0"))
    recs = ev.groupBy(sym).agg(
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).alias("buy"),
        F.sum(F.when(F.col("value") <= 50, 1).otherwise(0)).alias("hold"),
    ).withColumn("provider", F.lit("prov0"))

    # holders: top users by event count per symbol
    holders = ev.groupBy(sym, F.col("user_id").alias("holder_id")).agg(
        F.count("*").cast("long").alias("n_events")
    ).withColumn("provider", F.lit("prov0"))

    # news: one story per event, ts-ordered, tabbed by event parity
    news_tbl = ev.select(
        F.lit("prov0").alias("provider"),
        sym,
        F.col("ts"),
        F.concat(F.lit("story-"), F.col("event_id")).alias("title"),
        F.when(F.col("event_id") % 2 == 0, "news")
         .otherwise("press_releases").alias("tab"),
    )

    # esg: deterministic scores from per-symbol aggregates
    esg_tbl = ev.groupBy(sym).agg(
        F.round(F.avg("value"), 2).alias("total_score"),
        F.round(F.min("value"), 2).alias("environment_score"),
        F.round(F.max("value"), 2).alias("social_score"),
        F.round(F.stddev_pop("value"), 2).alias("governance_score"),
    ).withColumn("provider", F.lit("prov0"))

    # calendar: next synthetic earnings date per symbol
    cal = ev.groupBy(sym).agg(
        F.date_add(F.max(F.col("ts")).cast("date"), 30).alias("earnings_date")
    ).withColumn("provider", F.lit("prov0"))

    # option chain: two strikes x two kinds per symbol, one expiry
    base = ev.groupBy(sym).agg(F.round(F.avg("value"), 2).alias("px"))
    legs = base.select(
        F.lit("prov0").alias("provider"),
        "symbol",
        F.lit(dt.date(2026, 9, 18)).alias("expiry"),
        F.explode(
            F.array(
                F.struct(F.lit("call").alias("kind"), (F.col("px") * 1.1).alias("strike")),
                F.struct(F.lit("call").alias("kind"), (F.col("px") * 1.2).alias("strike")),
                F.struct(F.lit("put").alias("kind"), (F.col("px") * 0.9).alias("strike")),
            )
        ).alias("leg"),
        F.col("px"),
    ).select(
        "provider", "symbol", "expiry",
        F.concat(F.col("symbol"), F.lit("-"), F.col("leg.kind"),
                 F.round(F.col("leg.strike"), 0).cast("int")).alias("contract"),
        F.col("leg.kind").alias("kind"),
        F.col("leg.strike").cast(schemas.MONEY).alias("strike"),
        F.col("px").cast(schemas.MONEY).alias("last_price"),
    )

    profile = ev.groupBy(sym).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    ).withColumn("provider", F.lit("prov0")).withColumn(
        "name", F.concat(F.upper(F.col("symbol")), F.lit(" Corp."))
    )

    cat = Catalog()
    cat.register(
        fixture_source(
            "prov0",
            quote=quotes_tbl,
            search=search_tbl,
            income_statement=income,
            price_target=pt,
            recommendations=recs,
            recommendations_summary=recs,
            major_holders=holders,
            institutional_holders=holders,
            news=news_tbl,
            esg=esg_tbl,
            calendar=cal,
            option_chain=legs,
            profile=profile,
        )
    )
    return cat


def main() -> None:
    spark = get_spark("market_data_tour")
    cat = build_catalog(spark)

    # 01_simple_quote: one symbol, first eligible provider wins
    print("== 01 simple quote ==")
    quote(spark, cat, "click").select("symbol", "price", "currency").show(1)

    # 03_search: free-text match with exchange-preference dedup
    print("== 03 search 'cl' ==")
    search(spark, cat, "cl").select("symbol", "name", "exchange").show()

    # 04_price_target + 10_analyst_recommendations
    print("== 04/10 analyst surface ==")
    rt.price_target(cat).join(rt.recommendations(cat), "symbol") \
        .select("symbol", "low", "mean", "high", "buy", "hold").show()

    # 05_options_chain: expirations then the chain at one expiry
    print("== 05 option expirations + chain ==")
    rt.option_expirations(cat).show(3)
    rt.option_chain(cat, expiry=dt.date(2026, 9, 18)) \
        .select("symbol", "contract", "kind", "strike").show(6)

    # 06_fundamentals_deep_dive: quarterly vs annual statements
    print("== 06 income statement (quarterly) ==")
    rt.income_statement(cat, quarterly=True) \
        .select("symbol", "period", "revenue", "line_items").show(4)

    # 07_financial_snapshot: the composed info() view
    print("== 07 financial snapshot (info) ==")
    snap, warnings = info(spark, cat, ["click", "view"])
    cols = [c for c in ("symbol", "name", "price", "pt_mean", "esg_total_score")
            if c in snap.columns]
    snap.select(*cols).show()
    print("info warnings:", warnings)

    # 09_stock_comparison: one batch, side-by-side fast_info
    print("== 09 stock comparison ==")
    fast_info(spark, cat, ["click", "view", "purchase"]) \
        .select("symbol", "price", "previous_close").show()

    # 11_upcoming_events: calendar scan
    print("== 11 upcoming events ==")
    rt.calendar(cat).show(3)

    # 18_holders: major + institutional
    print("== 18 holders (top institutional rows) ==")
    rt.institutional_holders(cat).orderBy(F.col("n_events").desc()).show(3)

    # 19_news: recency-capped, tab-filtered
    print("== 19 news (2 most recent press releases per symbol) ==")
    rt.news(cat, count=2, tab="press_releases") \
        .select("symbol", "ts", "title", "tab").show(6)

    # 20_esg
    print("== 20 esg ==")
    rt.esg(cat).show(3)

    # 22_multi_quotes: batch with partial failure
    print("== 22 multi quotes (with one unknown symbol) ==")
    ok, failed = quotes(spark, cat, ["click", "view", "GHOST"])
    ok.select("symbol", "price").show()
    print("failures:", [r.symbol for r in failed.collect()])

    # 23_dataframe: every result IS a DataFrame — write one to parquet (S13)
    with tempfile.TemporaryDirectory() as td:
        out = os.path.join(td, "snapshot")
        snap.write.mode("overwrite").parquet(out)
        print("== 23 dataframe sink: wrote",
              spark.read.parquet(out).count(), "rows ==")

    spark.stop()


if __name__ == "__main__":
    main()
