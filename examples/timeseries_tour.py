"""Time-series operator tour: tz-aware resampling, with the daily tier
cascaded from the hourly one (the a10_rollup_cascade semantics).

Run: python examples/timeseries_tour.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from borsa_spark.operators import (  # noqa: E402
    resample_to_daily,
    resample_to_minutes,
)
from borsa_spark.session import get_spark  # noqa: E402
from borsa_spark.sources import load_table  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark("timeseries-tour")
    ev = load_table(spark, SF, "events")
    v = F.col("value")
    candles = ev.select(
        F.lit("prov").alias("provider"),
        F.col("event_type").alias("symbol"),
        F.lit("equity").alias("kind"),
        "ts",
        v.alias("open"), v.alias("high"), v.alias("low"), v.alias("close"),
        F.lit(None).cast("decimal(38,9)").alias("close_unadj"),
        F.col("user_id").cast("long").alias("volume"),
        F.lit("USD").alias("currency"),
        F.lit(True).alias("adjusted"),
        F.lit("America/New_York").alias("timezone"),
        F.lit(None).cast("long").alias("utc_offset_seconds"),
        F.col("event_id").alias("seq"),
    )

    # rollup cascade: hourly tier feeding the daily tier (a10 semantics)
    hourly = resample_to_minutes(candles, 60)
    daily = resample_to_daily(hourly)
    print("== tz-aware daily bars cascaded from hourly ==")
    daily.orderBy("symbol", "ts").show(5)

    spark.stop()


if __name__ == "__main__":
    main()
