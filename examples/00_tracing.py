"""00 — Tracing/observability: run quote, history, and search with the
engine's observability surfaces turned up (reference:
borsa/examples/00_tracing.rs).

The reference initializes a tracing subscriber and spans every router
call. The Spark-first analog is the *query plan itself*: every router
call compiles to one declarative DataFrame program, so observability is
`.explain("formatted")` (the optimized physical plan: pushed filters,
broadcast vs shuffle joins, whole-stage codegen spans) plus the Spark UI
event timeline. This example prints the physical plan of each call the
reference traces.

Run: python examples/00_tracing.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _common import get_catalog  # noqa: E402

from borsa_spark.router import HistoryRequest, history, quote, search  # noqa: E402
from borsa_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("ex00_tracing")
    # the log4j level is the Spark-side analog of RUST_LOG filtering
    spark.sparkContext.setLogLevel("WARN")
    cat = get_catalog(spark)

    # Over several providers the top-1 plans as a TakeOrderedAndProject;
    # this catalog has one, so Spark drops the sort. The exchange in it
    # belongs to the example's latest-tick quote view.
    print("# Quote plan (one union, top-1 by priority, filters pushed down)")
    q = quote(spark, cat, "purchase")
    q.explain("formatted")
    q.show(1)

    # range="max": a relative range such as "6mo" resolves against the
    # wall clock, and the fixture's events may all lie outside it
    print("# History plan (one symbol, full range daily: scan -> resample"
          " -> merge in one partition, no exchange)")
    res = history(spark, cat, HistoryRequest(symbol="purchase", range="max",
                                             interval="1d"))
    res.candles.explain("formatted")
    n_rows = res.candles.count()
    print(f"history rows: {n_rows}")
    if n_rows == 0:
        spark.stop()
        sys.exit("00_tracing: the history request returned no rows")

    print("# Search plan (exchange-preference dedup rank)")
    s = search(spark, cat, "pur", limit=5)
    s.explain("formatted")
    s.show(5)

    print("Spark UI (jobs/stages/SQL tab):", spark.sparkContext.uiWebUrl)
    spark.stop()


if __name__ == "__main__":
    main()
