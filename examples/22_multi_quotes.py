"""22 — Multi quotes: batch quote fetch with partial-failure reporting
(reference: borsa/examples/22_multi_quotes.rs).

`quotes()` runs the provider union once and returns (successes,
failures) as local frames — symbols no provider carries land in the
failures list instead of raising (A8 partial results).

Run: python examples/22_multi_quotes.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _common import get_catalog  # noqa: E402

from borsa_spark.router import quotes  # noqa: E402
from borsa_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("ex22_multi_quotes")
    cat = get_catalog(spark)

    requested = ["click", "purchase", "view", "NOPE", "ALSO_MISSING"]
    print(f"Fetching quotes for {requested}...")
    ok, failed = quotes(spark, cat, requested)

    print("\n## Successes")
    ok.select("symbol", "price", "currency", "provider").orderBy(
        "symbol"
    ).show(10, truncate=False)

    print("## Failures (no provider had these)")
    failed.orderBy("symbol").show(10, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
