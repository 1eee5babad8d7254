"""End-to-end API tour on the sf0.001 driver data — the analog of the
reference's examples/ directory in one script.

Run: python examples/demo.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from borsa_spark.plans import RoutingPolicy  # noqa: E402
from borsa_spark.queries import _event_catalog  # noqa: E402
from borsa_spark.router import (  # noqa: E402
    HistoryRequest,
    download,
    history,
    quote,
)
from borsa_spark.session import get_spark  # noqa: E402
from borsa_spark.sources import load_table  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark("demo")
    cat = _event_catalog(spark, SF)  # 3 fixture providers over events

    # 02_history_merge + 08_history_resampling: hourly request planned as
    # 1m scans + 60m resample per provider, merged first-wins
    res = history(spark, cat, HistoryRequest(symbol="click", interval="1h"))
    print("== merged hourly history (first 5) ==")
    res.candles.show(5)
    print("== provider attribution spans ==")
    res.attribution.orderBy("span_start").show(5)

    # 12_per_symbol_priority + 15_routing_policy: flip priorities per symbol
    cat.policy = RoutingPolicy().providers_for_symbol(
        "click", ["prov2", "prov0", "prov1"]
    )
    res2 = history(spark, cat, HistoryRequest(symbol="click", interval="1d"))
    print("== with prov2 preferred for 'click' ==")
    res2.candles.select("provider", "ts", "close").show(3)

    # 21_download_builder: plan-grouped bulk download + failure report
    cat.policy = RoutingPolicy()
    symbols = [r[0] for r in
               load_table(spark, SF, "events").select("event_type").distinct().collect()]
    candles, failed = download(spark, cat, symbols + ["GHOST"])
    print(f"== download: {candles.count()} candles, failures:",
          [r.symbol for r in failed.collect()], "==")

    # training-data ops: near-dup detection over documents
    from borsa_spark.functions.dedup import minhash_dedup_pairs

    docs = load_table(spark, SF, "documents")
    pairs = minhash_dedup_pairs(docs, n=3, threshold=0.5)
    print("== minhash near-dup pairs ==")
    pairs.show(5)

    # merged-series flags (round 2): adjusted AND-over-contributors + meta
    print("== merged-series flags ==")
    res.flags.show(5)

    # R7/R4 (round 2): a hanging provider times out, the chain proceeds;
    # a latency race returns the fastest success
    from borsa_spark.errors import ProviderTimeout  # noqa: F401
    from borsa_spark.sources.mock import Hang, ScriptedSource, fixture_quotes_df
    from borsa_spark.sources.provider import Catalog

    hang = Hang(seconds=10.0)
    slow = ScriptedSource("slow").script("quote", hang)
    fast = ScriptedSource("fast").script("quote", fixture_quotes_df(spark, "fast"))
    qcat = Catalog().register(slow).register(fast)
    q = quote(spark, qcat, "AAPL", strategy="latency", provider_timeout=2.0)
    print("== latency-race quote winner ==")
    q.select("provider", "symbol", "price").show(1)
    hang.release()

    spark.stop()


if __name__ == "__main__":
    main()
