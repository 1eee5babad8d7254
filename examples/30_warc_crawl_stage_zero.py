"""30 — Crawl stage zero: WARC in, corpus out (no reference analog —
the LLM-pipeline layer the Spark engine adds on top of borsa's
market-data surface).

The full byte-level tour of `sources/warc.py`:

1. write a small crawl as `.warc.gz` (one gzip member per record, the
   Common Crawl layout) with `write_warc_files`;
2. scan it with `read_warc` (one task per file) and the html funnel;
3. fan ONE file across byte-range tasks with `read_warc_split`;
4. tolerate planted junk with `errors="lenient"` (quarantine rows).

Run: python examples/30_warc_crawl_stage_zero.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from borsa_spark.session import get_spark  # noqa: E402
from borsa_spark.sources import warc as W  # noqa: E402


def page(i: int) -> bytes:
    return W.http_response(
        200 if i % 4 else 404, "X", {"Content-Type": "text/html"},
        f"<html><body><p>document {i} body text, long enough to be "
        f"kept by extraction rules.</p></body></html>".encode(),
    )


def records(row: dict):
    i = int(row["id"])
    yield W.warc_record(
        "response",
        {"WARC-Target-URI": f"https://example.com/page/{i}",
         "WARC-Date": "2026-01-01T00:00:00Z",
         "Content-Type": "application/http; msgtype=response"},
        page(i),
    )


def main() -> None:
    spark = get_spark("warc-tour")
    work = tempfile.mkdtemp(prefix="warc_tour_")

    # 1. a 40-page crawl across 4 files
    ids = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).alias("__file")
    )
    summary = W.write_warc_files(ids, work, records, "__file", "id")
    print("-- files written:")
    summary.show(truncate=False)

    # 2. the scan path: one task per file, html funnel on top
    rec = W.read_warc(spark, work)
    docs = W.warc_html_docs(rec)
    print(f"records={rec.count()} kept_html_docs={docs.count()}")

    # 3. ONE file across byte-range split tasks
    [f0] = [x for x in sorted(os.listdir(work)) if "part-0" in x]
    p0 = os.path.join(work, f0)
    parts = W.read_warc_split(
        spark, p0, split_bytes=max(256, os.path.getsize(p0) // 4)
    )
    print(f"split read of {f0}: rows={parts.count()} "
          f"tasks={parts.rdd.getNumPartitions()}")

    # 4. junk tolerance: a torn gzip member quarantines, never kills
    junk = os.path.join(work, "torn.warc.gz")
    with open(junk, "wb") as fh:
        fh.write(W.gzip_member(next(records({"id": 100}))))
        fh.write(b"\x1f\x8b\x08" + b"\x00" * 24)  # torn member
        fh.write(W.gzip_member(next(records({"id": 101}))))
    lan = W.read_warc(spark, work, errors="lenient")
    quarantined = lan.filter(F.col("warc_type") == W.PARSE_ERROR_TYPE)
    print("-- lenient mode, quarantine accounting:")
    quarantined.select("warc_file", "headers").show(truncate=False)

    spark.stop()


if __name__ == "__main__":
    main()
