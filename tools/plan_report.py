"""Generate PLANS.md: the physical operator tree + scan details for every
bench-headline query, as reviewable evidence for the plan-shape claims in
SCALE.md (the claims themselves are enforced by tests/test_plan_shapes.py;
this report is the human-readable side).

Usage: python tools/plan_report.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF = "/root/testdata/sf0.001"


# gate-harness queries that EXECUTE a full maintenance protocol and
# return a collected LocalRelation — explaining them costs minutes and
# yields a one-line 'Scan ExistingRDD' with zero plan evidence
MATERIALIZED_GATES = {
    "c6_incremental_rollup",
    "c7_streaming_rollup_exactly_once",
    "c10_tiered_rollup",
}


def main() -> None:
    from bench import HEADLINE, TIER2

    from borsa_spark.queries import QUERIES
    from borsa_spark.session import get_spark

    spark = get_spark("plan-report")
    lines = [
        "# PLANS — physical operator trees (auto-generated)",
        "",
        "`python tools/plan_report.py` over the bench HEADLINE + TIER2 at",
        "sf0.001.",
        "One block per query: the numbered operator list from",
        '`explain("formatted")` plus every PushedFilters/PartitionFilters',
        "line, so pushdown and join strategy are checkable at a glance.",
        "Plan claims are enforced by tests/test_plan_shapes.py; this file",
        "is the reviewable rendering and is regenerated, not hand-edited.",
        "",
    ]
    for name in HEADLINE + TIER2:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        if name in MATERIALIZED_GATES:
            lines += [f"## {name}", "",
                      "(materialized gate-harness query — the plan is a "
                      "LocalRelation of the protocol's output; the real "
                      "plans are rollup_state/rollup_merge, audited in "
                      "tests/test_plan_shapes.py)", ""]
            continue
        # clear BEFORE each explain: an earlier query's persisted
        # relation would otherwise be substituted into this query's
        # recorded plan (CacheManager matches plans structurally), and
        # PLANS.md would document a cache-contaminated, order-dependent
        # plan the bench/oracle harnesses (which clear per query) never
        # run (round-9 review finding).
        spark.catalog.clearCache()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, SF).explain("formatted")
        plan = buf.getvalue()
        ops = [
            l.strip()
            for l in plan.splitlines()
            if re.match(r"\s*\(\d+\)", l.strip())
        ]
        filters = [
            l.strip()
            for l in plan.splitlines()
            if "PushedFilters:" in l or "PartitionFilters:" in l
        ]
        lines.append(f"## {name}")
        lines.append("")
        lines.append("```")
        lines.extend(ops)
        for f in filters:
            if f not in ("PushedFilters: []", "PartitionFilters: []"):
                lines.append(f[:200])
        lines.append("```")
        lines.append("")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(lines)} lines)")


if __name__ == "__main__":
    main()
