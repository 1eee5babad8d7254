"""Benchmark entry point.

    python3 perfbench/run.py --workload point_requests --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of this repository. Generates the seeded
inputs, starts a Spark session through ``borsa_spark.session.get_spark``,
runs one workload, checks every answer against DuckDB, and prints the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
as one JSON object on the last line of standard output. Exits 1 if any
output was wrong, 2 if the program cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

#: Session settings every run uses; DRIVER_MEM overrides get_spark's 24g
#: default, which is more than a 15 GB host holds.
DRIVER_MEM = "2g"


def load_spec(root: str) -> dict:
    """``BENCHMARK.json``: the workloads and every metric's name and unit."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def parse(argv, workloads: list[str]):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--calibrate", action="store_true",
                   help="point_requests only: print the closed-loop capacity "
                        "of the request mix instead of running the benchmark")
    return p.parse_args(argv)


def main(argv=None) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "borsa_spark", "session.py")):
        print("perfbench: run from a checkout that holds borsa_spark/",
              file=sys.stderr)
        return 2
    spec = load_spec(root)
    args = parse(argv, [w["name"] for w in spec["workloads"]])
    sys.path[:0] = [HERE, root]
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)

    import importlib

    from common import Ctx
    from harness import Tracer
    from session import SparkHost

    host = SparkHost(work)
    ctx = Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
              work=work, host=host, tracer=Tracer(bool(args.trace)))
    module = importlib.import_module(args.workload)
    try:
        if args.calibrate:
            print(json.dumps({"capacity_per_s": module.calibrate(ctx)}))
            return 0
        outcome = module.run(ctx)
    finally:
        host.close()
        shutil.rmtree(work, ignore_errors=True)

    for line in outcome.lines:
        print(line)
    error_rate = (outcome.failed + outcome.wrong) / outcome.attempted
    print(f"error_rate: {error_rate:.4f} ratio (failed {outcome.failed} + "
          f"wrong {outcome.wrong} of {outcome.attempted} attempted)")
    names = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.trace:  # a layer the workload does not exercise reports 0
        values = {k: outcome.layers.get(k, 0.0) for k in names}
    else:
        values = {k: outcome.e2e[k] for k in names}
    for k in names:
        print(f"{k}: {values[k]:.6g} {names[k]}")
    print(json.dumps({
        "correct": outcome.wrong == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": float(values[k]), "unit": names[k]}
                    for k in names},
    }))
    return 0 if outcome.wrong == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
