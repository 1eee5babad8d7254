"""point_requests: open-loop API traffic.

Seeded Poisson arrivals at a fixed offered rate, served by ``WORKERS``
threads of one driver process. The mix is single-symbol ``history`` at
1d / 1h / 5m over three parquet 1m-bar providers, single ``quote`` whose
preferred provider is a REST source behind ``MiddlewareStack(TTLCache,
QuotaGuard)``, and small ``quotes`` batches. Symbol popularity is Zipf.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pandas as pd

import gen
import oracle
from common import (Ctx, CpuWindow, JobCounter, Outcome, cpu_layers, cpu_line,
                    peak_rss_mb, self_time_layers, trace_planning)
from harness import (median, poisson_schedule, reset_peak_rss, run_open_loop,
                     summarize)
from session import set_up

#: Offered load, requests per second. The closed-loop capacity of this mix
#: with WORKERS clients on a 4-core host is 1.64/s (``run.py --workload
#: point_requests --calibrate ...``). A request costs about 4 CPU-seconds
#: (most of it the JVM compiling the code generated for its query), so
#: 0.6/s keeps about 2.4 of the 4 cores busy; a run of 25 s sends 15 requests.
RATE_PER_S = 0.6
WORKERS = 4
#: Request kinds and their counts per block of BLOCK requests. A run sends
#: whole blocks, so every run sends the same mix.
MIX = {"h1d": 1, "h1h": 1, "h5m": 1, "quote": 1, "quotes": 1}
BLOCK = sum(MIX.values())
#: Seed of the traffic shape: the Poisson send times and the order of
#: request kinds. It is the same for every run, so runs differ in what they
#: ask for (symbols, days, batches, market data: all from ``--seed``) but
#: not in how bursty the load is; with about ten requests a run, burstiness
#: alone moved the median latency by +-40 % between seeds.
SHAPE_SEED = 20240304
#: Rounds of one request of every kind in the warm-up. After a single
#: round, the first block of the window still ran about 1.5x slower than
#: the second and spread twice as much between runs.
WARM_ROUNDS = 2
INTERVAL = {"h1d": "1d", "h1h": "1h", "h5m": "5m"}
QUOTA_LIMIT = 1_000_000
REST_URL = "http://live.invalid"
#: Sizes of the traced run's isolated probes: middleware calls answered
#: from the cache, popular symbols scanned alone, and repeats per operator.
CACHE_PROBE_CALLS = 2000
SCAN_PROBE_SYMBOLS = 7
OPERATOR_REPEATS = 3


def day_bounds(day: int) -> tuple[dt.datetime, dt.datetime]:
    start = dt.datetime.fromtimestamp(gen.DAY0_US // 1_000_000,
                                      dt.timezone.utc).replace(hour=0, minute=0)
    start += dt.timedelta(days=day)
    return start, start + dt.timedelta(days=1)


def make_requests(rng: np.random.Generator, market: gen.Market,
                  n: int) -> list[dict]:
    """``n`` requests, whole blocks of MIX in the traffic shape's shuffled
    order; symbols (Zipf), days and batches from ``rng``."""
    shape = np.random.default_rng(SHAPE_SEED)
    kinds = []
    while len(kinds) < n:
        block = [k for k, c in MIX.items() for _ in range(c)]
        kinds.extend(block[i] for i in shape.permutation(len(block)))
    kinds = kinds[:n]
    pop = gen.zipf_weights(len(market.by_popularity))
    reqs = []
    for kind in kinds:
        sym = market.by_popularity[rng.choice(len(pop), p=pop)]
        req = {"kind": kind, "symbol": sym}
        if kind in ("h1h", "h5m"):
            req["day"] = int(rng.integers(0, gen.DAYS))
        if kind == "quotes":
            k = int(rng.integers(5, 21))
            idx = rng.choice(len(pop), size=k, replace=False, p=pop)
            req["symbols"] = [market.by_popularity[i] for i in idx]
        reqs.append(req)
    return reqs


class Mounted:
    """The catalog one set-up round mounted, with handles on the REST
    provider's parts so the traced run can observe them."""

    def __init__(self, spark, market: gen.Market, tracer):
        from borsa_spark.middleware import MiddlewareStack, QuotaGuard, TTLCache
        from borsa_spark.sources import FakeTransport, RestAdapter, rest_source
        from borsa_spark.sources.provider import Catalog, Source

        self.spark = spark
        self.transport = FakeTransport({
            (REST_URL + "/v1/quote", (("symbols", page),)): (200, {}, body)
            for page, body in market.live_responses.items()
        })
        self.cache = TTLCache()
        self.stack = MiddlewareStack(
            cache=self.cache, quota=QuotaGuard(QUOTA_LIMIT, window_s=3600.0),
            connector=gen.LIVE_PROVIDER)
        self.adapter = RestAdapter(gen.LIVE_PROVIDER, REST_URL, self.transport,
                                   middleware=self.stack, page_size=gen.LIVE_PAGE,
                                   endpoints={"quote": "/v1/quote"})
        if tracer.enabled:
            _trace_rest(self, tracer)
        self.catalog = Catalog()
        self.catalog.register(rest_source(spark, self.adapter, market.live_symbols))
        for name in gen.HISTORY_PROVIDERS:
            tables = {"history": lambda d=market.history_dirs[name]:
                      spark.read.parquet(d)}
            if name in market.quote_paths:
                tables["quote"] = lambda p=market.quote_paths[name]: \
                    spark.read.parquet(p)
            self.catalog.register(Source(name=name, history_intervals=("1m",),
                                         tables=tables))


def _trace_rest(m: Mounted, tracer) -> None:
    """Spans around the REST fetch, the middleware call and the transport."""
    fetch, call, get = m.adapter.fetch_quotes, m.stack.call, m.transport.get

    def fetch_quotes(symbols):
        with tracer.span("sources.rest_fetch"):
            return fetch(symbols)

    def stack_call(key, fn):
        with tracer.span("middleware.call"):
            return call(key, fn)

    def transport_get(url, params):
        tracer.count("transport_calls")
        with tracer.span("sources.transport"):
            return get(url, params)

    m.adapter.fetch_quotes = fetch_quotes
    m.stack.call = stack_call
    m.transport.get = transport_get


def execute(m: Mounted, req: dict, tracer, rid: int | None = None):
    """Perform one request; returns what the client receives."""
    from borsa_spark import router
    from borsa_spark.router import HistoryRequest

    kind = req["kind"]
    with tracer.span("router.build", rid):
        if kind in INTERVAL:
            start = end = None
            if "day" in req:
                start, end = day_bounds(req["day"])
            built = [router.history(
                m.spark, m.catalog,
                HistoryRequest(symbol=req["symbol"], interval=INTERVAL[kind],
                               start=start, end=end)).candles]
        elif kind == "quote":
            built = [router.quote(m.spark, m.catalog, req["symbol"])]
        else:
            built = list(router.quotes(m.spark, m.catalog, req["symbols"]))
    with tracer.span("router.exec", rid):
        return [df.toPandas() for df in built]


def check(req: dict, out: list[pd.DataFrame], history: oracle.HistoryIndex,
          quotes: dict) -> bool:
    kind = req["kind"]
    if kind in INTERVAL:
        lo = hi = None
        if "day" in req:
            s, e = day_bounds(req["day"])
            lo, hi = int(s.timestamp() * 1e6), int(e.timestamp() * 1e6)
        want = history.slice(req["symbol"], INTERVAL[kind], lo, hi)
        return oracle.same_rows(oracle.normalize_candles(out[0]), want,
                                oracle.CANDLE_COLS)
    syms = [req["symbol"]] if kind == "quote" else req["symbols"]
    got = {(r.symbol, r.provider, float(r.price))
           for r in out[0].itertuples()}
    want = {(s, *quotes[s]) for s in syms}
    if kind == "quotes" and len(out[1]):
        return False  # every requested symbol is quoted by some provider
    return got == want and len(out[0]) == len(syms)


def warm_up(m: Mounted, market: gen.Market, tracer) -> None:
    """WARM_ROUNDS requests of every kind, on symbols outside the popular
    set, served by WORKERS threads as the measured load is."""
    from concurrent.futures import ThreadPoolExecutor

    tail = market.by_popularity[-40:]
    reqs = []
    for r in range(WARM_ROUNDS):
        for i, kind in enumerate(MIX):
            req = {"kind": kind, "symbol": tail[r * BLOCK + i],
                   "symbols": tail[20 + r * BLOCK:20 + (r + 1) * BLOCK]}
            if kind in ("h1h", "h5m"):
                req["day"] = r % gen.DAYS
            reqs.append(req)
    with ThreadPoolExecutor(WORKERS) as pool:
        for f in [pool.submit(execute, m, r, tracer) for r in reqs]:
            f.result()


def window(m: Mounted, reqs: list[dict], schedule: list[float], tracer,
           jobs: JobCounter | None):
    counts = {}

    def handle(i: int):
        with tracer.span("request", i):
            if jobs is not None:
                jobs.begin(f"r{i}")
            out = execute(m, reqs[i], tracer, i)
        if jobs is not None:
            counts[i] = jobs.count(f"r{i}")
        return out

    return run_open_loop(schedule, handle, WORKERS), counts


def run(ctx: Ctx) -> Outcome:
    from borsa_spark.errors import QuotaExceeded

    data = os.path.join(ctx.work, "data")
    market = gen.make_market(ctx.seed, os.path.join(data, "market"))
    rng = np.random.default_rng([ctx.seed, 3])
    n = BLOCK * max(round(RATE_PER_S * ctx.seconds / BLOCK), 2)
    reqs = make_requests(rng, market, n)
    schedule = poisson_schedule(np.random.default_rng([SHAPE_SEED, n]),
                                RATE_PER_S, n)
    reset_peak_rss()

    null_tracer = type(ctx.tracer)(False)
    m, setup = set_up(
        ctx.host,
        mount=lambda spark: Mounted(spark, market, null_tracer),
        warm_up=lambda mounted: warm_up(mounted, market, null_tracer))

    cpu = CpuWindow(ctx.host)
    cpu.start()
    records, _ = window(m, reqs, schedule, null_tracer, None)
    cpu_ms = cpu.per_op_ms(len(records))
    rss = peak_rss_mb(ctx.host)
    summary = summarize(records, WORKERS)
    layers: dict[str, float] = {}
    if ctx.trace:
        layers.update(traced_pass(ctx, market, reqs, schedule, summary))

    con = oracle.connect()
    history = oracle.HistoryIndex(
        con, market, list(INTERVAL.values()),
        sorted({r["symbol"] for r in reqs if r["kind"] in INTERVAL}))
    quotes = oracle.quote_reference(con, market)
    wrong = sum(1 for r in records
                if r.error is None and not check(reqs[r.index], r.result,
                                                 history, quotes))
    lines = [f"request {r.index} {reqs[r.index]['kind']} failed: "
             f"{type(r.error).__name__}: {r.error}"
             for r in records if r.error is not None]
    lat = summary.latency_ms
    layers.update({
        "middleware.quota_rejects": sum(
            1 for r in records if isinstance(r.error, QuotaExceeded)),
        "session.start_s": setup.session_s,
        "sources.mount_s": setup.mount_s,
        "setup.warmup_s": setup.warmup_s,
        "load.latency_p50_ms": lat.p50,
        "load.latency_p90_ms": lat.p90,
        "load.capacity_per_s": summary.capacity_per_s,
        "load.queue_wait_ms": summary.queue_wait_ms,
        "load.backlog_max": summary.backlog_max,
        "load.gen_lag_ms": summary.gen_lag_ms_max,
        **cpu_layers(cpu_ms),
    })
    lines += [
        setup.line(),
        lat.line("request latency from scheduled send", "ms"),
        f"offered rate {RATE_PER_S}/s, {n} requests, mix {MIX} per {BLOCK}",
        "latency by kind (ms, in send order): " + "; ".join(
            f"{k} " + ",".join(f"{r.latency * 1000:.0f}" for r in records
                               if reqs[r.index]["kind"] == k) for k in MIX),
        f"service capacity {summary.capacity_per_s:.3f} requests/s on "
        f"{WORKERS} threads; generator lag p50={summary.gen_lag_ms_p50:.2f} ms "
        f"max={summary.gen_lag_ms_max:.2f} ms",
        cpu_line(cpu_ms, "request"),
        f"inputs: {market.history_rows} 1m bars, checksum {market.checksum}",
    ]
    return Outcome(
        attempted=summary.attempted, failed=summary.failed, wrong=wrong,
        e2e={
            "setup_s": setup.total_s,
            "scaled_cpu_ms_per_op": cpu_ms["scaled"],
            "peak_rss_mb": rss,
        },
        layers=layers, lines=lines)


def traced_pass(ctx: Ctx, market: gen.Market, reqs, schedule,
                before) -> dict[str, float]:
    """Run the same requests again with spans, job counts and the REST
    and middleware observers on, then once more untraced, then isolated
    probes of the middleware, the scans and the history operators.

    The traced window lies between the run's untraced window (``before``)
    and the second untraced one, each on a freshly mounted catalog, so
    each starts with an empty middleware cache (the warm-up asks for no
    symbol the cached REST provider serves). ``trace.overhead_ms`` is its
    p50 minus the mean p50 of the two, so a JVM that gets faster over the
    run does not show as a negative overhead."""
    tracer = ctx.tracer
    null = type(tracer)(False)
    with trace_planning(tracer):
        m = Mounted(ctx.host.spark, market, tracer)
        records, counts = window(m, reqs, schedule, tracer,
                                 JobCounter(m.spark))
    traced = summarize(records, WORKERS)
    hits, misses = m.cache.hits, m.cache.misses
    after, _ = window(Mounted(ctx.host.spark, market, null), reqs,
                      schedule, null, None)
    untraced_p50 = (before.latency_ms.p50
                    + summarize(after, WORKERS).latency_ms.p50) / 2
    quote_reqs = sum(1 for r in reqs if r["kind"] in ("quote", "quotes"))
    n = len(records)

    def med_ms(name):
        d = tracer.durations(name)
        return median(d) * 1000 if d else 0.0

    plan = tracer.durations("plans.plan")
    out = {
        "trace.overhead_ms": traced.latency_ms.p50 - untraced_p50,
        "router.build_ms": med_ms("router.build"),
        "router.exec_ms": med_ms("router.exec"),
        "router.jobs_per_req": sum(c[0] for c in counts.values()) / n,
        "router.stages_per_req": sum(c[1] for c in counts.values()) / n,
        "router.tasks_per_req": sum(c[2] for c in counts.values()) / n,
        "plans.plan_us": (sum(plan) / len(plan) * 1e6) if plan else 0.0,
        "sources.rest_fetch_ms": med_ms("sources.rest_fetch"),
        "sources.transport_calls_per_req":
            tracer.counts.get("transport_calls", 0) / max(quote_reqs, 1),
        "middleware.hits": hits,
        "middleware.misses": misses,
        "middleware.hit_ratio": hits / max(hits + misses, 1),
    }
    out.update(self_time_layers(tracer, n))
    tracer.dump(os.path.join(ctx.work, "..", "traces",
                             f"point_requests-{ctx.seed}.json"))
    out["middleware.call_us"] = _cache_hit_us(m)
    out["sources.scan_ms"] = _scan_ms(m.spark, market)
    out["sources.scan_rows_per_s"] = _scan_rows_per_s(m.spark, market)
    out.update(_operator_probe(m.spark, market))
    return out


def _cache_hit_us(m: Mounted) -> float:
    """Cost of one middleware call answered from the cache."""
    key = ("quote", "probe")
    m.stack.call(key, lambda: {"quotes": []})
    t0 = time.perf_counter()
    for _ in range(CACHE_PROBE_CALLS):
        m.stack.call(key, lambda: {"quotes": []})
    return (time.perf_counter() - t0) / CACHE_PROBE_CALLS * 1e6


def _scan_ms(spark, market: gen.Market) -> float:
    """One provider's symbol-pushed-down history scan, materialised alone."""
    from pyspark.sql import functions as F

    d = market.history_dirs[gen.HISTORY_PROVIDERS[0]]
    times = []
    for sym in market.by_popularity[:SCAN_PROBE_SYMBOLS]:
        t0 = time.perf_counter()
        spark.read.parquet(d).filter(F.col("symbol") == sym).toPandas()
        times.append(time.perf_counter() - t0)
    return median(times) * 1000


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _scan_rows_per_s(spark, market: gen.Market) -> float:
    """Full scans of every provider's history, all columns materialised."""
    secs = sum(_noop(spark.read.parquet(d)) for d in market.history_dirs.values())
    return market.history_rows / secs


def _operator_probe(spark, market: gen.Market) -> dict:
    """Each history operator timed alone over a cached input: the union of
    every provider's bars with its priority, as a download of the first
    quarter of the symbol universe feeds it, then each operator's output
    cached for the next one. Caching the whole universe took about 45 s,
    too long for a run that must end within 180 s."""
    from functools import reduce

    from pyspark.sql import functions as F

    from borsa_spark.operators.attribution import build_attribution
    from borsa_spark.operators.merge import merge_candles, merged_series_flags
    from borsa_spark.operators.resample import resample

    cut = gen.symbol_names(gen.N_SYMBOLS)[gen.N_SYMBOLS // 4]
    union = reduce(lambda a, b: a.unionByName(b), [
        spark.read.parquet(market.history_dirs[p])
        .filter(F.col("symbol") < cut)
        .withColumn("provider", F.lit(p)).withColumn("priority", F.lit(i))
        for i, p in enumerate(gen.HISTORY_PROVIDERS)
    ]).cache()
    union.count()
    keys = ["priority", "provider", "symbol"]
    bars = resample(union, "minutes", 60, keys=keys).cache()
    bars.count()
    merged = merge_candles(bars).cache()
    merged.count()
    try:
        return {
            "operators.resample_ms": median(
                [_noop(resample(union, "minutes", 60, keys=keys))
                 for _ in range(OPERATOR_REPEATS)]) * 1000,
            "operators.merge_ms": median(
                [_noop(merge_candles(bars)) for _ in range(OPERATOR_REPEATS)]) * 1000,
            "operators.attribution_ms": median(
                [_noop(build_attribution(merged)) for _ in range(OPERATOR_REPEATS)]) * 1000,
            "operators.flags_ms": median(
                [_noop(merged_series_flags(merged, bars))
                 for _ in range(OPERATOR_REPEATS)]) * 1000,
        }
    finally:
        for df in (merged, bars, union):
            df.unpersist()


def calibrate(ctx: Ctx) -> float:
    """Closed-loop capacity of this mix: ``WORKERS`` threads each sending
    the next request as soon as the previous one returns, for
    ``ctx.seconds``. Returns completed requests per second."""
    from concurrent.futures import ThreadPoolExecutor

    market = gen.make_market(ctx.seed, os.path.join(ctx.work, "data", "market"))
    rng = np.random.default_rng([ctx.seed, 3])
    reqs = make_requests(rng, market, 10_000)
    null = type(ctx.tracer)(False)
    m, _ = set_up(ctx.host, lambda s: Mounted(s, market, null),
                  lambda mm: warm_up(mm, market, null))
    for r in reqs[:20]:
        execute(m, r, null)
    it = iter(reqs[20:])
    stop = time.perf_counter() + ctx.seconds
    done = []

    def client():
        while time.perf_counter() < stop:
            execute(m, next(it), null)
            done.append(1)

    t0 = time.perf_counter()
    with ThreadPoolExecutor(WORKERS) as pool:
        for f in [pool.submit(client) for _ in range(WORKERS)]:
            f.result()
    return len(done) / (time.perf_counter() - t0)
