"""Provider source abstraction + the catalog (planner input).

The reference's extensibility point is the connector trait family
(borsa-core/src/connector.rs:25-306: 25 capability traits discovered via
``as_*_provider`` accessors). Our Spark-native analog: a ``Source`` exposes
one DataFrame per capability; the ``Catalog`` is the ordered registry the
planner filters (kind support, capability, routing policy) to decide which
scans enter the generated DataFrame program.

A capability method returns a DataFrame in the canonical schema for that
capability (schemas.py). For live systems a Source would wrap a DataSourceV2
/ JDBC / Kafka reader; for the correctness gate, ``FixtureSource`` wraps
parquet-backed DataFrames — same planner, same pipeline, different scan.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from borsa_spark.errors import NotFoundError, UnsupportedError
from borsa_spark.plans.routing_policy import RoutingContext, RoutingPolicy

ALL_KINDS = frozenset(
    {"EQUITY", "ETF", "INDEX", "CRYPTO", "FUTURE", "FOREX", "FUND"}
)


@dataclass
class Source:
    """A provider: capability DataFrames + metadata the planner reads.

    ``tables`` maps capability -> a zero-arg DataFrame factory (or a constant
    DataFrame). The per-capability scan templates in the router add the
    symbol/interval/date predicates — those reach the parquet scan as pushed
    filters because the factory returns an untouched declarative scan.

    A factory whose result is a batch relation over files (for example
    ``lambda: spark.read.parquet(dir)``) runs once: the resolved relation is
    kept and reused, so a request does not list the directory and read the
    parquet footers again. The kept relation belongs to the factory object
    it came from; putting a new factory in ``tables`` replaces it. Every
    other factory runs on every call — REST tables behind the middleware,
    streaming feeds and in-memory frames — so the cache, quota and blacklist
    see every router call. A directory that grows needs ``refresh()`` before
    its new files become visible.
    """

    name: str
    kinds: frozenset[str] = field(default_factory=lambda: ALL_KINDS)
    history_intervals: tuple[str, ...] = ()
    tables: dict[str, DataFrame | Callable[[], DataFrame]] = field(
        default_factory=dict
    )
    # capability -> (factory, its tagged relation, or None for a factory
    # that runs on every call)
    _resolved: dict[str, tuple[Callable[[], DataFrame], DataFrame | None]] = (
        field(default_factory=dict, init=False, repr=False, compare=False)
    )
    _resolve_lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    def capabilities(self) -> set[str]:
        return set(self.tables)

    def supports_kind(self, kind: str | None) -> bool:
        return kind is None or kind in self.kinds

    def supports(self, capability: str) -> bool:
        return capability in self.tables

    def table(self, capability: str) -> DataFrame:
        t = self.tables.get(capability)
        if t is None:
            raise UnsupportedError(capability, connector=self.name)
        if not callable(t):
            return self._tag(t)
        hit = self._resolved.get(capability)
        if hit is None or hit[0] is not t:
            with self._resolve_lock:
                hit = self._resolved.get(capability)
                if hit is None or hit[0] is not t:
                    # First call of this factory: its result decides
                    # whether later calls reuse it or call it again.
                    df = self._tag(t())
                    files = not df.isStreaming and df.inputFiles()
                    self._resolved[capability] = (t, df if files else None)
                    return df
        return hit[1] if hit[1] is not None else self._tag(t())

    def refresh(self) -> None:
        """Drop the resolved file relations, so the next call of each
        factory lists its files again (new files become visible)."""
        with self._resolve_lock:
            self._resolved.clear()

    def _tag(self, df: DataFrame) -> DataFrame:
        # Every capability row is provider-tagged so downstream merge /
        # attribution / blame logic can run without re-deriving lineage.
        if "provider" not in df.columns:
            df = df.withColumn("provider", F.lit(self.name))
        return df


@dataclass
class Catalog:
    """Ordered provider registry + routing policy evaluation (R1-R2, P1-P2).

    Registration order is the final tie-break in provider priority
    (borsa/src/core.rs:407-425 ordered_for_context).
    """

    sources: list[Source] = field(default_factory=list)
    policy: RoutingPolicy = field(default_factory=RoutingPolicy)

    def register(self, source: Source) -> Catalog:
        if any(s.name == source.name for s in self.sources):
            raise ValueError(f"duplicate source {source.name!r}")
        self.sources.append(source)
        return self

    def get(self, name: str) -> Source:
        for s in self.sources:
            if s.name == name:
                return s
        raise NotFoundError(f"source {name!r}")

    def validate_policy(self) -> None:
        """Reject policies naming unknown connectors (core.rs:190-215)."""
        known = {s.name for s in self.sources}
        unknown = self.policy.providers.normalize_and_collect_unknown(known)
        if unknown:
            details = "; ".join(
                f"{sel}: {names}" for sel, names in unknown
            )
            raise UnsupportedError(f"policy references unknown connectors: {details}")

    def ordered_for_context(self, ctx: RoutingContext) -> list[tuple[int, Source]]:
        """All policy-eligible sources ordered by (policy rank, registration
        idx); strict-excluded sources are dropped. Returns (order_idx, source)
        pairs — order_idx is the merge priority."""
        keyed = []
        for reg_idx, s in enumerate(self.sources):
            r = self.policy.providers.provider_rank(ctx, s.name)
            if r is None:
                continue  # excluded by a strict rule
            keyed.append(((r[0], reg_idx), s))
        keyed.sort(key=lambda kv: kv[0])
        return [(i, s) for i, (_, s) in enumerate(keyed)]

    def eligible(
        self, ctx: RoutingContext, capability: str
    ) -> list[tuple[int, Source]]:
        """P1+P2: kind-support and capability filters over the ordered list
        (borsa/src/router/history.rs:388-403, macros.rs:45-48)."""
        out = [
            (idx, s)
            for idx, s in self.ordered_for_context(ctx)
            if s.supports_kind(ctx.kind) and s.supports(capability)
        ]
        return out


def _local_frame(
    spark: SparkSession, rows: list[tuple], schema: str
) -> DataFrame:
    """Driver-side rows as a ``LocalRelation``: pandas to Arrow to the JVM,
    so no Python worker runs when the frame is used (a list given to
    ``createDataFrame`` goes through a pickled Python RDD instead).
    ``schema`` is a flat DDL string; missing values become nulls, and an
    empty ``rows`` gives an empty frame of that schema."""
    import pandas as pd
    import pyarrow as pa

    cols = [c.split()[0] for c in schema.split(",")]
    pdf = pd.DataFrame.from_records(rows, columns=cols)
    return spark.createDataFrame(
        pa.Table.from_pandas(pdf, preserve_index=False), schema
    )


def catalog_df(spark, catalog: Catalog):
    """S2: the provider capability/interval registry as a DataFrame
    (schemas.SOURCE_CATALOG) — the queryable form of the planner's metadata
    (`provider_intervals(provider, kind, interval)` in SURVEY §2.1), e.g.
    for joining eligibility into data-side reports."""
    from borsa_spark import schemas

    rows = [
        (
            s.name,
            i,
            sorted(s.kinds),
            sorted(s.capabilities()),
            list(s.history_intervals),
        )
        for i, s in enumerate(catalog.sources)
    ]
    return spark.createDataFrame(rows, schema=schemas.SOURCE_CATALOG)


def fixture_source(
    name: str,
    kinds: frozenset[str] | None = None,
    history_intervals: tuple[str, ...] = ("1d",),
    **tables: DataFrame,
) -> Source:
    """Convenience constructor for test/fixture providers."""
    return Source(
        name=name,
        kinds=kinds if kinds is not None else ALL_KINDS,
        history_intervals=history_intervals,
        tables=dict(tables),
    )
