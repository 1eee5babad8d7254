"""Distributed PCA / whitening for the embedding pipeline.

The classic two-phase shape (the public Spark MLlib RowMatrix design —
computePrincipalComponents aggregates a Gram matrix and eigensolves on
the driver; reimplemented here DataFrame-first with no mllib
dependency): the DATA-sized work is one pass computing the d×d second
+ first moments (d = embedding width, 64 here — thousands at most in
practice), the d×d eigendecomposition is bounded driver math (numpy
`eigh` on a symmetric matrix), and projection/whitening are in-row
column expressions over broadcast components. Dimension reduction and
whitening are standard preprocessing for the ANN / SemDeDup family
(functions/similarity.py) — distances in the whitened space are
Mahalanobis distances in the original.

Two plan shapes for the moment pass, agreeing at the 8dp snap:

- `embedding_covariance` (the DuckDB-oracle-matched reference): ONE
  posexplode per vector over the concatenation of its in-row outer
  product and its raw elements — products and mean sums ride the SAME
  exchange (d²+d grouping keys regardless of corpus size; the two
  consumers of the aggregate reuse it, so the corpus is scanned once).
- `embedding_covariance_fast` (the 100 TB path): per-partition numpy
  ``X^T X`` / column-sum / count partials via Arrow `mapInPandas`
  (BLAS does the d² work in-core), one d²+d+1-key agg of partials —
  measured 10x faster at the 200k-vector tier.

Null embeddings, and vectors containing a null or NaN element, are
SKIPPED by both paths and the oracle (shared `_usable` filter; the
fast path drops NaN rows after stacking). Accumulation is
cast to double BEFORE multiplication so engines sum in float64 (the
oracle rounds to 8dp; float32 products would diverge far coarser).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _moment_expr(col: str) -> str:
    """The per-row moment array: d² outer products followed by the d
    raw elements — one posexplode carries both the Gram sums and the
    mean sums through a single exchange."""
    return (
        f"concat("
        f"flatten(transform({col}, x -> transform({col}, y ->"
        f" cast(x as double) * cast(y as double)))),"
        f" transform({col}, x -> cast(x as double)))"
    )


def _usable(col: str):
    """Row filter shared by both moment paths: a vector participates
    only if it is non-null AND has no null/NaN element — a null
    element would skew the explode path's sums (sum skips null, count
    doesn't), and either poisons the fast path's Gram matrix with NaN;
    skipping the row keeps the two paths (and the oracle) in exact
    agreement."""
    return F.col(col).isNotNull() & ~F.expr(
        f"exists({col}, x -> x is null or isnan(x))"
    )


def _moment_agg(embs: DataFrame, col: str = "embedding") -> DataFrame:
    """(d, pos, s, n): summed moment cells. pos < d*d is Gram cell
    (i = pos div d, j = pos mod d); pos >= d*d is element k = pos - d*d
    (mean = s/n). One corpus scan, d²+d grouping keys."""
    return (
        embs.filter(_usable(col))
        .select(
            F.size(F.col(col)).alias("__d"),
            F.posexplode(F.expr(_moment_expr(col))).alias("pos", "val"),
        )
        .groupBy("__d", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
    )


def embedding_covariance(
    embs: DataFrame, col: str = "embedding"
) -> DataFrame:
    """The d×d population covariance as (i, j, cov) rows, cov rounded
    to 8dp: cov_ij = E[x_i x_j] − E[x_i]E[x_j]. Products and means
    come out of ONE moment aggregation; the d²+d-row aggregate is
    localCheckpointed before the two consumers split, because Catalyst
    otherwise pushes each consumer's pos-filter BELOW the aggregation
    (pos is a grouping key) and the now-different subtrees each
    re-scan and re-explode the corpus — checkpointing the tiny
    aggregate is what actually makes this one pass."""
    agg = _moment_agg(embs, col).localCheckpoint(eager=False)
    dd = F.col("__d") * F.col("__d")
    prods = agg.filter(F.col("pos") < dd).select(
        (F.col("pos") / F.col("__d")).cast("long").alias("i"),
        (F.col("pos") % F.col("__d")).alias("j"),
        F.col("s"),
        F.col("n"),
    )
    means = agg.filter(F.col("pos") >= dd).select(
        (F.col("pos") - dd).alias("k"), (F.col("s") / F.col("n")).alias("m")
    )
    mi = means.select(F.col("k").alias("i"), F.col("m").alias("mi"))
    mj = means.select(F.col("k").alias("j"), F.col("m").alias("mj"))
    return (
        prods.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            F.round(
                F.col("s") / F.col("n") - F.col("mi") * F.col("mj"), 8
            ).alias("cov"),
        )
    )


def sql_embedding_covariance(table: str = "embeddings") -> str:
    """DuckDB oracle: the same sums/means/combination."""
    return f"""
    WITH x AS (
      SELECT vec_id, u.i - 1 AS k, CAST(e[u.i] AS DOUBLE) AS v
      FROM (SELECT vec_id, embedding AS e FROM {table}
            WHERE embedding IS NOT NULL
              AND len(list_filter(embedding,
                    y -> y IS NULL OR isnan(y))) = 0)
           , unnest(range(1, len(e) + 1)) AS u(i)),
    s AS (
      SELECT a.k AS i, b.k AS j, sum(a.v * b.v) AS s, count(*) AS n
      FROM x a JOIN x b USING (vec_id)
      GROUP BY 1, 2),
    m AS (SELECT k, sum(v) / count(*) AS m FROM x GROUP BY k)
    SELECT s.i::BIGINT AS i, s.j::BIGINT AS j,
           round(s.s / s.n - mi.m * mj.m, 8) AS cov
    FROM s JOIN m mi ON mi.k = s.i JOIN m mj ON mj.k = s.j
    """


def _fast_agg(embs: DataFrame, col: str = "embedding") -> DataFrame:
    """(kind, pos, v): per-partition numpy Gram ('g'), column-sum
    ('m') and count ('n') partials, summed in one d²+d+1-key agg."""
    import numpy as np
    import pandas as pd

    def part(batches):
        gram = None
        sums = None
        n = 0
        for pdf in batches:
            pdf = pdf[pdf[col].notna()]
            if not len(pdf):
                continue
            X = np.stack(pdf[col].to_numpy()).astype(np.float64)
            X = X[~np.isnan(X).any(axis=1)]  # null elements: skip row
            if not len(X):
                continue
            if gram is None:
                gram = X.T @ X
                sums = X.sum(axis=0)
            else:
                gram += X.T @ X
                sums += X.sum(axis=0)
            n += len(X)
        if n == 0:
            return
        d = gram.shape[0]
        yield pd.DataFrame(
            {
                "kind": ["g"] * (d * d) + ["m"] * d + ["n"],
                "pos": np.concatenate(
                    [np.arange(d * d), np.arange(d), [0]]
                ),
                "val": np.concatenate([gram.ravel(), sums, [float(n)]]),
            }
        )

    # the Gram partials are heavy per-partition numpy work — a narrow
    # (single-row-group) input would compute X^T X in ONE task; widen
    # to session parallelism first (round 13; no-op on a multi-file
    # table, so the 100 TB plan is untouched). Partial-sum ORDER
    # changes with partitioning, but both paths round to 8dp and the
    # final d²+d+1-key agg is order-insensitive at that snap (pinned
    # equal to the explode path in tests/test_pca.py).
    from borsa_spark.functions.dedup import widen_if_narrow

    return (
        widen_if_narrow(embs)
        .mapInPandas(part, "kind string, pos long, val double")
        .groupBy("kind", "pos")
        .agg(F.sum("val").alias("v"))
    )


def _assemble(rows, fast: bool):
    """Driver-side (cov matrix, mean vector, n) from collected moment
    rows — bounded d²+d+1 data either way."""
    import numpy as np

    if fast:
        n = sum(r.v for r in rows if r.kind == "n")
        if n == 0:
            raise ValueError("PCA fit on an empty corpus (no embeddings)")
        g = {r.pos: r.v for r in rows if r.kind == "g"}
        s = {r.pos: r.v for r in rows if r.kind == "m"}
        d = len(s)
        gram = np.array([g[p] for p in range(d * d)]).reshape(d, d)
        sums = np.array([s[p] for p in range(d)])
    else:
        if not rows:
            raise ValueError("PCA fit on an empty corpus (no embeddings)")
        widths = sorted({r["__d"] for r in rows})
        if len(widths) > 1:
            # pos keys are only unique within one width; mixed-dimension
            # corpora would silently overwrite colliding keys and yield
            # a wrong covariance (ADVICE r7) — refuse loudly instead.
            raise ValueError(
                f"PCA fit on mixed embedding dimensions {widths}; "
                "filter the corpus to one width first"
            )
        d = rows[0]["__d"]  # Row.__getattr__ rejects dunder-ish names
        n = rows[0]["n"]
        g = {r["pos"]: r["s"] for r in rows if r["pos"] < d * d}
        s = {r["pos"] - d * d: r["s"] for r in rows if r["pos"] >= d * d}
        gram = np.array([g[p] for p in range(d * d)]).reshape(d, d)
        sums = np.array([s[p] for p in range(d)])
    mean = sums / n
    cov = gram / n - np.outer(mean, mean)
    return cov, mean, n


def embedding_covariance_fast(
    embs: DataFrame, col: str = "embedding", checkpoint: bool = True
) -> DataFrame:
    """The scale path for the same (i, j, cov) relation — see the
    module docstring. Bit-comparable to `embedding_covariance` at the
    8dp snap (same float64 accumulation, order differences below the
    round).

    The d²+d+1-row aggregate is localCheckpointed before its five
    consumers (g / d_rel / n_rel / mi / mj) split off, for the same
    reason as the explode path: `kind` is a grouping key, so Catalyst
    pushes each consumer's kind-filter BELOW the aggregation, the
    subtrees diverge, and the corpus is scanned + Gram-computed once
    PER CONSUMER (round 13's after-plan showed 5 MapInPandas subtrees,
    0 reused). Checkpointing the tiny aggregate pins it to one
    computation — one corpus scan — which is the shape that matters at
    100 TB. ``checkpoint=False`` restores the round-13 shape — kept
    only so the A/B toggle can time both arms in one process."""
    agg = _fast_agg(embs, col)
    if checkpoint:
        agg = agg.localCheckpoint(eager=False)
    n_rel = agg.filter(F.col("kind") == "n").select(
        F.col("v").alias("n_total")
    )
    m_rel = agg.filter(F.col("kind") == "m").select(
        F.col("pos").alias("k"), F.col("v").alias("s")
    )
    d_rel = m_rel.groupBy().agg(F.count("*").alias("d"))
    g = (
        agg.filter(F.col("kind") == "g")
        .crossJoin(F.broadcast(d_rel))
        .crossJoin(F.broadcast(n_rel))
        .select(
            (F.col("pos") / F.col("d")).cast("long").alias("i"),
            # int, matching the explode path's posexplode-derived j so
            # the two paths emit the SAME schema (f82 switches between
            # them freely)
            (F.col("pos") % F.col("d")).cast("int").alias("j"),
            F.col("v"),
            F.col("n_total"),
        )
    )
    mi = m_rel.select(F.col("k").alias("i"), F.col("s").alias("si"))
    mj = m_rel.select(F.col("k").alias("j"), F.col("s").alias("sj"))
    return (
        g.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            F.round(
                F.col("v") / F.col("n_total")
                - (F.col("si") / F.col("n_total"))
                * (F.col("sj") / F.col("n_total")),
                8,
            ).alias("cov"),
        )
    )


def pca_fit(
    embs: DataFrame, k: int, col: str = "embedding", fast: bool = False
) -> dict:
    """Fit PCA on the corpus: returns {mean, components, variances}
    as plain Python lists (bounded d / k×d / k driver data — the
    n_probe-centroids convention). ONE action over ONE corpus scan:
    the moment aggregation (JVM explode or Arrow/numpy per ``fast``)
    is collected raw (d²+d+1 rows) and covariance/mean assemble on the
    driver. Components are rows of V^T for the top-k eigenvalues, each
    sign-normalized so its largest-magnitude coordinate is positive
    (eigh's sign is otherwise arbitrary and would break determinism).
    Raises ValueError on an empty corpus."""
    import numpy as np

    rows = (_fast_agg if fast else _moment_agg)(embs, col).collect()
    cov, mean, _ = _assemble(rows, fast)
    vals, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(vals)[::-1][:k]
    comps, variances = [], []
    for idx in order:
        v = vecs[:, idx]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        comps.append([float(c) for c in v])
        variances.append(float(max(vals[idx], 0.0)))
    return {
        "mean": [float(m) for m in mean],
        "components": comps,
        "variances": variances,
    }


def pca_project(
    embs: DataFrame,
    model: dict,
    col: str = "embedding",
    id_col: str = "vec_id",
    whiten: bool = False,
    eps: float = 1e-9,
) -> DataFrame:
    """Project every embedding onto the fitted components — (id_col,
    proj: array<double>) with proj[c] = (x − mean)·comp_c, divided by
    sqrt(variance_c) when whitening. Pure in-row arithmetic over
    broadcast literals; the corpus is touched once and never shuffles."""
    import math

    coords = []
    for c, comp in enumerate(model["components"]):
        dot = F.aggregate(
            F.zip_with(
                F.expr(f"transform({col}, x -> cast(x as double))"),
                F.array(*[F.lit(w) for w in comp]),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        center = sum(m * w for m, w in zip(model["mean"], comp))
        coord = dot - F.lit(center)
        if whiten:
            coord = coord / F.lit(
                math.sqrt(model["variances"][c]) + eps
            )
        coords.append(coord)
    return embs.select(id_col, F.array(*coords).alias("proj"))
