"""Deduplication operators for large-scale training-data pipelines:
exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB):
- Exact dedup is a hash-groupBy on md5(text) — one shuffle keyed by digest,
  perfectly balanced.
- Jaccard/MinHash/SimHash all start from word shingles: explode -> narrow.
- The candidate-generation joins are *equi-joins on band/bucket keys* (LSH
  bands, simhash bytes), never O(n^2): each band join shuffles on the band
  key, and verification runs only on candidate pairs.
- Hashing is md5-based (bit-identical in every engine — portable to the
  DuckDB oracle) mapped into int64, then affine permutations mod a Mersenne
  prime. All arithmetic stays in int64 (a*x with x pre-reduced mod p keeps
  products < 2^62), exact in both engines. All JVM-side, no UDFs.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1; affine coefficients from a fixed LCG (seed 42,
#: constants from Numerical Recipes) so Spark and SQL use identical values.
MINHASH_P = 2_147_483_647
#: Banding: 12 bands x 5 rows (60 permutations). The S-curve knee sits at
#: (1/12)^(1/5) ≈ 0.61; recall in the real near-dup regime (jaccard ≥ 0.8)
#: is ≥ 99.2% and ≥ 1-4e-6 at 0.92, while the candidate rate for unrelated
#: docs (jaccard ≤ 0.2) stays ≈ 0.4% — the measured fix for the 3x4
#: scheme's ~2% miss rate at 0.92 (it dropped a 0.9167-jaccard pair at
#: sf0.1). Wider signatures cost 5x more min-aggregates at signature time
#: (map-side combined, cheap next to shingle hashing) and 4x more band
#: rows in the candidate join (still O(docs), not O(shingles)).
NUM_HASHES = 60
LSH_BANDS = 12
LSH_ROWS = 5  # NUM_HASHES = LSH_BANDS * LSH_ROWS


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin-widen a NARROW file-backed relation to the session's
    default parallelism before heavy scan-fused compute.

    A parquet file is only scan-parallel per row group; the local test
    inputs (and any compacted single-file table) carry ONE row group, so
    every scan-fused expression — shingle hashing, regex extraction,
    Arrow-batched Python — runs in a single task however many cores the
    session has (round-13 measurement: f8's whole wall was one core).
    The probe reads the *file list* (pure metadata, no job, no .rdd plan
    conversion); derived inputs (no leaf files) are left to AQE, and a
    properly multi-file table at cluster scale is untouched — the
    repartition only fires when files < max(2, parallelism/2), so the
    100 TB plan stays exchange-free. Explicit numPartitions means AQE
    will not coalesce the widen away.

    Two cluster-scale guards (round 14):

    - BYTES (r13 verdict #5): the file-count heuristic alone would
      round-robin a 900-file multi-TB table on a 2000-core cluster —
      a full-relation exchange before the scan-fused compute. If the
      relation's estimated size already yields >= parallelism scan
      splits at maxPartitionBytes (Spark splits large parquet files
      by byte range, so few-but-huge files still scan wide), the
      exchange buys nothing: skip it. The sub-row-group narrowness
      this helper exists for is strictly a SMALL-input problem.
    - STACKING (r13 ADVICE): inputFiles() sees through a repartition
      already on top, so composed use (caller widens, then calls a
      helper that widens internally) would stack two round-robin
      exchanges; short-circuit when the plan root is already this
      helper's own Repartition node.
    """
    sess = df.sparkSession
    parallelism = sess.sparkContext.defaultParallelism
    root = df._jdf.queryExecution().logical()
    if root.getClass().getSimpleName() == "Repartition":
        return df
    n_files = len(df.inputFiles())
    if not (0 < n_files < max(2, parallelism // 2)):
        return df
    try:
        raw = (
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # py4j maps scala.math.BigInt to a Python int for values that
        # fit; keep the toString fallback for the object form
        size_bytes = raw if isinstance(raw, int) else int(raw.toString())
        max_split = int(
            sess._jsparkSession.sessionState().conf()
            .filesMaxPartitionBytes()
        )
        if size_bytes > parallelism * max_split:
            return df
    except Exception:
        # private py4j surface — if it moves across Spark versions,
        # keep the (always-correct, sometimes-wasteful) widen rather
        # than breaking every caller
        pass
    return df.repartition(parallelism)


def has_min_words(text_col: str, n: int) -> Column:
    """CHEAP pushdown-friendly equivalent of ``size(shingles) > 0``:
    a document yields at least one n-word shingle iff it has >= n
    space-separated words. Filtering on the derived ``shingles`` column
    instead makes Catalyst push the WHOLE shingle-build expression into
    a Filter below the exchange — the full hash pipeline would run
    twice per row, once single-threaded (round-13 plan audit: f8's
    Filter node carried the entire transform+xxhash64 tree)."""
    return F.size(F.split(F.col(text_col), " ")) >= n


def _lcg_coefficients(n: int = NUM_HASHES, seed: int = 42) -> list[tuple[int, int]]:
    state = seed
    out = []
    for _ in range(n):
        state = (1_664_525 * state + 1_013_904_223) % (1 << 32)
        a = state % (MINHASH_P - 1) + 1
        state = (1_664_525 * state + 1_013_904_223) % (1 << 32)
        b = state % MINHASH_P
        out.append((a, b))
    return out


MINHASH_COEFFS = _lcg_coefficients()


def token_hash64(col: Column) -> Column:
    """Portable 60-bit integer hash of a string: int(md5[:15], 16).

    md5 is bit-identical across engines; 15 hex chars keep the value under
    2^60 (fits int64 in both). SQL equivalent:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``.

    Fast path: set ``BORSA_SPARK_SHINGLE_HASH=xxhash64`` to hash with
    Spark's native xxhash64 instead — ~3-4x cheaper per shingle at scan
    time, the production default on a real cluster. Not oracle-portable
    (DuckDB has no xxhash64), so the correctness gate runs with the md5
    default; everything downstream (minhash, simhash, jaccard) only needs
    hash *equality*, so the two modes differ solely in LSH bucket
    assignment, never in verified-pair semantics. xxhash64 values span the
    full signed int64 range; minhash pre-reduces t = shingle % p before
    the affine step, so |a*t| < 2^62 still holds in either mode.
    """
    if os.environ.get("BORSA_SPARK_SHINGLE_HASH", "md5") == "xxhash64":
        return F.xxhash64(col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_token_hash64(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def exact_dedup_map(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct text with the canonical (min) id.

    (text_hash, canonical_id, n_copies). Keep-first semantics mirror the
    reference's first-wins identity dedup (merge.rs dedup_actions shape).
    """
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("n_copies"),
    )


def shingles(df: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document, HASHED to int64:
    (id, shingle BIGINT).

    Hashing at the explode (md5 -> 60-bit int, portable to the oracle) means
    every downstream shuffle and join moves 8-byte longs instead of shingle
    strings — at 100 TB of documents that is the difference between
    shuffling the corpus and shuffling a fingerprint of it. Collisions
    (2^-60) are identical in both engines, so the oracle comparison is
    unaffected. Documents with fewer than n words yield no shingles.
    """
    words = F.split(F.col(text_col), " ")
    # guard: sequence(1, 0) in Spark yields a *descending* [1, 0], not empty
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = F.transform(grams, token_hash64)
    # the explode+hash is scan-fused compute; widen a narrow file-backed
    # input so it does not run single-task (the distinct's shuffle only
    # parallelizes AFTER the hashing) — no-op on a multi-file table
    return (
        widen_if_narrow(df)
        .select(F.col(id_col).alias("id"), F.explode(hashed).alias("shingle"))
        .distinct()
    )


def sql_shingles(n: int = 3, table: str = "documents",
                 text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB CTE body mirroring shingles().

    generate_series(1, 0) is an empty list in DuckDB, so <n-word docs yield
    no shingles (same as the Spark guard).
    """
    parts = " || ' ' || ".join(f"w[i + {k}]" for k in range(n))
    return f"""
      SELECT DISTINCT id, {sql_token_hash64('shingle')} AS shingle FROM (
        SELECT {id_col} AS id,
               unnest(list_transform(
                 generate_series(1, greatest(len(w) - {n - 1}, 0)),
                 i -> {parts})) AS shingle
        FROM (SELECT {id_col}, string_split({text_col}, ' ') AS w
              FROM {table}) s) u
    """


#: Above this many documents, `jaccard_pairs` refuses to run without an
#: explicit opt-in — the full shingle self-join is quadratic in coincident
#: shingles and exists as a correctness baseline, not a corpus-scale path.
JACCARD_FULL_JOIN_MAX_DOCS = 100_000


def jaccard_pairs(
    sh: DataFrame,
    threshold: float = 0.5,
    *,
    allow_full_self_join: bool = False,
    max_docs: int = JACCARD_FULL_JOIN_MAX_DOCS,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs from a shingle table.

    Self-equi-join on shingle (intersection counts), then
    |A∩B| / (|A|+|B|-|A∩B|) >= threshold. (id_a < id_b.)

    This is the CORRECTNESS BASELINE / verifier, deliberately quadratic:
    at corpus scale use `minhash_dedup_pairs` (LSH-bounded candidates +
    `verify_jaccard`). To keep the quadratic surface from being called on
    a full corpus by accident, inputs larger than ``max_docs`` documents
    raise unless ``allow_full_self_join=True`` — the guard is one linear
    distinct-count over the shingle table, paid before any join.
    """
    if not allow_full_self_join:
        n_docs = sh.select("id").distinct().count()
        if n_docs > max_docs:
            raise ValueError(
                f"jaccard_pairs: {n_docs} documents exceeds the full "
                f"self-join guard ({max_docs}). This operator is the "
                "quadratic exact baseline; use minhash_dedup_pairs "
                "(LSH-bounded) at corpus scale, or pass "
                "allow_full_self_join=True if you really mean it."
            )
    # sh feeds sizes + both self-join sides: persist it so the shingle
    # explode runs once even in this deliberately-quadratic baseline
    # (round-9 audit: 4 document scans before)
    sh = sh.persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a")
    sb = sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b")
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signature(sh: DataFrame) -> DataFrame:
    """MinHash signatures: (id, h0..h{NUM_HASHES-1}).

    h_i = min over shingles of ((a_i * t + b_i) mod p), t = hashed-shingle
    mod p (shingles arrive pre-hashed to int64).

    t uses pmod, not %: xxhash64-mode shingles are signed, and a signed
    mod would make every permutation rank the negative-t shingles ahead of
    all positive-t ones — the minhash would degenerate to a fixed half of
    each shingle set (same half for every permutation), quietly inflating
    the miss rate. pmod restores a single [0, p) domain; for the md5 mode
    (non-negative 60-bit values) pmod ≡ %, so the oracle SQL is unchanged.
    """
    t = F.pmod(F.col("shingle"), F.lit(MINHASH_P))
    aggs = [
        F.min((F.lit(a) * t + F.lit(b)) % MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return sh.groupBy("id").agg(*aggs)


def sql_minhash_signature(shingle_cte: str = "sh") -> str:
    t = f"(shingle % {MINHASH_P})"
    cols = ", ".join(
        f"min(({a} * {t} + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    return f"SELECT id, {cols} FROM {shingle_cte} GROUP BY id"


def signature_from_array(arr: DataFrame,
                         assume_nonempty: bool = False) -> DataFrame:
    """MinHash signature columns folded from a (id, shingles array<long>)
    relation — the in-row core shared by ``minhash_signature_inrow`` and
    ``minhash_dedup_pairs`` (which persists one array relation and derives
    both the signatures and the verification intersections from it).

    ``assume_nonempty=True`` skips the empty-array guard for callers that
    already filtered (``has_min_words`` before the shingle build, the
    round-13 shape): when ``arr`` is an UNPERSISTED projection, the guard
    filter would otherwise carry a full copy of the shingle-build
    expression below the widen exchange — the whole hash pipeline
    evaluated twice per row, once single-threaded."""

    def perm(a: int, b: int):
        return lambda s: (
            F.lit(a) * F.pmod(s, F.lit(MINHASH_P)) + F.lit(b)
        ) % MINHASH_P

    cols = [
        F.array_min(F.transform("shingles", perm(a, b))).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    if not assume_nonempty:
        arr = arr.filter(F.size("shingles") > 0)
    return arr.select("id", *cols)


def minhash_signature_inrow(df: DataFrame, n: int = 3,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """MinHash signatures computed entirely in-row from documents:
    (id, h0..h{NUM_HASHES-1}) — bit-identical to
    ``minhash_signature(shingles(df))`` (same coefficients, same pmod
    domain; array_distinct in-row = the exploded distinct per doc).

    The grouped path shuffles the corpus's exploded shingle relation twice
    (distinct, then groupBy id); this one computes every permutation's min
    as an array fold at scan speed — zero shuffles on a multi-file input
    (narrow inputs widen first, see ``widen_if_narrow``).
    At 100 TB the signature step becomes a map over the document scan.
    Documents with fewer than n words yield no shingles and are dropped
    (the grouped path produces no group for them) — filtered CHEAPLY on
    the word count, never on the derived array (``has_min_words``).
    """
    df = widen_if_narrow(df).filter(has_min_words(text_col, n))
    return signature_from_array(
        shingle_array(df, n, text_col, id_col), assume_nonempty=True
    )


#: domain-separation constant for the SECOND band hash
#: (`lsh_band_keys(with_key2=True)`): prefixing xxhash64's input with a
#: distinct literal gives a second output that behaves independently of
#: the primary key's in the heuristic random-oracle sense (not a
#: provably independent family — see the lsh_band_keys docstring), so
#: two different band tuples colliding on BOTH keys is ~2^-128 under
#: that model — physically never
_KEY2_SALT = 0x243F6A8885A308D3  # pi's hex digits; fits in int64


def lsh_band_keys(sig: DataFrame, with_values: bool = False,
                  with_key2: bool = False) -> DataFrame:
    """Explode signatures into (id, band, band_key) for the banded LSH join.

    The band key is xxhash64 over the band's row values — an 8-byte join
    key instead of a ~50-char concat string, so the candidate join
    shuffles fingerprints, not signature text. The key never reaches any
    output (it exists to bucket the join; `verify_jaccard` recomputes
    exact Jaccard on every candidate), so a JOIN-side hash collision can
    only ADD a candidate pair that verification then scores exactly.

    ``with_values=True`` adds a ``band_vals`` array column carrying the
    band's exact h-values. The hot-bucket CAP must count buckets by this
    exact tuple, never by the hashed key: two sub-cap buckets whose keys
    collide would merge their counts, and if the merged count crossed
    the cap BOTH legitimate buckets would be excluded — a collision
    REMOVING true pairs, the one direction the invariant above forbids
    (round-10 review). With exact-tuple counting the oracle SQL's string
    keys and the engine's cap agree at any corpus size.

    ``with_key2=True`` adds ``band_key2``, a SECOND 64-bit hash of the
    same tuple. Honesty note: key2 is DOMAIN-SEPARATED xxhash64 (the
    same mixer with a salt constant prefixed), not a hash from an
    independent family — the ~2^-128 both-keys collision figure treats
    the two outputs as independent, which domain separation gives
    heuristically (standard practice, e.g. HMAC-style salting) but not
    provably. PERSISTED band state uses it instead of band_vals:
    counting cap occupancy by (band_key, band_key2) keeps stored rows
    at 16 bytes while making a both-keys collision the only way two
    buckets can merge — the round-11 verdict's streaming-ingest cap
    fix."""
    bands = []
    for b in range(LSH_BANDS):
        cols = [F.col(f"h{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        fields = [
            F.lit(b).alias("band"),
            F.xxhash64(F.lit(b), *cols).alias("key"),
        ]
        if with_values:
            fields.append(F.array(*cols).alias("vals"))
        if with_key2:
            fields.append(
                F.xxhash64(F.lit(_KEY2_SALT), F.lit(b), *cols)
                .alias("key2")
            )
        bands.append(F.struct(*fields))
    out_cols = [
        "id",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("band_key"),
    ]
    if with_values:
        out_cols.append(F.col("bk.vals").alias("band_vals"))
    if with_key2:
        out_cols.append(F.col("bk.key2").alias("band_key2"))
    return sig.select(
        "id", F.explode(F.array(*bands)).alias("bk")
    ).select(*out_cols)


def _cap_band_buckets(bk: DataFrame, max_bucket_size: int,
                      weights: DataFrame | None = None) -> DataFrame:
    """Drop rows of (exact-tuple) band buckets larger than the cap.
    ``bk`` must carry ``band_vals`` (lsh_band_keys with_values=True);
    the column is consumed here and removed from the output.

    ``weights`` — an (id, __w) relation — makes bucket occupancy count
    each id ``__w`` times. The exact-dedup pre-pass uses it so a
    REPRESENTATIVE's bucket weighs what its whole identical-text group
    weighs: identical docs share every band tuple, so the weighted
    rep-level count equals the doc-level count exactly and the cap
    excludes precisely the buckets the uncollapsed pipeline would.

    Shaped as an anti-join against only the HOT keys, not a join of
    the full count relation back to every row: the hot set is bounded
    by n_rows/cap buckets (AQE broadcasts it when small), while the
    full count relation is as large as the distinct-bucket count."""
    if weights is not None:
        bk = bk.join(weights, "id")
        occupancy = F.sum("__w").alias("__n")
    else:
        occupancy = F.count("*").alias("__n")
    hot = (
        bk.groupBy("band", "band_vals")
        .agg(occupancy)
        .filter(F.col("__n") > max_bucket_size)
        .select("band", "band_vals")
    )
    out = bk.join(hot, ["band", "band_vals"], "left_anti").drop(
        "band_vals"
    )
    return out.drop("__w") if weights is not None else out


#: Default hot-bucket cap for the MinHash LSH candidate join (round-10
#: flip: guarded by DEFAULT). 256 bounds any one bucket's contribution
#: at C(256,2) ≈ 33k pairs — generous for genuine near-dup cohorts at
#: any corpus size, while a boilerplate bucket of 10^6 docs would have
#: emitted 5·10^11. Exhaustive all-pairs banding requires an explicit
#: ``max_bucket_size=None``.
CRAWL_MAX_BUCKET = 256


def minhash_candidates(
    sig: DataFrame, max_bucket_size: int | None = CRAWL_MAX_BUCKET
) -> DataFrame:
    """Candidate pairs sharing at least one LSH band (id_a < id_b).

    ``max_bucket_size`` (default ``CRAWL_MAX_BUCKET`` — pass ``None``
    explicitly for the unguarded exhaustive form) guards the quadratic
    hot-bucket blowup at corpus
    scale: a band key shared by B documents yields B(B-1)/2 candidate pairs,
    and one pathological bucket (boilerplate, empty-ish docs) can dominate
    the whole join. Buckets above the cap are EXCLUDED FROM CANDIDATES, not
    sampled — use `oversized_buckets` to account for what was skipped
    (never a silent cap), and handle those cohorts with exact dedup (their
    members are near-identical by construction, so grouping them wholesale
    is usually the right call anyway).
    """
    bk = lsh_band_keys(sig, with_values=max_bucket_size is not None)
    if max_bucket_size is not None:
        bk = _cap_band_buckets(bk, max_bucket_size)
    a, b = bk.alias("a"), bk.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def oversized_buckets(sig: DataFrame, max_bucket_size: int) -> DataFrame:
    """The accounting side of `minhash_candidates(max_bucket_size=...)`:
    (band, band_key, n_docs) for every bucket the cap excluded. Counts
    by the exact band tuple (the cap's own grouping — see
    `lsh_band_keys`); band_key is reported as the bucket's opaque id
    (constant per tuple)."""
    return (
        lsh_band_keys(sig, with_values=True)
        .groupBy("band", "band_vals")
        .agg(
            F.max("band_key").alias("band_key"),
            F.count("*").alias("n_docs"),
        )
        .filter(F.col("n_docs") > max_bucket_size)
        .select("band", "band_key", "n_docs")
    )


def verify_jaccard(cands: DataFrame, sh: DataFrame,
                   threshold: float = 0.5) -> DataFrame:
    """Exact-Jaccard verification restricted to candidate pairs.

    Intersections come from candidates ⨝ shingles(id_a) ⨝ shingles(id_b,
    shingle) — the second join is an equi-join on (id_b, shingle), so cost is
    O(|candidates| x avg shingles), never the full shingle self-join. This is
    the property that keeps the pipeline linear-ish at 100 TB: LSH bounds the
    pair space, and verification only touches that space.

    The per-doc size table is semi-join pruned to ids that appear in a
    candidate pair before aggregating: at corpus scale candidates cover a
    sliver of the corpus, so sizes is an aggregate over that sliver, not a
    full-corpus groupBy (and the post-prune table is small enough for AQE
    to broadcast into the final joins).
    """
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sizes = (
        sh.join(cand_ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_sh"))
    )
    a_sh = sh.select(F.col("id").alias("id_a"), "shingle")
    b_sh = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cands.join(a_sh, "id_a")
        .join(b_sh, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a")
    sb = sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b")
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def verify_jaccard_inrow(cands: DataFrame, arr: DataFrame,
                         threshold: float = 0.5) -> DataFrame:
    """Exact-Jaccard verification via per-document shingle ARRAYS.

    Same contract as ``verify_jaccard`` (pairs with jaccard >= threshold,
    4dp), but the intersection is ``size(array_intersect(A, B))`` computed
    in whole-stage codegen after two equi-joins of the candidate pairs to
    the (id, shingles) relation — no exploded shingle rows exist anywhere
    in the plan. Join input is pruned to candidate ids first, so each join
    moves O(|candidate docs|) array rows (a sliver of the corpus at scale),
    and the per-pair intersect cost is O(|A| + |B|) hash-set probing.
    Compared to the exploded path this trades the candidates ⨝ shingles ⨝
    shingles shuffle family (corpus-sized worst case) for array payloads of
    ~8 bytes/shingle carried once — the measured win at sf0.1 is ~2x on
    the full pipeline.
    """
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    slim = arr.join(cand_ids, "id", "left_semi")
    a = slim.select(F.col("id").alias("id_a"), F.col("shingles").alias("__sa"))
    b = slim.select(F.col("id").alias("id_b"), F.col("shingles").alias("__sb"))
    n_inter = F.size(F.array_intersect("__sa", "__sb"))
    jac = n_inter / (F.size("__sa") + F.size("__sb") - n_inter)
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup_pairs(df: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        persist_shingles: bool = True,
                        max_bucket_size: int | None = CRAWL_MAX_BUCKET,
                        collapse_exact: bool = False,
                        ) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle -> signature -> banded
    candidates -> exact-Jaccard verification (>= threshold), with the
    verifier bounded to the candidate set. ``max_bucket_size`` defaults
    to the crawl-safe ``CRAWL_MAX_BUCKET`` (see `minhash_candidates`);
    pass ``None`` explicitly for the exhaustive unguarded form.

    ``collapse_exact`` inlines the production STAGE ORDER (Dolma /
    RefinedWeb run exact dedup BEFORE minhash) into a
    standalone minhash run: md5-identical texts collapse to one
    representative before shingling, so an identical-text cohort pays
    the 60-permutation signature fold once instead of once per copy.
    Measured trade (round-11 scale drill): the fold saving scales with
    words-per-doc × dup-rate, the collapse machinery (md5 groupBy +
    membership joins + re-expansion, ~6 extra shuffle stages of
    id-sized relations) is near-fixed — on an 80%-duplicated 200-word
    corpus the collapse wins ~25-40% (50k docs: 64.6→49.9 s); on the
    12-word f95 fixture the fold is too cheap and the machinery costs
    more than it saves (5k docs: 7.7→14 s). Hence OPT-IN: turn it on
    for realistic long-document crawls or pipelines that haven't
    already run an exact-dedup stage. The result is IDENTICAL to the
    uncollapsed pipeline either way, not approximately so:

    - identical docs share every band tuple, so weighted bucket
      occupancy (`_cap_band_buckets(weights=...)`, each rep counted
      group-size times) reproduces the doc-level cap decision exactly;
    - a rep with any surviving band row re-expands to its group's
      within-group pairs at jaccard 1.0 (what the band self-join +
      verifier would emit for identical texts), a capped-out rep to
      none;
    - verified rep-level cross pairs re-expand over both groups'
      members (identical text => identical shingle set => identical
      jaccard), ordered (least, greatest) like the candidate join.

    One persisted (id, shingles array) relation feeds BOTH the in-row
    signature fold and the array-intersect verifier — the exploded shingle
    table never exists in this pipeline at all (it remains available via
    ``shingles``/``verify_jaccard`` for consumers that need per-shingle
    rows, e.g. document-frequency analyses). ``persist_shingles``
    materializes the array relation and the signatures once; at cluster
    scale these are the checkpoints you'd put on stable storage between
    phases.
    """
    # Widen a narrow input before the array build (`widen_if_narrow`): a
    # single small parquet file scans as one partition, serializing the
    # shingle/hash work.
    df = widen_if_narrow(df)

    if not collapse_exact:
        # <n-word docs are dropped by the CHEAP word-count predicate
        # (`has_min_words`, pushes to the scan side of the widen
        # exchange) — a filter on the derived array would carry a full
        # duplicate of the shingle-build expression in a single-task
        # pre-exchange Filter (round-13 plan audit).
        arr = shingle_array(
            df.filter(has_min_words(text_col, n)), n, text_col, id_col
        )
        # Both intermediates persist under the same flag: the band
        # self-join's broadcast build and stream sides are separate plan
        # instances (no ReusedExchange — verified by plan probing), so an
        # unpersisted sig would pay the 60 array-folds twice, and arr
        # feeds three differently-pruned consumers (signature + both
        # verify sides).
        if persist_shingles:
            arr = arr.persist()
        sig = signature_from_array(arr, assume_nonempty=True)
        if persist_shingles:
            sig = sig.persist()
        cands = minhash_candidates(sig, max_bucket_size=max_bucket_size)
        return verify_jaccard_inrow(cands, arr, threshold)

    # -- exact-dedup pre-pass -------------------------------------------
    # One md5 groupBy (map-side combined; min_by keeps the lowest-id
    # copy's text) yields the representative relation; everything
    # signature-shaped runs on reps only. g feeds BOTH the group agg
    # and the membership join — persisted, so the corpus scans ONCE
    # (the f95 plan guard pins it; this replaces the uncollapsed
    # path's corpus-sized arr cache with a text-sized one plus the
    # much smaller rep-sized arr).
    g = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__txt")
    ).withColumn("__eh", F.md5("__txt"))
    if persist_shingles:
        g = g.persist()
    groups = g.groupBy("__eh").agg(
        F.min("id").alias("rep"),
        F.min_by("__txt", "id").alias("__txt"),
        F.count("*").alias("__mult"),
    )
    # groups feeds reps/weights/membership; members feeds the survivor
    # filter, the within-group self-join, and both cross-expansion legs
    # — persist both under the pipeline's one flag.
    if persist_shingles:
        groups = groups.persist()
    members = (
        g.select("id", "__eh")
        .join(groups.select("__eh", "rep"), "__eh")
        .select("id", "rep")
    )
    if persist_shingles:
        members = members.persist()
    reps = groups.select(
        F.col("rep").alias("id"), F.col("__txt").alias("__t")
    ).filter(has_min_words("__t", n))
    arr = shingle_array(reps, n, "__t", "id")
    if persist_shingles:
        arr = arr.persist()
    sig = signature_from_array(arr, assume_nonempty=True)
    if persist_shingles:
        sig = sig.persist()

    bk = lsh_band_keys(sig, with_values=max_bucket_size is not None)
    if max_bucket_size is not None:
        weights = groups.select(
            F.col("rep").alias("id"), F.col("__mult").alias("__w")
        )
        bk = _cap_band_buckets(bk, max_bucket_size, weights=weights)
    a, b = bk.alias("a"), bk.alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    rep_pairs = verify_jaccard_inrow(cands, arr, threshold)

    # -- re-expansion -----------------------------------------------------
    # Within-group: a group whose rep kept >= 1 band row would have had
    # every member pair co-bucketed there (identical signatures), and
    # identical texts verify at exactly 1.0. Bounded: a surviving rep's
    # buckets weigh <= cap, so group size <= cap and the self-join emits
    # <= C(cap, 2) pairs per group — the uncapped quadratic cohort was
    # excluded by the weighted cap above, exactly as it is doc-level.
    surv = bk.select(F.col("id").alias("rep")).distinct()
    m_surv = members.join(surv, "rep")
    x, y = m_surv.alias("x"), m_surv.alias("y")
    within = (
        x.join(y, (F.col("x.rep") == F.col("y.rep"))
               & (F.col("x.id") < F.col("y.id")))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # Cross-group: every member pair across the two groups shares the
    # rep pair's buckets and jaccard.
    ma = members.select(
        F.col("rep").alias("id_a"), F.col("id").alias("__xa")
    )
    mb = members.select(
        F.col("rep").alias("id_b"), F.col("id").alias("__xb")
    )
    cross = (
        rep_pairs.join(ma, "id_a").join(mb, "id_b")
        .select(
            F.least("__xa", "__xb").alias("id_a"),
            F.greatest("__xa", "__xb").alias("id_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


def dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    max_iters: int = 20,
    algorithm: str = "star",
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup CLUSTERS from a pair graph: (id, component) where component
    is the minimum node id in the connected component — the step that turns
    "these documents are pairwise similar" into "keep one per group".

    Two algorithms, same fixpoint:

    - ``"star"`` (default): alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond").
      Converges in O(log^2 n) rounds REGARDLESS of component diameter —
      a 10^6-link chain finishes in ~20 rounds where label propagation
      needs 10^6. Each round is two groupBy+join passes over the edge
      list, and the edge list *shrinks* toward one star per component,
      so late rounds are cheap. The 100 TB path.
    - ``"label_prop"``: hash-min label propagation — one equi-join + one
      groupBy per round, O(diameter) rounds. Simpler plan per round;
      fine when components are known-tiny (typical near-dup graphs).

    ``pairs``: (id_a, id_b, ...) undirected edges; ``nodes``: (id) the node
    universe (isolated docs become singleton components).

    Raises RuntimeError if ``max_iters`` rounds do not converge — loud, not
    a silent partial clustering.

    ``stats``: optional dict the star path fills with drill-grade
    attribution at zero extra Spark jobs (the numbers fall out of the
    convergence fingerprints): ``rounds``, ``edge_counts`` (canonical
    edge count entering each round, then the fixpoint count) and
    per-round walls ``round_secs``.
    """
    if algorithm == "star":
        return _dup_clusters_star(pairs, nodes, max_iters, stats)
    if algorithm != "label_prop":
        raise ValueError(f"unknown algorithm {algorithm!r}: star | label_prop")
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = nodes.select(F.col("id"), F.col("id").alias("comp")).persist()
    try:
        for _ in range(max_iters):
            neighbor_min = (
                edges.join(
                    labels.select(
                        F.col("id").alias("dst"), F.col("comp").alias("ncomp")
                    ),
                    "dst",
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("ncomp").alias("nmin"))
            )
            new_labels = (
                labels.join(neighbor_min, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
                    ).alias("comp"),
                )
                # lazy: the changed-count below is the first action and
                # materializes the checkpoint as a side effect (one job
                # per round, not two — see the star loop's e0 note)
                .localCheckpoint(eager=False)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .limit(1)
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                return labels
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} rounds — "
            "component diameter exceeds the cap; raise max_iters or use "
            "algorithm='star' (O(log^2 n) rounds, diameter-independent)"
        )
    finally:
        edges.unpersist()


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    """(count, xor-of-hashes) fingerprint of an edge set — one tiny
    aggregate job, used as the convergence test between star rounds."""
    row = edges.agg(
        F.count("*").alias("n"),
        # Order-insensitive hash-sum, accumulated in decimal(38,0) so the
        # fold cannot overflow int64 under ANSI mode however many edges.
        # Collision-safe enough for a convergence check (a false
        # "converged" needs two distinct edge sets with equal count AND
        # equal hash-sum in the same run).
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _dup_clusters_star(
    pairs: DataFrame,
    nodes: DataFrame,
    max_iters: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Per round (one "iteration" = large-star then small-star):
    - large-star: for every node u, connect each strictly-larger neighbor
      v to m(u) = min(N(u) ∪ {u}).  Implemented as: bidirect the edge
      list, groupBy(u).min(v) for m, join back, keep v > u rows.
    - small-star: orient every edge (max, min); for every node u connect
      each smaller neighbor — and u itself — to its minimum smaller
      neighbor.  groupBy(u).min(v), join back, emit (v, m) ∪ (u, m).

    The fixpoint is a star per component centered at the component's min
    node; both operators preserve connectivity (Kiveris et al. 2014), so
    labels fall straight out of the final edge list. Convergence is
    detected with a count+hash fingerprint (no edge-set diff join), and
    every round's output is localCheckpoint'ed so the loop never rebuilds
    a growing lineage. Rounds needed: O(log^2 n) worst case, 2-4 in
    practice for near-dup graphs.
    """
    # Orient (max, min), drop self-loops/dups: canonical undirected form.
    e0 = pairs.select(
        F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    # LAZY checkpoint + checksum = ONE job per round, not two: the
    # checksum aggregate is the first action on the checkpointed
    # relation, so it materializes (and persists) the RDD as a side
    # effect — an eager checkpoint here ran the identical computation
    # as its own separate job first (round 14, guide §1.2/§5: the loop
    # is job-latency-bound at small edge counts, and every round paid
    # checkpoint-job + checksum-job over the same tiny edge set).
    edges = e0.localCheckpoint(eager=False)
    prev = _edge_checksum(edges)
    if stats is not None:
        stats["edge_counts"] = [prev[0]]
        stats["round_secs"] = []
        stats["rounds"] = 0
    if prev[0] == 0:  # no edges: every node is its own component
        return nodes.select("id", F.col("id").alias("comp"))
    for _ in range(max_iters):
        _round_t0 = time.time() if stats is not None else 0.0
        # -- large-star --------------------------------------------------
        adj = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = adj.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least(F.col("u"), F.col("mv"))
        large = (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star --------------------------------------------------
        # `large` already emits (bigger, smaller); orient defensively anyway.
        se = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        smins = se.groupBy("u").agg(F.min("v").alias("mv"))  # mv < u
        small = (
            se.join(smins, "u")
            .select(F.col("v").alias("a"), F.col("mv").alias("b"))
            .unionByName(smins.select(F.col("u").alias("a"), F.col("mv").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
        )
        new_edges = small.localCheckpoint(eager=False)  # see e0 note
        cur = _edge_checksum(new_edges)
        edges = new_edges
        if stats is not None:
            stats["edge_counts"].append(cur[0])
            stats["round_secs"].append(round(time.time() - _round_t0, 3))
            stats["rounds"] += 1
        if cur == prev:
            # Fixpoint: edges form stars (u -> component min). A node may
            # transiently carry several edges mid-run, but at the fixpoint
            # min(v) per u IS the component root; take it defensively.
            labels = edges.groupBy("u").agg(F.min("v").alias("comp")).select(
                F.col("u").alias("id"), "comp"
            )
            return (
                nodes.join(labels, "id", "left")
                .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
            )
        prev = cur
    raise RuntimeError(
        f"dup_clusters(star) did not converge in {max_iters} rounds — "
        "unexpected for star contraction (O(log^2 n)); raise max_iters"
    )


SIMHASH_BITS = 32


def simhash(sh: DataFrame) -> DataFrame:
    """32-bit SimHash per document from shingle hashes: (id, simhash).

    bit_j = 1 iff sum over shingles of (2*((t >> j) & 1) - 1) > 0, t the
    pre-hashed shingle. One groupBy with 32 conditional-sum aggregates.
    """
    t = F.col("shingle")
    aggs = [
        F.sum(F.shiftright(t, j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_bit = sh.groupBy("id").agg(*aggs)
    val = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        val = val + F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return per_bit.select("id", val.alias("simhash"))


def sql_simhash(shingle_cte: str = "sh") -> str:
    t = "shingle"
    sums = ", ".join(
        f"sum((({t} >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(SIMHASH_BITS)
    )
    val = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return (
        f"SELECT id, ({val})::BIGINT AS simhash FROM "
        f"(SELECT id, {sums} FROM {shingle_cte} GROUP BY id) pb"
    )


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: byte-band candidate join (4 bands of 8
    bits — any shared band) then exact hamming filter. (id_a < id_b.)"""
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255))
                 .alias("key"))
        for b in range(4)
    ])
    bk = sim.select("id", "simhash", F.explode(bands).alias("bk")).select(
        "id", "simhash",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("band_key"),
    )
    a, b = bk.alias("a"), bk.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_pairs_against(
    sh: DataFrame,
    is_existing: "Column",
    threshold: float = 0.5,
    max_bucket_size: int | None = CRAWL_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs BETWEEN two partitions of a corpus — new-batch
    documents against an existing corpus, never new-new or
    existing-existing. The continuous-ingest shape: every fresh crawl
    batch is checked against what is already in the training set, and only
    cross-set pairs matter (in-batch dups are f7's job, corpus-internal
    dups were resolved when the corpus was built).

    ``sh`` is a shingle table (id, shingle) covering BOTH sides;
    ``is_existing`` is a boolean Column over ``id`` marking the corpus
    side. Returns (id_a = new id, id_b = existing id, jaccard).

    Scale shape: signatures and band keys are computed over the union once
    (at production scale the existing corpus's signatures are precomputed
    and stored — only the new batch pays the shingle+signature cost); the
    candidate join is new-bands vs existing-bands on (band, band_key), so
    its output is bounded by cross-set bucket co-occupancy and is strictly
    smaller than the full self-join's. Verification is exact Jaccard
    restricted to candidates (verify_jaccard), same as f7.
    """
    sig = minhash_signature(sh)
    bk = lsh_band_keys(sig, with_values=max_bucket_size is not None)
    if max_bucket_size is not None:
        bk = _cap_band_buckets(bk, max_bucket_size)
    flags = sh.select("id").distinct().select(
        "id", is_existing.alias("__existing")
    )
    # Persist the flagged band keys: the new-side and existing-side filters
    # below are two consumers of this frame, and (exchange-reuse lesson)
    # Spark will otherwise run the signature groupBy once per side. Three
    # small columns per (doc, band); harnesses own cache lifetime.
    bk = bk.join(flags, "id").persist()
    new_bk = bk.filter(~F.col("__existing")).select(
        F.col("id").alias("id_a"), "band", "band_key"
    )
    old_bk = bk.filter(F.col("__existing")).select(
        F.col("id").alias("id_b"), "band", "band_key"
    )
    cands = (
        new_bk.join(old_bk, ["band", "band_key"])
        .select("id_a", "id_b")
        .distinct()
    )
    return verify_jaccard(cands, sh, threshold)


def minhash_pairs_against_inrow(
    df: DataFrame,
    is_existing: "Column",
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = CRAWL_MAX_BUCKET,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_shingles: bool = True,
) -> DataFrame:
    """``minhash_pairs_against`` re-expressed explode-free: signatures fold
    in-row from one persisted (id, shingles array) relation and the
    cross-set candidates verify via ``verify_jaccard_inrow`` — the exploded
    shingle relation never exists in the plan, mirroring
    ``minhash_dedup_pairs``'s round-4 shape. ``is_existing`` is a boolean
    Column over ``id`` marking the corpus side; returns
    (id_a = new id, id_b = existing id, jaccard).
    """
    arr = shingle_array(
        widen_if_narrow(df).filter(has_min_words(text_col, n)),
        n, text_col, id_col,
    )
    if persist_shingles:
        arr = arr.persist()
    sig = signature_from_array(arr, assume_nonempty=True)
    bk = lsh_band_keys(sig, with_values=max_bucket_size is not None)
    if max_bucket_size is not None:
        bk = _cap_band_buckets(bk, max_bucket_size)
    flags = arr.select("id", is_existing.alias("__existing"))
    # Persist the flagged band keys: the new-side and existing-side filters
    # below are two consumers of this frame (exchange-reuse lesson).
    bk = bk.join(flags, "id")
    if persist_shingles:
        bk = bk.persist()
    new_bk = bk.filter(~F.col("__existing")).select(
        F.col("id").alias("id_a"), "band", "band_key"
    )
    old_bk = bk.filter(F.col("__existing")).select(
        F.col("id").alias("id_b"), "band", "band_key"
    )
    cands = (
        new_bk.join(old_bk, ["band", "band_key"])
        .select("id_a", "id_b")
        .distinct()
    )
    return verify_jaccard_inrow(cands, arr, threshold)


def shingle_array(df: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Distinct hashed word n-grams per document as an IN-ROW array:
    (id, shingles array<long>) — the same values `shingles` explodes, kept
    inside the row. For per-document signatures (SimHash) this removes the
    explode + distinct + groupBy shuffle family entirely: the signature
    becomes a scan-speed projection. Use `shingles` when downstream needs
    the exploded relation (Jaccard joins, document frequency)."""
    words = F.split(F.col(text_col), " ")
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = F.array_distinct(F.transform(grams, token_hash64))
    return df.select(F.col(id_col).alias("id"), hashed.alias("shingles"))


def simhash_inrow(df: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash computed entirely in-row: (id, simhash).

    bit_j = 1 iff more than half of the document's distinct shingle hashes
    have bit j set (identical to `simhash`'s sum-of-±1 rule; ties -> 0).
    Zero shuffles on a multi-file input (narrow inputs widen first —
    ``widen_if_narrow``) — at 100 TB this runs at scan speed where the
    exploded-relation path pays a corpus-sized distinct + groupBy.
    Documents with fewer than n words have no shingles and are dropped
    (matching the grouped path, where they produce no group) — filtered
    CHEAPLY on the word count (``has_min_words``); a filter on the
    derived array would push a second full shingle-build expression into
    a pre-exchange Filter (round-13 plan audit: that duplicate was most
    of f8's wall).
    """
    df = widen_if_narrow(df).filter(has_min_words(text_col, n))
    arr = shingle_array(df, n, text_col, id_col)
    ntot = F.size(F.col("shingles"))
    val = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        cnt = F.size(
            F.filter(
                F.col("shingles"),
                lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
            )
        )
        val = val + F.when(cnt * 2 > ntot, F.lit(1 << j)).otherwise(F.lit(0))
    return arr.select("id", val.alias("simhash"))



#: Document-frequency ceiling for containment candidate generation: shingles
#: shared by more documents than this are treated as corpus-common (stop
#: shingles) and skipped when PAIRING — they still count toward the exact
#: intersection of any candidate pair. Bounds the candidate join at
#: O(df_cap * rows-per-shingle) instead of quadratic in hot shingles.
CONTAINMENT_MAX_SHINGLE_DF = 100


def containment_candidates(
    arr: DataFrame,
    threshold: float,
    max_shingle_df: int = CONTAINMENT_MAX_SHINGLE_DF,
) -> DataFrame:
    """PPJoin-prefix candidate generation for ``containment_pairs``:
    canonical (id_a < id_b) pairs from ``arr`` (the non-empty
    ``shingle_array`` relation) that share a sub-df-cap shingle within
    the smaller document's prefix. Exposed separately so scale drills
    can measure |candidates| against |true pairs| — the candidate:output
    ratio IS the claim this filter makes."""
    sh = arr.select(
        "id",
        F.size("shingles").alias("__n_sh"),
        F.explode("shingles").alias("shingle"),
    )
    dfc = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    rare = sh.join(dfc.filter(F.col("__df") <= max_shingle_df), "shingle")
    # PPJoin probe prefix: the real-arithmetic bound is
    # floor((1-t)*|doc|)+1 shingles per doc in (df asc, shingle) order.
    # |doc| is the FULL shingle count — capped shingles sort ahead of
    # common ones, so the capped-only rank below equals the full-list
    # position for every capped shingle. The +2 (one slot beyond the
    # bound) absorbs BOTH float hazards: (1.0-t)*n can round just below
    # an integer ((1.0-0.9)*10 = 0.9999999999999998 floors to 0, one
    # short — measured: 1,548 of 248,764 true pairs lost at the 10x
    # drill), and the final n_inter/min >= t filter is itself a double
    # compare whose division rounding can admit one fewer shared shingle
    # than ceil(t*n). One extra probe shingle per doc is noise; a missed
    # true pair is a correctness bug.
    wp = Window.partitionBy("id").orderBy(
        F.col("__df").asc(), F.col("shingle").asc()
    )
    prefix_len = (
        F.floor((1.0 - threshold) * F.col("__n_sh")).cast("int") + 2
    )
    probe = rare.withColumn("__rk", F.row_number().over(wp)).filter(
        F.col("__rk") <= prefix_len
    )
    # probe doc strictly smaller in (size, id) order than the index doc:
    # the prefix bound applies to the smaller side of each pair, and the
    # lexicographic tie-break generates equal-size pairs exactly once
    return (
        probe.select(
            F.col("id").alias("__pid"), F.col("__n_sh").alias("__pn"),
            "shingle",
        )
        .join(
            rare.select(
                F.col("id").alias("__iid"), F.col("__n_sh").alias("__in"),
                "shingle",
            ),
            "shingle",
        )
        .filter(
            (F.col("__pn") < F.col("__in"))
            | (
                (F.col("__pn") == F.col("__in"))
                & (F.col("__pid") < F.col("__iid"))
            )
        )
        .select(
            F.least("__pid", "__iid").alias("id_a"),
            F.greatest("__pid", "__iid").alias("id_b"),
        )
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int = CONTAINMENT_MAX_SHINGLE_DF,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_shingles: bool = True,
) -> DataFrame:
    """Asymmetric near-dup detection: containment = |A ∩ B| / min(|A|,|B|).

    Symmetric Jaccard misses subset duplication — a short document pasted
    inside a much longer one scores jaccard ≈ |A|/|B| (small) but
    containment ≈ 1. MinHash-LSH banding approximates JACCARD, so its
    candidate generation also misses those pairs; containment needs its own
    candidate path. This is the PPJoin prefix filter re-expressed
    relationally: containment >= t means the SMALLER document S shares at
    least ceil(t*|S|) shingles, so by pigeonhole at least one shared
    shingle sits within S's first floor((1-t)*|S|)+1 shingles under ANY
    global canonical order. The probe side therefore emits only that
    prefix per document (ordered df-ascending — rarest first, so prefix
    shingles are also the cheapest join keys) against an index side of all
    capped occurrences of equal-or-larger documents.

    Recall is exact w.r.t. the cap semantics: capped (rare) shingles all
    have smaller df than corpus-common ones, so in df-ascending order they
    occupy the HEAD of each document's list — if a qualifying pair shares
    any capped shingle at all, the pigeonhole witness position p implies a
    shared capped shingle at position <= p, i.e. inside the probe prefix.

    Scale shape: the df table is one groupBy on the 8-byte shingle hash
    (map-side combine); the prefix rank is a window keyed by doc id
    (uniform — one doc's shingles, never a hot key); the candidate join is
    per-shingle bounded by df_cap on the index side and by the ~(1-t)
    prefix fraction on the probe side, so candidates track true pairs
    instead of all co-occurrences. The exact intersection then runs only
    over candidate pairs via the same bounded array join as
    ``verify_jaccard``. A pair ALL of whose shared shingles are
    corpus-common is not generated — that is the documented cap semantics
    (such "duplicates" are boilerplate overlap, which the cluster-level
    dedup is not supposed to merge).

    Returns (id_a, id_b, n_inter, n_a, n_b, containment, jaccard) for
    pairs with containment >= ``threshold``; both ratios rounded 4dp for
    cross-engine comparison.
    """
    # Same lifetime contract as minhash_dedup_pairs' persist_shingles:
    # the array relation feeds the df table AND both verify sides; the
    # bench/oracle harnesses clearCache() per query, and library callers
    # in long-lived sessions pass persist_shingles=False (or manage the
    # cache themselves) to avoid accumulating cached relations.
    arr = shingle_array(
        widen_if_narrow(df).filter(has_min_words(text_col, n)),
        n, text_col, id_col,
    )
    if persist_shingles:
        arr = arr.persist()
    cands = containment_candidates(arr, threshold, max_shingle_df)
    # Exact intersections via per-doc arrays (the same explode-free verify
    # as minhash_dedup_pairs): join candidate pairs to the pruned
    # (id, shingles) relation twice and size(array_intersect) in codegen.
    # The exploded relation above exists ONLY for the document-frequency
    # count and the capped pairing join — the intersection never touches it
    # (measured at 10x: the exploded-intersection variant spent 10+ minutes
    # in the candidates ⨝ shingles ⨝ shingles shuffle family; this one
    # carries each candidate doc's array once).
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    slim = arr.join(cand_ids, "id", "left_semi")
    a = slim.select(F.col("id").alias("id_a"), F.col("shingles").alias("__sa"))
    b = slim.select(F.col("id").alias("id_b"), F.col("shingles").alias("__sb"))
    n_inter = F.size(F.array_intersect("__sa", "__sb"))
    n_a, n_b = F.size("__sa"), F.size("__sb")
    cont = n_inter / F.least(n_a, n_b)
    jac = n_inter / (n_a + n_b - n_inter)
    return (
        cands.join(a, "id_a").join(b, "id_b")
        .filter(cont >= threshold)
        .select(
            "id_a", "id_b",
            n_inter.cast("long").alias("n_inter"),
            n_a.cast("long").alias("n_a"),
            n_b.cast("long").alias("n_b"),
            F.round(cont, 4).alias("containment"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


def containment_stop_shingles(
    df: DataFrame,
    n: int = 3,
    max_shingle_df: int = CONTAINMENT_MAX_SHINGLE_DF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Accounting counterpart of ``containment_pairs``'s df cap (the
    never-a-silent-cap convention, same as ``oversized_buckets``):
    (shingle, df) for every shingle the cap excluded from PAIRING.
    A pair whose every shared shingle is on this list is not generated;
    auditors can join this back to documents to see which cohorts that
    affects (in practice: corpus-wide boilerplate)."""
    sh = shingles(df, n, text_col, id_col)
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_shingle_df)
    )


def _span_anchors(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, pos, gh) k-gram anchors: one sliding window per document,
    gram hashed to 64 bits for the join key. Shared by the corpus-wide
    extractor and the candidate-restricted one."""
    words = F.split(F.col(text_col), " ")
    grams = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (k - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.xxhash64(F.concat_ws(" ", F.slice(words, i, k)))
                .alias("gh"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gh:bigint>>"))
    return (
        df.select(F.col(id_col).alias("id"), F.explode(grams).alias("g"))
        .select("id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    )


def _island_spans(matched: DataFrame, k: int, min_len: int) -> DataFrame:
    """Gaps-and-islands over (id_a, id_b, diag)-matched anchors: pos_a
    minus its row_number is constant within a run (the a9 idiom), runs
    of length run + k - 1 >= min_len become spans."""
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    runs = matched.withColumn(
        "__grp", F.col("pos_a") - F.row_number().over(w)
    )
    return (
        runs.groupBy("id_a", "id_b", "diag", "__grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count("*") + (k - 1)).alias("len_tokens"),
        )
        .filter(F.col("len_tokens") >= min_len)
        .select("id_a", "id_b", "start_a", "start_b", "len_tokens")
    )


def repeated_substring_spans(
    df: DataFrame,
    k: int = 5,
    min_len: int = 8,
    max_gram_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated SUBSTRING spans — the exact-substring
    dedup of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (they build a corpus suffix array; this is the
    shuffle-native equivalent): every maximal run of >= ``min_len``
    consecutive shared word tokens between two documents, reported as
    (id_a, id_b, start_a, start_b, len_tokens) with 1-based starts.
    Catches verbatim quotations / excerpt reposts long enough to memorize
    even when whole-document similarity is tiny — the case jaccard-style
    dedup (f7) and containment (f40) both under-weigh.

    Plan: (1) slide a k-token window over each doc -> (id, pos, gram)
    anchors, hashed to 64 bits for the join key; (2) drop grams present
    in more than ``max_gram_df`` documents (corpus boilerplate — the df
    cap is what bounds the self-join fanout, exactly containment_pairs'
    discipline); (3)
    equi-join anchors across documents (id_a < id_b): two positions on
    the same DIAGONAL (pos_a - pos_b) and consecutive in pos_a extend
    one shared substring, so (4) gaps-and-islands per (id_a, id_b, diag)
    — pos_a minus its row_number is constant within a run (the a9
    attribution-span sessionization idiom) — merges anchors into maximal
    spans of length run + k - 1 tokens.

    Scale shape: the anchor join is a hash equi-join whose per-key
    fanout the df cap bounds; the island window is keyed by
    (id_a, id_b, diag) — matched-pair-sized partitions, never a global
    sort; output rows are spans, not tokens. At 100 TB the anchors
    relation is the big intermediate (|tokens| rows) — it is a
    projection of the scan (no shuffle until the join), and the join
    moves only capped-df grams."""
    # anchors feeds the df-cap aggregation AND the capped relation;
    # rare feeds BOTH sides of the cross-document join. Unpersisted,
    # the corpus explode+hash subtree executed 4x (round-9 audit, the
    # minhash persist_shingles finding one family over) — persist
    # both, mirroring minhash_dedup_pairs' two persisted
    # intermediates. Cache lifetime is harness-owned. The anchor
    # slide+hash is scan-fused compute, so narrow inputs widen first
    # (`widen_if_narrow` — round 13; no-op on a multi-file table).
    anchors = _span_anchors(
        widen_if_narrow(df), k, text_col, id_col
    ).persist()
    rare = anchors.join(
        anchors.groupBy("gh")
        .agg(F.countDistinct("id").alias("__df"))
        .filter(F.col("__df") <= max_gram_df)
        .select("gh"),
        "gh",
        "left_semi",
    ).persist()
    a = rare.select(
        F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "gh"
    )
    b = rare.select(
        F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "gh"
    )
    matched = a.join(b, "gh").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "pos_a", "pos_b",
        (F.col("pos_a") - F.col("pos_b")).alias("diag"),
    )
    return _island_spans(matched, k, min_len)


def repeated_substring_spans_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    k: int = 5,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The CANDIDATE-RESTRICTED exact substring-span extractor — the
    100 TB form of `repeated_substring_spans`, and the two-stage
    pipeline Lee et al.'s dedup actually runs at scale: a cheap pair
    screen (MOSS winnowing, `text.winnow_pairs`; or MinHash) proposes
    candidate pairs, and the exact span extraction verifies ONLY those
    pairs. ``pairs`` is (id_a, id_b) with id_a < id_b.

    Two structural differences from the corpus-wide form, both because
    the pair gate replaces the df cap:

    - anchors are built only for documents that appear in some
      candidate pair (left-semi on the id set) — at crawl scale this
      is the big reduction, |candidate docs| tokens instead of
      |corpus| tokens;
    - NO max_gram_df cap, so spans over candidate pairs are EXACT even
      through corpus boilerplate (the cap exists to bound the
      corpus-wide gh self-join fanout; here the pair semi-join bounds
      the output, and per-(pair, gh) fanout is per-document gram
      multiplicity, not corpus df).

    Scale shape: anchor build is a projection of the scan; the a-side
    joins anchors to pairs on id_a (pair-count-sized output per
    anchor), the b-side equi-joins on (id_b, gh); the island window is
    keyed (id_a, id_b, diag) — matched-pair-sized partitions. The
    anchor relation persists (it feeds both join sides)."""
    # the candidate list has three consumers (both id-set branches +
    # the matched gate) — persist the pair-count-sized relation so the
    # screen that produced it runs once. Normalize + distinct are
    # CORRECTNESS, not hygiene: a duplicate pair duplicates every
    # matched anchor row, and row_number over equal pos_a then
    # fragments true runs into sub-min_len groups (spans silently
    # vanish). Orientation is NORMALIZED (least/greatest), not
    # filtered, so a screen that emits (j, i) still gets its spans;
    # self-pairs drop.
    pairs = (
        pairs.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
        .persist()
    )
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    anch = (
        _span_anchors(widen_if_narrow(df), k, text_col, id_col)
        .join(ids, "id", "left_semi")
        .persist()
    )
    a = anch.select(
        F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "gh"
    )
    b = anch.select(
        F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "gh"
    )
    matched = (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, ["id_b", "gh"])
        .select(
            "id_a", "id_b", "pos_a", "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    return _island_spans(matched, k, min_len)


def remove_repeated_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite documents with repeated substring spans CUT — the
    removal step of Lee et al. 2022 ("we remove the duplicate span
    from all but one document"), composing with `repeated_substring_
    spans` / `repeated_substring_spans_for_pairs`, whose output is the
    ``spans`` input: (id_a, id_b, start_a, start_b, len_tokens),
    id_a < id_b, 1-based token starts over single-space tokenization.

    Keep-first discipline (the `drop_repeated_paragraphs` convention
    one level down): every span's id_b-side occurrence is removed, the
    id_a side is kept — along a dup chain A < B < C with pairs (A,B),
    (B,C), the text survives ONLY in A, because each later doc is the
    id_b of some earlier one. Overlapping removal intervals within a
    doc merge before cutting (a token is removed once even when named
    by many pairs), so re-running on the rewrite is a no-op for the
    same span set.

    Output: (id_col, <other columns>, text_col rebuilt from kept
    tokens, n_tokens_removed). Docs with no spans ride through with
    n_tokens_removed = 0; a doc whose every token is removed keeps its
    row with text '' (unlike paragraph dedup, span removal is a
    rewrite, not an admission decision).

    Scale shape: interval merge is a window keyed by doc id over
    span-count-sized partitions (never tokens); the cut is a row-local
    higher-order filter over the token array — one scan of the corpus,
    no token-level shuffle anywhere.
    """
    iv = spans.select(
        F.col("id_b").alias("__rid"),
        F.col("start_b").cast("long").alias("__s"),
        (F.col("start_b") + F.col("len_tokens") - 1)
        .cast("long").alias("__e"),
    )
    w = Window.partitionBy("__rid").orderBy("__s", "__e")
    pmax = F.max("__e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = iv.withColumn(
        "__new",
        F.when(pmax.isNull() | (F.col("__s") > pmax), 1).otherwise(0),
    ).withColumn("__grp", F.sum("__new").over(w))
    per_doc = (
        isl.groupBy("__rid", "__grp")
        .agg(F.min("__s").alias("__s"), F.max("__e").alias("__e"))
        .groupBy("__rid")
        .agg(F.collect_list(F.struct("__s", "__e")).alias("__ivs"))
    )
    other = [c for c in docs.columns if c not in (id_col, text_col)]
    joined = docs.join(
        per_doc, docs[id_col] == per_doc["__rid"], "left"
    ).drop("__rid")
    toks = F.split(F.col(text_col), " ")
    ivs = F.coalesce(
        F.col("__ivs"),
        F.array().cast("array<struct<__s:bigint,__e:bigint>>"),
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            ivs,
            lambda v: (i + 1 >= v["__s"]) & (i + 1 <= v["__e"]),
        ),
    )
    return joined.select(
        id_col,
        *other,
        F.array_join(kept, " ").alias(text_col),
        (F.size(toks) - F.size(kept)).cast("long")
        .alias("n_tokens_removed"),
    )


def drop_repeated_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Rewrite documents with corpus-duplicated paragraphs removed,
    keeping each paragraph's FIRST occurrence (ordered by (doc id,
    position)) — the cutting side of the Dolma/Gopher paragraph rule
    that `paragraph_dedup_stats` only accounts for (Soldaini et al.
    2024 §4.1; Lee et al. 2022 apply the same keep-first convention at
    the sequence level). Paragraphs are ``sep``-separated spans
    (newline by default — pass '\\n\\n' for blank-line paragraphs).
    Documents whose every paragraph is a later duplicate drop out of
    the output entirely (their text would be '').

    Output: (id_col, <other columns>, text_col) with text_col rebuilt
    from the kept paragraphs in original order; all non-text columns
    ride along untouched.

    Scale shape: posexplode at scan speed; first-occurrence is ONE
    min_by aggregation keyed by the paragraph hash (map-side combine
    collapses hot boilerplate keys — deliberately NOT a row_number
    window, whose per-key sort would put a million-row boilerplate
    partition on one task); the join back is an equi-join on the hash;
    the rebuild is a doc-keyed groupBy. Hot paragraphs are the dedup
    signal itself, and they collapse in the combiner."""
    import re as _re

    other = [c for c in docs.columns if c not in (id_col, text_col)]
    # sep is a LITERAL separator on both sides: F.split takes a regex,
    # so escape it (an unescaped '|' or '.' would split every char)
    paras = docs.select(
        id_col, *other,
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("__pos", "__p"),
    ).withColumn("__h", F.md5(F.col("__p")))
    first = paras.groupBy("__h").agg(
        F.min(F.struct(id_col, "__pos")).alias("__first")
    )
    kept = paras.join(first, "__h").filter(
        (F.col(id_col) == F.col("__first")[id_col])
        & (F.col("__pos") == F.col("__first")["__pos"])
    )
    return (
        kept.groupBy(id_col, *other)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__p"))
                    ),
                    lambda s: s["__p"],
                ),
                sep,
            ).alias(text_col)
        )
    )


def sql_drop_repeated_paragraphs(
    docs_sql: str, sep: str = "\n", id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> str:
    """DuckDB mirror of `drop_repeated_paragraphs` over a (doc_id,
    [extra], text) relation: same keep-first-(id, pos) rule, same
    separator rebuild. The oracle may use a window where the engine
    uses min_by — values are identical, only the shuffle shape
    differs."""
    extras = "".join(f", {c}" for c in extra_cols)
    # literal separator, quote-safe (a raw newline inside a DuckDB
    # string literal is legal; only ' needs doubling)
    sep_sql = (
        "chr(10)" if sep == "\n" else "'" + sep.replace("'", "''") + "'"
    )
    return f"""
    WITH __docs AS ({docs_sql}),
    __paras AS (
      -- DuckDB 1.0 has no WITH ORDINALITY; positions via struct unnest
      SELECT {id_col}{extras},
             u.__s.__p AS __p, u.__s.__pos::BIGINT AS __pos
      FROM (SELECT *, string_split(text, {sep_sql}) AS __lines
            FROM __docs),
           unnest(list_transform(range(1, len(__lines) + 1),
                  i -> {{'__pos': i - 1, '__p': __lines[i]}}))
             AS u(__s)),
    __kept AS (
      SELECT * FROM __paras
      QUALIFY row_number() OVER (
        PARTITION BY md5(__p) ORDER BY {id_col}, __pos) = 1)
    SELECT {id_col}{extras},
           string_agg(__p, {sep_sql} ORDER BY __pos) AS text
    FROM __kept
    GROUP BY {id_col}{extras}
    """


def doc_chunks(
    docs: DataFrame, window: int = 64, stride: int = 48
) -> DataFrame:
    """Sliding-window chunking: (doc_id, chunk_idx, start_tok, n_tokens,
    chunk_hash) with ``window``-token chunks every ``stride`` tokens.
    The last chunk is the tail remainder (shorter than ``window``); a doc
    shorter than one window is exactly one chunk. chunk count =
    1 + ceil((n - window) / stride) for n > window.

    Everything is in-row: split, a `sequence` of chunk starts, one
    explode, `slice`, `md5(array_join(...))`. No shuffle, no Python.
    Emits a hash per chunk, not the chunk text, so downstream dedup moves
    fixed-size keys.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        F.ceil((n - window) / F.lit(float(stride))).cast("long") + 1
    )
    out = docs.select(
        "doc_id",
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    chunk = F.expr(f"slice(__toks, chunk_idx * {stride} + 1, {window})")
    return out.select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * stride).cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


def sql_doc_chunks(window: int = 64, stride: int = 48) -> str:
    """DuckDB oracle for doc_chunks (same chunk math, list slicing)."""
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents),
    m AS (
      SELECT doc_id, toks,
             CASE WHEN n <= {window} THEN 1
                  ELSE cast(ceil((n - {window}) / {stride}.0) AS BIGINT) + 1
             END AS n_chunks
      FROM t),
    e AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM m)
    SELECT doc_id, chunk_idx,
           (chunk_idx * {stride})::BIGINT AS start_tok,
           len(toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {window}])::BIGINT
             AS n_tokens,
           md5(array_to_string(
             toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {window}], ' '))
             AS chunk_hash
    FROM e
    """


def paragraph_dedup_stats(
    docs: DataFrame, para_words: int = 12, text_col: str = "text"
) -> DataFrame:
    """Paragraph-level exact dedup accounting (the Dolma / Gopher
    paragraph filter family — Soldaini et al. 2024 §4.1, Rae et al. 2021
    §A1.2, public papers): hash every paragraph, count how many DISTINCT
    documents each hash appears in, and report per document how much of
    it is corpus-duplicated. Pipelines drop documents whose duplicated
    fraction is high (boilerplate mirrors) and cut repeated paragraphs
    from the rest.

    The fixture corpus has no newlines, so a "paragraph" here is the
    non-overlapping ``para_words``-token chunk (``doc_chunks``
    with stride == window — one in-row explode, the tail remainder is
    the last paragraph); on real corpora pass the text pre-split on
    '\\n\\n' through the same hash->df->join shape. Output (all exact
    integers, the oracle-portable convention): (doc_id, n_paras,
    n_dup_paras, n_words, n_dup_words) where "dup" means the paragraph
    hash occurs in >= 2 distinct documents.

    Scale shape: chunking is in-row at scan speed; the df count is a
    partial-aggregatable groupBy keyed by chunk_hash (map-side combine
    collapses hot boilerplate hashes before the shuffle); the join back
    is an equi-join on chunk_hash followed by a doc_id-keyed groupBy.
    Nothing is O(n^2) and no window function is involved.
    """
    chunks = doc_chunks(docs, window=para_words, stride=para_words)
    df_counts = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("__df")
    )
    dup = F.col("__df") >= 2
    return (
        chunks.join(df_counts, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_paras"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("long")
            .alias("n_dup_paras"),
            F.sum("n_tokens").cast("long").alias("n_words"),
            F.sum(F.when(dup, F.col("n_tokens")).otherwise(0)).cast("long")
            .alias("n_dup_words"),
        )
    )


def sql_paragraph_dedup_stats(para_words: int = 12) -> str:
    """DuckDB oracle for paragraph_dedup_stats (same chunking math via
    sql_doc_chunks, same distinct-doc df rule)."""
    return f"""
    WITH chunks AS ({sql_doc_chunks(para_words, para_words)}),
    dfc AS (
      SELECT chunk_hash, count(DISTINCT doc_id) AS df
      FROM chunks GROUP BY chunk_hash)
    SELECT c.doc_id,
           count(*)::BIGINT AS n_paras,
           sum(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END)::BIGINT
             AS n_dup_paras,
           sum(c.n_tokens)::BIGINT AS n_words,
           sum(CASE WHEN dfc.df >= 2 THEN c.n_tokens ELSE 0 END)::BIGINT
             AS n_dup_words
    FROM chunks c JOIN dfc USING (chunk_hash)
    GROUP BY c.doc_id
    """


def bloom_bits_fit(
    keys: DataFrame, key_col: str, m_bits: int, k: int = 3, seed: int = 7
) -> DataFrame:
    """Fit a Bloom filter over ``keys`` as a relation of bit-words:
    (word BIGINT, bits BIGINT) with word = position // 64 — m_bits/64
    rows total. Built from first principles because Spark's
    bloom_filter_agg is optimizer-internal (not in the public function
    registry): k positions per key via seeded xxhash64, explode, one
    `bit_or` groupBy. The result is tiny (2^20 bits = 16k longs) and
    broadcastable however large the key set's ORIGIN corpus is — m
    scales with the key-set cardinality a pipeline chooses, not with
    the data probed against it.

    Scale shape: one narrow explode (k rows/key) + a word-keyed
    partial-aggregatable bit_or — bit-words combine map-side, so the
    shuffle moves at most m_bits/64 rows per mapper.
    """
    pos = F.explode(
        F.array(
            *[
                F.pmod(
                    F.xxhash64(F.col(key_col), F.lit(seed + i)),
                    F.lit(m_bits),
                )
                for i in range(k)
            ]
        )
    ).alias("pos")
    return (
        keys.select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int,
    k: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Rows of ``df`` whose key passes every Bloom position — k chained
    BROADCAST joins against the bit-word relation, so the probed side
    never shuffles (the point of a Bloom prefilter at 100 TB: the
    corpus flows map-side; only survivors reach the expensive exact
    stage). False-positive rate is the standard (1 - e^(-kn/m))^k;
    false negatives are impossible, which is what lets the exact
    confirm stage downstream restore exact semantics.
    """
    out = df
    for i in range(k):
        word_i = (
            F.pmod(F.xxhash64(F.col(key_col), F.lit(seed + i)),
                   F.lit(m_bits))
            / 64
        ).cast("long")
        mask_i = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST("
            f"pmod(xxhash64({key_col}, {seed + i}), {m_bits}) % 64 AS INT))"
        )
        b = bloom.select(
            F.col("word").alias(f"__w{i}"), F.col("bits").alias(f"__b{i}")
        )
        out = (
            out.join(
                F.broadcast(b), word_i == F.col(f"__w{i}"), "inner"
            )
            .filter((F.col(f"__b{i}").bitwiseAND(mask_i)) != 0)
            .drop(f"__w{i}", f"__b{i}")
        )
    return out


def bloom_decontaminate(
    docs: DataFrame,
    bench_pred,
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Two-stage benchmark decontamination — the 100 TB form of f28's
    exact n-gram overlap: (1) Bloom-prefilter corpus shingles against
    the benchmark set's filter (map-side, no corpus shuffle), (2) exact
    join only the survivors to strike false positives. Because a Bloom
    filter has NO false negatives, the output is byte-identical to the
    exact single-stage plan — the DuckDB oracle for this operator IS
    the exact SQL, proving the prefilter preserves semantics while the
    probed side drops to the true-overlap rate before the join.

    ``bench_pred`` is a boolean Column over shingle rows (id-based)
    selecting the held-out benchmark documents.
    Returns (doc_id, n_shared) over non-benchmark documents.
    """
    sh = shingles(docs, n)
    # bench feeds the bloom fit AND the exact confirm join, and the
    # fitted filter broadcasts into k chained probe joins — without
    # the persist/checkpoint the bench scan re-ran once per consumer
    # (round-9 audit: 5 document scans; now 2 — bench + corpus). The
    # checkpointed filter is m/64 = 16k longs, negligible to pin.
    bench = sh.filter(bench_pred).select("shingle").distinct().persist()
    bloom = bloom_bits_fit(bench, "shingle", m_bits, k).localCheckpoint(
        eager=True
    )
    corpus = sh.filter(~bench_pred)
    survivors = bloom_prefilter(corpus, "shingle", bloom, m_bits, k)
    return (
        survivors.join(F.broadcast(bench), "shingle")
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .select(F.col("id").alias("doc_id"), "n_shared")
    )
