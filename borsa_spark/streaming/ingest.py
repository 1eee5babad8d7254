"""Continuous training-data ingestion: a streaming dedup-admission
pipeline over ``foreachBatch`` with persisted corpus state.

Each micro-batch of freshly crawled documents is screened before
admission:

1. **intra-batch exact dedup** — md5(text), first doc_id wins;
2. **exact-vs-corpus** — md5 anti-join against the stored corpus hashes;
3. **near-dup-vs-corpus** — the batch's MinHash band keys equi-join the
   corpus's STORED band keys (precomputed at admission time, never
   recomputed), candidates verified with exact Jaccard over in-row
   shingle arrays (functions/dedup.py `verify_jaccard_inrow`).

Survivors are appended to the corpus state — (id, text_md5, shingles)
arrays plus their band keys — so the next batch pays only its own
signature cost plus a banded cross-set join. This is the streaming form
of query f35 (`minhash_pairs_against_inrow`): the corpus side never
re-pairs with itself, and state grows only by admitted docs.

Exactly-once: ``foreachBatch`` can replay a batch after restart. State
writes go to PER-BATCH subdirectories (``arrays/batch-{id}/``) in
overwrite mode, and the commit marker ``_batches/batch-{id}.json`` is
written LAST: a replay of an uncommitted batch overwrites its own
partial output (idempotent), and a replay of a committed batch returns
before touching state — the marker protocol of `streaming/markers.py`.

Scale shape at 100 TB/day ingest: state is partitioned parquet keyed by
band/bucket; the per-batch work is (batch bands x corpus bands) on
(band, band_key) — bounded by cross-set bucket co-occupancy — plus one
broadcast-able md5 anti-join (batch hashes are small; corpus hashes
prune via the band join's bucket locality). Nothing driver-side except
the admission-log row.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from borsa_spark.functions import dedup as dd
from borsa_spark.streaming import markers

_ARRAYS_SCHEMA = "id long, text_md5 string, shingles array<long>"
#: band_key2 is a second, independent hash of the same band tuple —
#: stored so the hot-bucket cap can count occupancy by BOTH keys: two
#: sub-cap buckets can then merge (and wrongly exclude true candidate
#: pairs) only on a double 64-bit collision (~2^-128), restoring
#: parity with the batch library's exact-tuple `_cap_band_buckets`
#: at 16 bytes per stored band row instead of the 48-byte tuple
_BANDS_SCHEMA = "id long, band int, band_key long, band_key2 long"

#: Default hot-bucket cap for the ingest gates — tighter than the batch
#: library's CRAWL_MAX_BUCKET because the candidate join here runs
#: per MICRO-BATCH against ever-growing stored state, so per-bucket
#: cost recurs every trigger. Shared by DedupIngest, ImageDedupIngest,
#: and `admission_frame` (which predicts process_batch's decision —
#: a round-10 review caught the two defaults diverging; round 12
#: closed the cap-counting divergence via the stored second band hash,
#: see admission_frame's docstring).
INGEST_MAX_BUCKET = 64


def _committed_log(batches_dir: str) -> list[dict]:
    """Committed admission log, shared by every ingest class:
    torn-tolerant marker reads (streaming/markers.py — a crash-torn or
    in-flight .tmp marker is uncommitted, never a stream-wedging
    JSONDecodeError), compaction supersession (if the process died
    between writing a compaction marker and deleting the batches it
    folded, both are on disk — the superseded ones must not
    double-count), and stable chronology (compaction ids "cN" replace
    the OLDEST batches, so they sort before live integer ids)."""
    out = markers.read_log(batches_dir)
    superseded = {b for e in out for b in e.get("compacted_from", [])}
    out = [e for e in out if e["batch"] not in superseded]
    out.sort(
        key=lambda e: (0, int(str(e["batch"])[1:]))
        if isinstance(e["batch"], str)
        else (1, e["batch"])
    )
    return out


class DedupIngest:
    """Stateful dedup-admission over micro-batches. Attach with
    ``stream.writeStream.foreachBatch(ingest.process_batch)`` or drive
    batches directly (the unit-test / backfill path)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        n: int = 3,
        threshold: float = 0.5,
        max_bucket_size: int | None = INGEST_MAX_BUCKET,
        quality_gate=None,
    ):
        """``quality_gate``: optional ``Callable[[DataFrame], Column]``
        returning a boolean keep-predicate over a (doc_id, text) batch —
        run BEFORE any dedup work so rejected docs never pay shingle
        cost and never enter corpus state (the f43/f53 admission rules
        composed with the stream; see `admission_gate` for a stock one).
        Quality rejections are accounted separately in the batch marker
        (``rejected_quality``)."""
        self.spark = spark
        self.state_dir = state_dir
        self.n = n
        self.threshold = threshold
        self.max_bucket_size = max_bucket_size
        self.quality_gate = quality_gate
        os.makedirs(os.path.join(state_dir, "_batches"), exist_ok=True)

    # -- state ----------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _read_state(self, name: str, schema: str) -> DataFrame:
        # Only COMMITTED batch dirs are visible: an uncommitted replayed
        # batch may have partial files on disk, but its marker is absent.
        base = self._path(name)
        committed = [
            os.path.join(base, f"batch-{e['batch']}")
            for e in self.admission_log()
        ]
        committed = [p for p in committed if os.path.exists(p)]
        if committed:
            return self.spark.read.schema(schema).parquet(*committed)
        return self.spark.createDataFrame([], schema)

    def corpus_arrays(self) -> DataFrame:
        return self._read_state("arrays", _ARRAYS_SCHEMA)

    def corpus_bands(self) -> DataFrame:
        return self._read_state("bands", _BANDS_SCHEMA)

    def admission_log(self) -> list[dict]:
        return _committed_log(self._path("_batches"))

    # -- the batch hook -------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # "bands": "k2" stamps the band-state revision (round 12: the
        # stored relation gained band_key2) — pre-revision state would
        # count cap occupancy with NULL key2 and must refuse loudly,
        # not silently degrade to single-key counting
        guard_state_mode(
            self.state_dir,
            {"n": self.n, "threshold": self.threshold, "bands": "k2"},
        )
        marker = os.path.join(self._path("_batches"), f"batch-{batch_id}.json")
        if markers.load_marker(marker) is not None:
            return  # replay with a PARSEABLE marker: state is final

        docs = batch_df.select("doc_id", "text")
        n_in = docs.count()

        # 0. quality admission gate (scan-speed predicate) BEFORE dedup:
        # a rejected doc never pays shingle cost, never enters state.
        n_quality_rejected = 0
        if self.quality_gate is not None:
            docs = docs.filter(self.quality_gate(docs))
            n_quality_rejected = n_in - docs.count()

        # 1. intra-batch exact dedup: first doc_id per text hash wins.
        hashed = docs.withColumn("text_md5", F.md5("text"))
        first = hashed.groupBy("text_md5").agg(F.min("doc_id").alias("keep_id"))
        batch_u = (
            hashed.join(first, "text_md5")
            .filter(F.col("doc_id") == F.col("keep_id"))
            .drop("keep_id")
        )

        # 2. exact-vs-corpus: stored hashes anti-join (id side is tiny per
        # batch; Spark broadcasts the smaller side under AQE).
        corpus_arr = self.corpus_arrays()
        batch_u = batch_u.join(
            corpus_arr.select("text_md5").distinct(), "text_md5", "left_anti"
        )

        # 3. near-dup-vs-corpus: batch signatures vs STORED corpus bands.
        # ONE shingle pass per batch: arr_all (unfiltered, incl. empty
        # arrays for sub-n-word docs) is persisted and feeds screening AND
        # the state write — re-shingling admitted docs would double the
        # dominant scan cost of every batch.
        arr_all = dd.shingle_array(batch_u, self.n, "text", "doc_id").persist()
        n_hot_buckets, hot, admitted = 0, None, None
        # try/finally around everything after the first persist: an
        # exception mid-batch (e.g. a state-dir write failure) must not
        # leak the cached blocks — launch_plan's restart loop would
        # accumulate one leak per failed batch (round-10 ADVICE).
        try:
            arr = arr_all.filter(F.size("shingles") > 0)
            sig = dd.signature_from_array(arr)
            bk = dd.lsh_band_keys(sig, with_key2=True)
            if self.max_bucket_size is not None:
                # COMBINED batch+corpus occupancy (round 10, the image
                # ingest's fix applied here too): near-identical boilerplate
                # texts differ in md5, so the exact screen admits them and
                # an uncapped STORED band bucket grows with every admission
                # — each future batch's candidate join then fans out against
                # it. Corpus counts are left-semi-pruned to this batch's
                # keys, so the agg is bounded by the batch's key set.
                # Occupancy is counted by (band_key, band_key2) — TWO
                # independent hashes of the band tuple (round-11 verdict):
                # a single stored-key collision can no longer merge two
                # sub-cap buckets past the cap and EXCLUDE true candidate
                # pairs; a both-keys collision is ~2^-128. This restores
                # parity with `_cap_band_buckets`' exact-tuple counting
                # at 16 bytes of stored key per band row.
                cap_keys = ["band", "band_key", "band_key2"]
                batch_counts = bk.groupBy(*cap_keys).agg(
                    F.count("*").alias("__nb")
                )
                corpus_counts = (
                    self.corpus_bands()
                    .join(batch_counts.select(*cap_keys),
                          cap_keys, "left_semi")
                    .groupBy(*cap_keys)
                    .agg(F.count("*").alias("__nc"))
                )
                hot = (
                    batch_counts.join(corpus_counts, cap_keys,
                                      "left_outer")
                    .filter(
                        F.col("__nb") + F.coalesce(F.col("__nc"), F.lit(0))
                        > self.max_bucket_size
                    )
                    .select(*cap_keys)
                    .persist()
                )
                n_hot_buckets = hot.count()
                bk = bk.join(hot, cap_keys, "left_anti")
            cands = (
                bk.select(F.col("id").alias("id_a"), "band", "band_key")
                .join(
                    self.corpus_bands().select(
                        F.col("id").alias("id_b"), "band", "band_key"
                    ),
                    ["band", "band_key"],
                )
                .select("id_a", "id_b")
                .distinct()
            )
            both = arr.unionByName(
                corpus_arr.select("id", "shingles")
            )
            dup_ids = (
                dd.verify_jaccard_inrow(cands, both, self.threshold)
                .select(F.col("id_a").alias("doc_id"))
                .distinct()
            )
            admitted = batch_u.join(dup_ids, "doc_id", "left_anti").persist()
            n_admit = admitted.count()

            # 4. write survivors' arrays + bands to this batch's OWN state
            # dir (overwrite: an uncommitted replay redoes its partial
            # output), marker LAST. Arrays come from the PERSISTED batch
            # relation (left-semi to admitted ids), not a fresh shingle
            # pass.
            adm_hash = admitted.select(
                F.col("doc_id").alias("id"), "text_md5"
            )
            adm_arr = arr_all.join(adm_hash.select("id"), "id", "left_semi")
            (
                adm_arr.join(adm_hash, "id")
                .select("id", "text_md5", "shingles")
                .write.mode("overwrite")
                .parquet(self._path(f"arrays/batch-{batch_id}"))
            )
            adm_bands = dd.lsh_band_keys(
                dd.signature_from_array(
                    adm_arr.filter(F.size("shingles") > 0)
                ),
                with_key2=True,
            )
            adm_bands.write.mode("overwrite").parquet(
                self._path(f"bands/batch-{batch_id}")
            )

            markers.write_marker(
                marker,
                {
                    "batch": int(batch_id),
                    "received": int(n_in),
                    "admitted": int(n_admit),
                    "rejected": int(n_in - n_admit),
                    "rejected_quality": int(n_quality_rejected),
                    # never a silent cap: buckets the combined batch+corpus
                    # guard excluded from near-dup candidates this batch
                    "hot_buckets": int(n_hot_buckets),
                },
            )
        finally:
            # per-batch persists die with the batch (a foreachBatch stream
            # runs thousands of these) — success or failure alike
            arr_all.unpersist()
            if admitted is not None:
                admitted.unpersist()
            if hot is not None:
                hot.unpersist()

    # -- attach to a stream --------------------------------------------
    def attach(self, stream_df: DataFrame, checkpoint: str, **opts):
        """Start the admission stream: documents stream in, survivors land
        in corpus state, the per-batch admission log records the rest."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .options(**opts)
            .start()
        )


def guard_state_mode(
    state_dir: str, params: dict, include_env_hash: bool = True
) -> None:
    """Persistent dedup state is only meaningful under the build params
    it was written with: stored band keys joined against another
    banding/hash mode match NOTHING, so screening would silently admit
    every duplicate with a healthy-looking log. Stamp the mode on first
    use and refuse loudly on mismatch. ``include_env_hash`` adds
    ``BORSA_SPARK_SHINGLE_HASH`` to the identity (the text-shingle
    state depends on it, exactly as `CorpusArtifacts` markers do;
    image-dHash state does not — pass False there, or an unrelated env
    flip would refuse perfectly valid state). Call this from EVERY
    process_batch, not just construction: a long-lived stream must
    refuse the moment the state is rebuilt under different params
    beneath it (this is THE shared implementation — a second copy is a
    bug farm, the markers.py lesson)."""
    path = os.path.join(state_dir, "_mode.json")
    current = dict(params)
    if include_env_hash:
        current["shingle_hash"] = os.environ.get(
            "BORSA_SPARK_SHINGLE_HASH", "md5"
        )
    try:
        with open(path) as f:
            stored = json.load(f)
    except (OSError, ValueError):
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(current, f)
        os.replace(tmp, path)
        return
    if stored != current:
        raise RuntimeError(
            f"state at {state_dir} was built with {stored}, but this"
            f" process runs {current}; mixing hash modes silently breaks"
            f" every band join — rebuild the state or restore the mode."
        )


def admission_gate(
    blocklist: tuple[str, ...] = (),
    max_block_density: float = 0.10,
    min_tokens: int = 0,
    max_tokens: int | None = None,
):
    """Stock quality gate for `DedupIngest`: the f53 blocklist-density
    rule plus an f43-style token-length band, composed as ONE in-row
    boolean expression (no explode, no shuffle — the gate adds zero cost
    beyond the scan the batch already pays). Returns the
    ``Callable[[DataFrame], Column]`` shape `quality_gate` expects."""

    def gate(docs: DataFrame):
        toks = F.split(F.col("text"), " ")
        keep = F.size(toks) >= min_tokens
        if max_tokens is not None:
            keep = keep & (F.size(toks) <= max_tokens)
        if blocklist:
            hits = F.filter(toks, lambda w: w.isin(*blocklist))
            keep = keep & (
                F.size(hits) <= max_block_density * F.size(toks)
            )
        return keep

    return gate


def sql_ingest_admission(corpus_pred_sql: str, threshold: float = 0.5) -> str:
    """DuckDB oracle for one ingest batch: documents where NOT
    ``corpus_pred_sql`` form the batch, the rest are the pre-seeded
    corpus; a batch doc is admitted iff it is the first of its md5 group
    within the batch, its text doesn't appear in the corpus, and it has
    no cross-set near-dup pair at ``threshold`` (f35's exact pair
    semantics)."""
    sh = dd.sql_shingles(3)
    return f"""
    WITH sh AS ({sh}),
    batch AS (
      SELECT doc_id, md5(text) AS text_md5 FROM documents
      WHERE NOT ({corpus_pred_sql})),
    corpus AS (
      SELECT doc_id, md5(text) AS text_md5 FROM documents
      WHERE ({corpus_pred_sql})),
    firsts AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (
                 PARTITION BY text_md5 ORDER BY doc_id) AS rk
        FROM batch) WHERE rk = 1),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    xpairs AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.id IN (SELECT doc_id FROM batch)
        AND b.id IN (SELECT doc_id FROM corpus)
      GROUP BY 1, 2),
    neardup AS (
      SELECT DISTINCT id_a AS doc_id FROM xpairs
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= {threshold})
    SELECT b.doc_id, (
             b.doc_id IN (SELECT doc_id FROM firsts)
             AND b.text_md5 NOT IN (SELECT text_md5 FROM corpus)
             AND b.doc_id NOT IN (SELECT doc_id FROM neardup)
           ) AS admitted
    FROM batch b
    """


def admission_frame(
    docs: DataFrame,
    pred,
    threshold: float = 0.5,
    max_bucket_size: int | None = INGEST_MAX_BUCKET,
) -> DataFrame:
    """One ingest batch as a pure DataFrame program (no state writes):
    ``pred`` is a callable Column->Column marking the pre-seeded corpus
    side (applied to the id column); everything else is the batch. Returns
    (doc_id, admitted) with the decision ``process_batch`` makes —
    first-of-md5 within the batch, text absent from the corpus, and no
    verified cross-set near-dup at ``threshold``. The oracle-checkable
    face of the streaming pipeline (query f48 — which passes
    ``max_bucket_size=None`` explicitly because its oracle replays the
    uncapped cross-set pairs; the stateful crawl path keeps the capped
    default, applied at union occupancy).

    Parity note: this frame caps by the exact band tuple
    (`minhash_pairs_against_inrow`); the stateful path counts by TWO
    independent 64-bit hashes of the same tuple (round 12 — it
    previously counted by the single stored key, where one collision
    could merge two sub-cap buckets past the cap and drop candidates
    this frame keeps). The paths now diverge only on a double-hash
    collision (~2^-128 per bucket pair) — physically never."""
    hashed = docs.select("doc_id", "text", F.md5("text").alias("text_md5"))
    # batch feeds the first-of-md5 agg AND the decision join — persist
    # the micro-batch-sized relation so its scan+md5 runs once
    # (round-9 audit; the corpus side scans once per distinct use)
    batch = hashed.filter(~pred(F.col("doc_id"))).persist()
    corpus = hashed.filter(pred(F.col("doc_id")))
    firsts = batch.groupBy("text_md5").agg(F.min("doc_id").alias("keep_id"))
    near = (
        dd.minhash_pairs_against_inrow(
            docs, pred(F.col("id")), threshold=threshold,
            max_bucket_size=max_bucket_size,
        )
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    corpus_md5 = corpus.select("text_md5").distinct().withColumn(
        "__exact", F.lit(True)
    )
    out = (
        batch.join(firsts, "text_md5")
        .join(corpus_md5, "text_md5", "left")
        .join(near, "doc_id", "left")
    )
    admitted = (
        (F.col("doc_id") == F.col("keep_id"))
        & F.col("__exact").isNull()
        & F.col("__near").isNull()
    )
    return out.select("doc_id", admitted.alias("admitted"))


def compact_state(ing: DedupIngest) -> dict:
    """Merge all committed per-batch state dirs into a single compacted
    batch dir — the OPTIMIZE step for long-running ingest (thousands of
    micro-batches leave thousands of small parquet dirs; scan planning
    cost grows with file count, not data size).

    Same two-phase discipline as admission: the compacted data is written
    to a fresh batch dir under a RESERVED id, its marker is written last
    (carrying the summed admission totals of everything it replaced), and
    only then are the replaced batch markers + dirs removed. A crash at
    any point leaves either the old committed batches (compacted dir
    invisible without its marker) or the new one (old dirs are garbage,
    never double-counted: their markers are deleted before their data).
    """
    return _compact(
        ing, stages=("arrays", "bands"),
        sum_fields=("received", "admitted", "rejected",
                    "rejected_quality", "hot_buckets"),
    )


def compact_image_state(ing: "ImageDedupIngest") -> dict:
    """`compact_state` for the image ingest: folds committed per-batch
    hashes/bands dirs into one reserved-id dir with the identical
    two-phase crash discipline."""
    return _compact(
        ing, stages=("hashes", "bands"),
        sum_fields=("received", "admitted", "rejected", "hot_buckets"),
    )


def _compact(ing, stages: tuple[str, ...],
             sum_fields: tuple[str, ...]) -> dict:
    """Shared compaction core over any ingest with per-batch stage dirs
    + `_committed_log` markers (see compact_state docstring for the
    crash discipline)."""
    import shutil

    log = ing.admission_log()
    if len(log) <= 1:
        return {"compacted": 0}
    old_ids = [e["batch"] for e in log]
    # Compaction ids live in a STRING namespace ("c0", "c1", ...) that can
    # never collide with Structured Streaming's integer batch ids — a
    # numeric reserved range (max+1M) eventually collides on a
    # long-running stream and process_batch would silently no-op the live
    # batch that reached the reserved id. The next index comes from the
    # MAX over every cN marker ON DISK (committed, superseded, or
    # crash-stray alike) — counting strings in the post-supersession log
    # would reuse "c1" on the third compaction and destroy the live
    # compacted state it collides with.
    used = [-1]
    for f in os.listdir(ing._path("_batches")):
        m = re.fullmatch(r"batch-c(\d+)\.json", f)
        if m:
            used.append(int(m.group(1)))
    new_id = f"c{max(used) + 1}"

    readers = {
        "arrays": lambda: ing.corpus_arrays(),
        "bands": lambda: ing.corpus_bands(),
        "hashes": lambda: ing.corpus_hashes(),
    }
    for stage in stages:
        readers[stage]().repartition(8).write.mode("overwrite").parquet(
            ing._path(f"{stage}/batch-{new_id}")
        )
    marker = os.path.join(ing._path("_batches"), f"batch-{new_id}.json")
    payload = {"batch": new_id, "compacted_from": old_ids}
    for field in sum_fields:
        payload[field] = sum(e.get(field, 0) for e in log)
    markers.write_marker(marker, payload)
    for bid in old_ids:
        os.remove(os.path.join(ing._path("_batches"), f"batch-{bid}.json"))
        for name in stages:
            shutil.rmtree(ing._path(f"{name}/batch-{bid}"), ignore_errors=True)
    return {"compacted": len(old_ids), "into": new_id}


_IMG_HASH_SCHEMA = "id long, payload_md5 string, bands array<int>"
_IMG_BANDS_SCHEMA = "id long, band int, band_key long"


class ImageDedupIngest:
    """`DedupIngest`'s contract for IMAGE assets: each micro-batch of
    (asset_id, payload binary) is screened before admission —

    1. **intra-batch exact dedup** — md5(payload), first asset_id wins;
    2. **exact-vs-corpus** — payload md5 anti-join against stored
       hashes (byte-identical refetches);
    3. **near-dup-vs-corpus** — the batch's dHash band keys equi-join
       the corpus's STORED band keys (functions/multimodal.py
       `dhash_band_keys`; precomputed at admission, never re-decoded),
       candidates verified with EXACT hamming over the stored 8-byte
       band arrays; re-encodes / one-pixel edits land within
       ``max_hamming`` and are rejected.

    Decode runs ONCE per batch (`image_dhash`, Arrow-batched), and only
    for docs that survive the exact screens; survivors append (id,
    payload_md5, bands) plus band keys to state, so corpus images are
    never re-decoded — state per image is the md5 + 8 small ints
    (~50 bytes), independent of payload size.

    Defaults follow the round-9 scale drill: ``rows_per_band=2``
    (16-bit band keys — byte keys saturate at ~10^4 images) with the
    pigeonhole bound max_hamming <= 8/rows_per_band - 1 enforced, and
    the hot-bucket cap applied to the COMBINED batch+corpus bucket
    occupancy (round-10: capping only the batch side let every admitted
    flat variant grow the stored all-zero bucket that each future
    batch's candidate join fans out against). BYTE-IDENTICAL members of
    a capped cohort are still rejected by the exact md5 screen; members
    that differ in bytes but collide in every band (distinct-color flat
    images) are admitted and counted in the marker's ``hot_buckets``
    accounting — route those cohorts through exact (full-hash) dedup
    downstream, the `minhash_candidates` oversized-bucket playbook.

    Exactly-once: the `streaming/markers.py` protocol — per-batch
    overwrite state dirs, marker written LAST, parseable-marker replay
    short-circuit — identical to the text ingest.

    ``hasher`` swaps the perceptual hash while keeping every screen,
    guard, and marker identical: any (asset_id, payload) -> (asset_id,
    bands array<int>, decoder) DataFrame transform with `image_dhash`'s
    contract works — pass `multimodal.audio_dhash` (and its `kind`) to
    run the SAME admission gate over an audio crawl. The hash kind is
    part of the state identity: image bands joined against audio state
    match nothing, so the mode guard refuses the mix loudly."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        max_hamming: int = 3,
        rows_per_band: int = 2,
        max_bucket_size: int | None = INGEST_MAX_BUCKET,
        hasher=None,
        kind: str = "image_dhash",
    ):
        if 8 % rows_per_band:
            raise ValueError("rows_per_band must divide the 8 dHash rows")
        n_bands = 8 // rows_per_band
        if max_hamming > n_bands - 1:
            raise ValueError(
                f"{n_bands}-band LSH guarantees recall only for "
                f"max_hamming <= {n_bands - 1}"
            )
        self.spark = spark
        self.state_dir = state_dir
        self.max_hamming = max_hamming
        self.rows_per_band = rows_per_band
        self.max_bucket_size = max_bucket_size
        self.hasher = hasher
        self.kind = kind
        os.makedirs(os.path.join(state_dir, "_batches"), exist_ok=True)
        self._guard_mode()

    def _hash(self, assets: DataFrame) -> DataFrame:
        if self.hasher is not None:
            return self.hasher(assets)
        from borsa_spark.functions import multimodal as mm

        return mm.image_dhash(assets)

    def _guard_mode(self) -> None:
        """Band keys are only joinable against state built with the
        same banding AND hash kind — the shared `guard_state_mode`,
        without the shingle-hash env field (media state does not
        depend on it)."""
        guard_state_mode(
            self.state_dir,
            {
                "kind": self.kind,
                "rows_per_band": self.rows_per_band,
                "max_hamming": self.max_hamming,
            },
            include_env_hash=False,
        )

    # -- state ------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def admission_log(self) -> list[dict]:
        return _committed_log(self._path("_batches"))

    def _read_state(self, name: str, schema: str) -> DataFrame:
        base = self._path(name)
        committed = [
            os.path.join(base, f"batch-{e['batch']}")
            for e in self.admission_log()
        ]
        committed = [p for p in committed if os.path.exists(p)]
        if committed:
            return self.spark.read.schema(schema).parquet(*committed)
        return self.spark.createDataFrame([], schema)

    def corpus_hashes(self) -> DataFrame:
        return self._read_state("hashes", _IMG_HASH_SCHEMA)

    def corpus_bands(self) -> DataFrame:
        return self._read_state("bands", _IMG_BANDS_SCHEMA)

    # -- the batch hook ----------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from borsa_spark.functions import multimodal as mm

        # per-batch, not just construction: a long-lived stream must
        # refuse the moment the state is rebuilt under other params
        self._guard_mode()
        marker = os.path.join(
            self._path("_batches"), f"batch-{batch_id}.json"
        )
        if markers.load_marker(marker) is not None:
            return  # committed replay: state is final

        assets = batch_df.select("asset_id", "payload")
        n_in = assets.count()
        corpus_h = self.corpus_hashes()

        # 1+2. exact screens FIRST (md5 over raw bytes — no decode):
        # intra-batch first-id-wins, then stored-hash anti-join.
        hashed = assets.withColumn("payload_md5", F.md5("payload"))
        first = hashed.groupBy("payload_md5").agg(
            F.min("asset_id").alias("keep_id")
        )
        uniq = (
            hashed.join(first, "payload_md5")
            .filter(F.col("asset_id") == F.col("keep_id"))
            .drop("keep_id")
        )
        uniq = uniq.join(
            corpus_h.select("payload_md5").distinct(),
            "payload_md5", "left_anti",
        )

        # 3. decode ONCE (only exact-survivors pay it), then band-join
        # the stored corpus keys; exact hamming verifies candidates.
        dh = (
            self._hash(uniq.select("asset_id", "payload"))
            .join(
                uniq.select("asset_id", "payload_md5"), "asset_id"
            )
            .persist()
        )
        n_hot_buckets, hot, admitted = 0, None, None
        # try/finally mirrors the text ingest: a failed batch must not
        # leak its cached blocks across launch_plan restarts (r10 ADVICE)
        try:
            bk = mm.dhash_band_keys(
                dh.select("asset_id", "bands"), self.rows_per_band
            )
            if self.max_bucket_size is not None:
                # Cap the COMBINED bucket (batch + stored corpus occupancy),
                # not just the batch side (round-9 ADVICE): distinct-color
                # flat images differ in md5 — the exact screen only catches
                # byte-identical payloads — but all dHash to the same
                # all-zero bands, so an uncapped CORPUS bucket grows with
                # every admitted flat variant and each future batch's
                # candidate join fans out against it. Corpus counts are
                # computed only for keys this batch touches (left_semi
                # prune), so the agg is bounded by the batch's key set.
                batch_counts = bk.groupBy("band", "band_key").agg(
                    F.count("*").alias("__nb")
                )
                corpus_counts = (
                    self.corpus_bands()
                    .join(
                        batch_counts.select("band", "band_key"),
                        ["band", "band_key"], "left_semi",
                    )
                    .groupBy("band", "band_key")
                    .agg(F.count("*").alias("__nc"))
                )
                hot = (
                    batch_counts.join(corpus_counts, ["band", "band_key"],
                                      "left_outer")
                    .filter(
                        F.col("__nb") + F.coalesce(F.col("__nc"), F.lit(0))
                        > self.max_bucket_size
                    )
                    .select("band", "band_key")
                    .persist()
                )
                n_hot_buckets = hot.count()
                # dropping the keys from the batch side removes them from
                # the equi-join entirely; the corpus side needs no filter
                bk = bk.join(hot, ["band", "band_key"], "left_anti")
            cands = (
                bk.select(F.col("id").alias("id_a"), "band", "band_key")
                .join(
                    self.corpus_bands().select(
                        F.col("id").alias("id_b"), "band", "band_key"
                    ),
                    ["band", "band_key"],
                )
                .select("id_a", "id_b")
                .distinct()
            )
            ham = (
                cands.join(
                    dh.select(F.col("asset_id").alias("id_a"),
                              F.col("bands").alias("__ba")),
                    "id_a",
                )
                .join(
                    corpus_h.select(
                        F.col("id").alias("id_b"),
                        F.col("bands").alias("__bb"),
                    ),
                    "id_b",
                )
                .withColumn(
                    "__h",
                    F.aggregate(
                        F.zip_with(
                            "__ba", "__bb",
                            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
                        ),
                        F.lit(0),
                        lambda acc, x: acc + x,
                    ),
                )
            )
            dup_ids = (
                ham.filter(F.col("__h") <= self.max_hamming)
                .select(F.col("id_a").alias("asset_id"))
                .distinct()
            )
            admitted = dh.join(dup_ids, dh.asset_id == dup_ids.asset_id,
                               "left_anti").persist()
            n_admit = admitted.count()

            # 4. per-batch overwrite state dirs, marker LAST
            adm = admitted.select(
                F.col("asset_id").alias("id"), "payload_md5", "bands"
            )
            adm.write.mode("overwrite").parquet(
                self._path(f"hashes/batch-{batch_id}")
            )
            mm.dhash_band_keys(
                admitted.select("asset_id", "bands"), self.rows_per_band
            ).select("id", "band", "band_key").write.mode("overwrite").parquet(
                self._path(f"bands/batch-{batch_id}")
            )

            markers.write_marker(
                marker,
                {
                    "batch": int(batch_id),
                    "received": int(n_in),
                    "admitted": int(n_admit),
                    "rejected": int(n_in - n_admit),
                    # never a silent cap: buckets the combined batch+corpus
                    # guard excluded from near-dup candidates this batch
                    "hot_buckets": int(n_hot_buckets),
                },
            )
        finally:
            dh.unpersist()
            if admitted is not None:
                admitted.unpersist()
            if hot is not None:
                hot.unpersist()

    # -- attach to a stream ------------------------------------------
    def attach(self, stream_df: DataFrame, checkpoint: str, **opts):
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .options(**opts)
            .start()
        )
