"""Training-data pipeline tour: dedup -> cluster -> quality gate -> split
— the beyond-reference operator families, composed the way a corpus-prep
job would.

Run: python examples/training_data_tour.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from borsa_spark.functions import dedup as dd  # noqa: E402
from borsa_spark.functions import text as tx  # noqa: E402
from borsa_spark.session import get_spark  # noqa: E402
from borsa_spark.sources import load_table  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark("training-data-tour")
    docs = load_table(spark, SF, "documents")

    # 1. near-dup pairs (MinHash+LSH candidates, exact-Jaccard verify)
    pairs = dd.minhash_dedup_pairs(docs, n=3, threshold=0.5)
    print("== near-dup pairs ==")
    pairs.show(5)

    # 2. connected components -> canonical doc per cluster
    sh = dd.shingles(docs, 3)
    exact_pairs = dd.jaccard_pairs(sh, 0.5)
    comp = dd.dup_clusters(
        exact_pairs, docs.select(F.col("doc_id").alias("id"))
    )
    canonical = comp.filter(F.col("id") == F.col("comp"))
    print(f"== {canonical.count()} canonical docs of {docs.count()} ==")

    # 3. per-language median quality gate + deterministic split
    med = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med")
    )
    kept = (
        docs.join(
            canonical.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
        )
        .join(F.broadcast(med), "lang")
        .filter(F.col("n_chars") > F.col("med"))
        .select("doc_id", tx.split_assign(F.col("doc_id")).alias("split"))
    )
    print("== final corpus by split ==")
    kept.groupBy("split").count().show()

    # 4. continuous ingest: screen a "new batch" against the existing
    # corpus (cross-set pairs only — in-batch and in-corpus dups are
    # other stages' jobs)
    incoming = dd.minhash_pairs_against(sh, (F.col("id") % 5) == 0, 0.5)
    print("== new-batch docs near-duplicating the corpus ==")
    incoming.show(5)

    # 5. leakage-safe split + mixture planning (queries f36/f34): whole
    # dup-clusters share a split; per-source weights hit a uniform target
    from borsa_spark.queries import QUERIES

    print("== split sizes when keyed by CLUSTER (no cross-split dups) ==")
    QUERIES["f36_leakage_safe_split"](spark, SF) \
        .groupBy("split").count().show()
    print("== per-source mixture weights (uniform token target) ==")
    QUERIES["f34_mixture_weights"](spark, SF) \
        .orderBy(F.col("weight").desc()).show(5)

    # 6. admission + ordering (queries f53/f54): blocklist density gate
    # at scan speed, then the seeded shuffle that fixes training order
    print("== blocklist verdicts ==")
    QUERIES["f53_blocklist_filter"](spark, SF) \
        .groupBy("keep").count().show()
    print("== training order (seeded, hierarchical rank) ==")
    QUERIES["f54_training_order"](spark, SF) \
        .orderBy("position").show(5)

    # 7. round-6 quality + fingerprinting: repetition signals rank the
    # spammiest docs; winnowing fingerprints give the position-robust
    # near-dup signature at 1/w the shingle storage; stratified_sample
    # rebalances the language mix deterministically
    print("== most repetitive docs (top-bigram dominance) ==")
    tx.repetition_signals(docs).orderBy(
        F.desc("top_bigram_frac")).show(5)
    print("== winnowing fingerprints (MOSS) ==")
    tx.winnow_fingerprints(docs).orderBy("doc_id").show(5)
    print("== language mix before/after stratified sample ==")
    kept = tx.stratified_sample(
        docs, "lang", {"en": 0.35}, default_rate=1.0, salt="tour")
    docs.groupBy("lang").count().withColumnRenamed("count", "before") \
        .join(kept.groupBy("lang").count()
              .withColumnRenamed("count", "after"), "lang") \
        .orderBy("lang").show()

    # 8. round-7 crawl family: paragraph-level dedup accounting, the
    # corpus-self-trained LM quality score, DSIR importance weights +
    # the deterministic Gumbel-top-k selection they feed, and the
    # Bloom-prefiltered (exact-semantics) decontamination
    from borsa_spark.functions.dedup import (
        bloom_decontaminate,
        paragraph_dedup_stats,
    )

    print("== paragraph dedup (most corpus-duplicated docs) ==")
    paragraph_dedup_stats(docs).orderBy(
        F.desc("n_dup_words"), "doc_id").show(5)
    print("== unigram-LM quality score (distribution tails get cut) ==")
    scores = tx.unigram_logprob_scores(docs)
    scores.orderBy("avg_logprob").show(3)
    scores.orderBy(F.desc("avg_logprob")).show(3)
    tgt = F.col("source").isin("src0", "src1")
    print("== DSIR: top-weighted docs for the src0/src1 target ==")
    tx.dsir_importance_weights(docs, tgt).orderBy(F.desc("llr")).show(5)
    print("== DSIR Gumbel-top-k selection (deterministic sample) ==")
    tx.dsir_gumbel_topk(docs, tgt, k=8).show()
    print("== Bloom-prefiltered decontamination (exact semantics) ==")
    bloom_decontaminate(docs, F.col("id") % 7 == 0, n=8) \
        .orderBy(F.desc("n_shared")).show(5)

    # 9. both halves of the CCNet quality filter: the trained
    # discriminative classifier (f77) and the Stupid Backoff LM whose
    # held-out docs pay the backoff penalty on unseen bigrams (f78)
    from borsa_spark.functions.classifier import hashed_logreg_scores

    print("== trained logreg quality classifier (top/bottom probs) ==")
    probs = hashed_logreg_scores(docs, tgt)
    probs.orderBy(F.desc("prob")).show(3)
    probs.orderBy("prob").show(3)
    print("== Stupid Backoff bigram LM (lowest-scoring docs) ==")
    tx.bigram_backoff_scores(docs, F.col("doc_id") % 4 != 0) \
        .orderBy("avg_logscore").show(5)

    spark.stop()


if __name__ == "__main__":
    main()
