"""Text-analysis operators for large-scale training-data pipelines.

All column expressions are built-in pyspark.sql.functions — JVM-side,
whole-stage-codegen'd, no Python in the hot path. Each has an exact ANSI-SQL
equivalent (declared in borsa_spark.queries) so the DuckDB oracle can verify
it; at 100 TB these run as a single scan + narrow projection with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Small per-language stopword sets for the n-gram/stopword language
#: heuristic. Order matters: ties resolve to the earlier language.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "les", "et", "des", "une"),
    "zh": ("de", "shi", "le", "zai", "he"),
}

#: word-ish tokens: letter runs, digit runs, or single punctuation — a
#: BPE-ish pre-tokenizer shape expressible as one portable regex.
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"

PUNCT_CLASS = "[.,!?;:]"


def tokens(text: Column) -> Column:
    """Whitespace tokens (single-space split; empty tokens preserved so the
    count matches the SQL string_split exactly)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def regex_token_count(text: Column) -> Column:
    """Count of TOKEN_REGEX matches — the BPE-ish token estimate."""
    return F.regexp_count(F.lower(text), F.lit(TOKEN_REGEX))


def punct_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(PUNCT_CLASS))


def distinct_token_ratio(text: Column) -> Column:
    t = tokens(text)
    return F.size(F.array_distinct(t)) / F.size(t)


def stopword_hits(text: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    return F.size(
        F.filter(tokens(F.lower(text)), lambda t: t.isin(*STOPWORDS[lang]))
    )


def lang_guess(text: Column) -> Column:
    """Argmax of per-language stopword hits; ties go to the earlier language
    in STOPWORDS order. Deterministic, fully JVM-side."""
    hits = {lg: stopword_hits(text, lg) for lg in STOPWORDS}
    langs = list(STOPWORDS)
    expr = F.lit(langs[-1])
    for lg in reversed(langs[:-1]):
        cond = None
        for other in langs[langs.index(lg) + 1:]:
            c = hits[lg] >= hits[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lg)).otherwise(expr)
    return expr


def quality_score(text: Column, target_tokens: int = 50) -> Column:
    """Length-saturation × lexical-diversity score in [0, 1] — the classic
    cheap pretraining-quality heuristic (length + repetition)."""
    return F.round(
        F.least(F.lit(1.0), token_count(text) / F.lit(float(target_tokens)))
        * distinct_token_ratio(text),
        4,
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the punctuation-stripped,
    lower-cased text. Stable across engines (md5 is bit-identical)."""
    return F.md5(F.regexp_replace(F.lower(text), "[^a-z0-9 ]", ""))


#: C4 cleaning constants, faithful to where Raffel et al. 2020 §2.2
#: applies each rule (public paper). LINE rules: terminal punctuation,
#: >= 3 words, no "javascript". PAGE rules: the whole page is dropped
#: if it mentions "lorem ipsum" or contains a curly brace (code) — so
#: those surface as a page-level flag here, not as line removal. (The
#: paper's 5-count is its minimum SENTENCES PER PAGE, a separate
#: page rule callers apply over n_kept — not a words-per-line bound.)
C4_LINE_MIN_WORDS = 3
C4_TERMINAL_RE = "[.!?\"']$"
C4_LINE_BLOCKLIST: tuple[str, ...] = ("javascript",)
C4_PAGE_BLOCKLIST: tuple[str, ...] = ("lorem ipsum", "{")


def c4_line_filter(text: Column, min_words: int = C4_LINE_MIN_WORDS
                   ) -> Column:
    """struct(clean_text, n_lines, n_kept, page_flagged) — C4's
    cleaning as one in-row array expression (split on newline, per-line
    rules in a filter lambda, rejoin): the text-side stage before
    document-level scoring. Pure JVM, zero shuffle — at 100 TB this
    rides the corpus scan.

    A line is kept iff trimmed it ends in . ! ? or a quote, has >=
    ``min_words`` whitespace words, and contains no
    `C4_LINE_BLOCKLIST` marker (case-insensitive). ``page_flagged`` is
    true when the PAGE mentions a `C4_PAGE_BLOCKLIST` marker — C4
    drops such pages whole; the decision is surfaced, not applied, so
    callers can count what a drop policy would cost."""
    lines = F.split(text, "\n")

    def keep(line: Column) -> Column:
        t = F.trim(line)
        low = F.lower(t)
        # \s+ not a literal space: C4 tokenizes on any whitespace, and
        # a tab-separated >=3-word line must not collapse to one token
        words = F.size(F.filter(F.split(t, "\\s+"), lambda w: w != ""))
        cond = t.rlike(C4_TERMINAL_RE) & (words >= F.lit(min_words))
        for marker in C4_LINE_BLOCKLIST:
            cond = cond & ~low.contains(marker)
        return cond

    kept = F.filter(lines, keep)
    flagged = F.lit(False)
    for marker in C4_PAGE_BLOCKLIST:
        flagged = flagged | F.lower(text).contains(marker)
    return F.struct(
        F.array_join(
            F.transform(kept, lambda line: F.trim(line)), "\n"
        ).alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        flagged.alias("page_flagged"),
    )


def sql_stopword_hits(text_sql: str, lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(string_split(lower({text_sql}), ' '), "
        f"t -> t IN ({words})))"
    )


def sql_lang_guess(text_sql: str) -> str:
    """DuckDB SQL mirroring lang_guess()."""
    langs = list(STOPWORDS)
    hits = {lg: sql_stopword_hits(text_sql, lg) for lg in langs}
    case = f"'{langs[-1]}'"
    for lg in reversed(langs[:-1]):
        conds = " AND ".join(
            f"{hits[lg]} >= {hits[o]}" for o in langs[langs.index(lg) + 1:]
        )
        case = f"CASE WHEN {conds} THEN '{lg}' ELSE {case} END"
    return case


def hash_bucket(id_col: Column, salt: str, n_buckets: int = 10_000) -> Column:
    """Portable deterministic bucket: 60-bit md5 hash of "salt:id" mod
    n_buckets — stable across runs, partitionings, and engines (no rand(),
    no row-order dependence); re-salting gives an independent assignment.
    SQL equivalent (DuckDB):
    ``('0x' || substr(md5('salt:' || id::VARCHAR), 1, 15))::BIGINT % n``.
    """
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), id_col.cast("string"))), 1, 15
            ),
            16, 10,
        ).cast("long"),
        F.lit(n_buckets),
    )


def sql_hash_bucket(id_sql: str, salt: str, n_buckets: int = 10_000) -> str:
    """DuckDB SQL mirroring hash_bucket()."""
    return (
        f"('0x' || substr(md5('{salt}:' || ({id_sql})::VARCHAR), 1, 15))"
        f"::BIGINT % {n_buckets}"
    )


def split_assign(id_col: Column, weights: dict[str, float] | None = None,
                 salt: str = "split") -> Column:
    """Deterministic, engine-portable train/valid/test assignment.

    bucket = `hash_bucket` (portable 60-bit md5 mod 10_000); cut points
    from cumulative weights. The split a 100 TB pipeline can re-derive
    from the id alone without a membership table.
    """
    weights = weights or {"train": 0.9, "valid": 0.05, "test": 0.05}
    total = sum(weights.values())
    bucket = hash_bucket(id_col, salt)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cut = int(round(acc * 10_000))
        cond = bucket < F.lit(cut)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    return (expr.otherwise(last) if expr is not None else F.lit(last))


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

#: (tag, pattern) — patterns restricted to the regex subset Java
#: (Spark JVM) and RE2 (DuckDB) agree on: no backrefs, no lookaround.
PII_PATTERNS: list[tuple[str, str]] = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("SSN", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("PHONE", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
    ("IPV4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
]


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII accounting + redaction: (doc_id, n_email, n_ssn,
    n_phone, n_ipv4, redacted_hash). Detection is `regexp_count` per
    pattern; redaction replaces each match with `[TAG]` — applied in
    PII_PATTERNS order, so SSN/PHONE run on email-redacted text (an email
    local part can contain digit runs; ordering is part of the contract).
    The hash of the redacted text is emitted instead of the text itself:
    the gate checks the transform without shipping a second copy of the
    corpus through the comparator.

    All JVM-side regex at scan speed — the 100 TB shape. A clean corpus
    yields all-zero counts and redacted_hash == md5(text); behavior on
    dirty text is pinned by tests/test_retrieval_pii.py on constructed
    rows (this fixture corpus contains no PII, production corpora do).
    """
    t = F.col(text_col)
    # Column-valued patterns (not F.expr / SQL literals): Spark SQL string
    # literals eat backslashes, the Python API passes the regex verbatim.
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{tag.lower()}")
        for tag, pat in PII_PATTERNS
    ]
    red = t
    for tag, pat in PII_PATTERNS:
        red = F.regexp_replace(red, pat, f"[{tag}]")
    return docs.select("doc_id", *counts, F.md5(red).alias("redacted_hash"))


def sql_pii_scrub(text_sql: str = "text") -> str:
    """DuckDB oracle mirroring pii_scrub (same patterns, same order)."""
    counts = ", ".join(
        f"len(regexp_extract_all({text_sql}, '{pat}'))::BIGINT AS n_{tag.lower()}"
        for tag, pat in PII_PATTERNS
    )
    red = text_sql
    for tag, pat in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '[{tag}]', 'g')"
    return f"SELECT doc_id, {counts}, md5({red}) AS redacted_hash FROM documents"


# ---------------------------------------------------------------------------
# Repetition signals / deterministic sampling / winnowing fingerprints
# ---------------------------------------------------------------------------


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021, "Scaling Language Models", §A1.1 filter family — public paper):
    (doc_id, n_words, dup_word_frac, top_bigram_frac). High duplicate-word
    or dominant-bigram fractions mark boilerplate/spam documents a
    training pipeline drops before tokenization.

    dup_word_frac   = 1 - |distinct words| / |words|       (in-row, no shuffle)
    top_bigram_frac = max bigram count / total bigrams     (explode + 2 keyed
                                                            aggs on doc_id)

    Scale shape: the unigram stats never leave the row (`array_distinct`
    inside codegen); the bigram side explodes to |words| rows keyed by
    doc_id, and both aggregations are partial-aggregatable groupBys on
    that key — no window, no driver loop, no cross-doc shuffle beyond
    the doc_id hash. Docs with < 2 words get top_bigram_frac = 0.
    """
    words = docs.select("doc_id", F.split(F.col(text_col), " ").alias("l"))
    uni = words.select(
        "doc_id",
        F.size("l").alias("n_words"),
        F.size(F.array_distinct("l")).alias("n_distinct"),
    )
    bigrams = (
        words.filter(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1),"
                    " i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
                )
            ).alias("g"),
        )
    )
    top = (
        bigrams.groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("total"))
    )
    return uni.join(top, "doc_id", "left").select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.coalesce(F.col("top_c"), F.lit(0)).cast("long").alias("top_c"),
        F.coalesce(F.col("total"), F.lit(0)).cast("long").alias("n_bigrams"),
        # Ratio columns for threshold filters; the exact integer columns
        # above are what the oracle hashes (rounded quotients are the one
        # cross-engine divergence class — see the module docstring).
        F.round(1.0 - F.col("n_distinct") / F.col("n_words"), 4).alias(
            "dup_word_frac"
        ),
        F.round(
            F.coalesce(F.col("top_c") / F.col("total"), F.lit(0.0)), 4
        ).alias("top_bigram_frac"),
    )


def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float,
    salt: str = "sample",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the mixture-rebalancing
    primitive (keep 10% of Common-Crawl-like strata, 100% of curated
    ones). Membership is a pure function of (salt, id): re-running the
    pipeline, re-partitioning, or re-ordering the input cannot change
    the sample, and a different salt draws an independent one — the
    property `rand()`-based sampling loses the moment tasks retry.

    keep iff hash_bucket(id, salt, 10_000) < round(rate * 10_000).

    Scale shape: one codegen'd md5 + modulo per row at scan speed; the
    filter prunes BEFORE any downstream shuffle, so a 10% stratum pays
    10% of everything after it. No sampling state, no driver RNG.
    """
    bucket = hash_bucket(F.col(id_col), salt)
    cut = None
    for name, rate in rates.items():
        c = F.when(
            F.col(stratum_col) == name, F.lit(int(round(rate * 10_000)))
        )
        cut = c if cut is None else cut.when(
            F.col(stratum_col) == name, F.lit(int(round(rate * 10_000)))
        )
    cut = (
        cut.otherwise(int(round(default_rate * 10_000)))
        if cut is not None
        else F.lit(int(round(default_rate * 10_000)))
    )
    return docs.filter(bucket < cut)


def winnow_fingerprints(
    docs: DataFrame, k: int = 3, w: int = 4, text_col: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm, public paper): hash every word
    k-gram, slide a window of ``w`` consecutive hashes, record the
    minimum of each window. Guarantees any shared run of >= k + w - 1
    words between two documents shares at least one fingerprint, at
    ~1/w the storage of full k-gram shingling — the classic
    position-robust near-dup/plagiarism signature.

    Hash = md5 hex of the space-joined k-gram, minimum = lexicographic —
    both engine-portable, so the oracle replays fingerprints
    byte-for-byte (xxhash64 would be Spark-local). Returns per-document
    (doc_id, n_grams, n_fp, min_fp, max_fp); only full windows are
    scored (docs shorter than k + w - 1 words yield no row), matching
    the paper's definition.

    Scale shape: explode to one row per k-gram position (|words| rows,
    keyed by doc_id), one per-doc ordered window (`min` over w-1
    following — state is w hashes), one partial-aggregatable groupBy.
    Everything JVM-side; the only shuffle keys are doc_id.
    """
    fps = _winnow_fp_rows(docs, k, w, text_col)
    return fps.groupBy("doc_id").agg(
        F.first("n_grams").cast("long").alias("n_grams"),
        F.countDistinct("fp").cast("long").alias("n_fp"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


def _winnow_fp_rows(
    docs: DataFrame, k: int, w: int, text_col: str
) -> DataFrame:
    """(doc_id, n_grams, pos0, fp) — one row per full winnowing window;
    the shared core of `winnow_fingerprints` and `winnow_pairs`."""
    base = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("l")
    ).filter(F.size("l") >= k + w - 1)
    grams = base.select(
        "doc_id",
        (F.size("l") - (k - 1)).alias("n_grams"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(l) - {k - 1}),"
                f" i -> md5(concat_ws(' ', slice(l, i, {k}))))"
            )
        ).alias("pos0", "h"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos0").rowsBetween(0, w - 1)
    return grams.select(
        "doc_id",
        "n_grams",
        "pos0",
        F.min("h").over(win).alias("fp"),
    ).filter(F.col("pos0") + w <= F.col("n_grams"))


def winnow_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """The MOSS pair screen: (id_a, id_b, shared_fps) for document pairs
    sharing >= ``min_shared`` winnowing fingerprints. This is what the
    fingerprints are FOR — the cheap candidate generator in front of the
    exact machinery: feed its pairs to `dedup.repeated_substring_spans`
    (restricted to candidates) instead of letting the span extractor
    join every rare anchor corpus-wide.

    Fingerprints appearing in more than ``max_fp_df`` documents are
    dropped before the self-join — corpus boilerplate (every doc shares
    it, so it identifies nothing) and the exact discipline that bounds
    the join fanout in `containment_pairs` / `repeated_substring_spans`:
    candidate count tracks true overlap, never fp-df².

    Scale shape: per-(doc, fp) dedup and the df cap are partial-
    aggregatable groupBys on fp; the pair join is an equi-join on fp
    whose per-key fanout the cap bounds; the final groupBy is keyed by
    the pair. No window beyond the per-doc selection, no global sort.
    """
    from borsa_spark.functions.dedup import widen_if_narrow

    # sel feeds the df cap AND the capped relation; capped feeds both
    # join sides — unpersisted, the winnow scan ran 4x (round-9 audit,
    # the repeated_substring_spans finding one operator over). The
    # gram explode feeding the winnow window is scan-fused — widen a
    # narrow input first (round 13; no-op on a multi-file table).
    sel = (
        _winnow_fp_rows(widen_if_narrow(docs), k, w, text_col)
        .select("doc_id", "fp")
        .distinct()
        .persist()
    )
    rare = (
        sel.groupBy("fp")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= max_fp_df)
        .select("fp")
    )
    capped = sel.join(rare, "fp", "left_semi").persist()
    a = capped.select(F.col("doc_id").alias("id_a"), "fp")
    b = capped.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Corpus language-model scoring / importance resampling
# ---------------------------------------------------------------------------


def unigram_logprob_scores(docs: DataFrame,
                           text_col: str = "text") -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020 §3.3, public
    paper — there a KenLM 5-gram; here the distributed analog a corpus
    can self-train in two aggregations): fit an add-1-smoothed unigram
    LM on the corpus itself, then score every document by its mean token
    log-probability. Documents far below the corpus mean are gibberish /
    boilerplate; far above are degenerate repetition — both ends get
    dropped or down-weighted before tokenization.

    p(w) = (c(w) + 1) / (N + V)   with c = corpus count, N = total
    tokens, V = vocabulary size; avg_logprob = mean over the document's
    TOKEN OCCURRENCES of ln p(w). Returns (doc_id, n_tokens,
    avg_logprob rounded to 4 — each ln is engine-bit-identical to ~1
    ulp and the per-doc sum is a few hundred terms, so the rounded
    value sits ~1e-13 from the boundary, the portable-float convention).

    Scale shape: ONE corpus scan. Everything derives from the
    per-(doc, token) tf pre-aggregation (stopword fanout collapses
    map-side): vocab counts roll tf up by token, totals roll vocab up —
    identical subtrees, so Spark's ReusedExchange runs the scan +
    explode once (plan-guarded in tests/test_plan_shapes.py). The
    vocab relation joins back broadcast here, a token-keyed equi-join
    at 100 TB; totals is a 1-row broadcast; the final agg is keyed by
    doc_id.
    """
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("__tf"))
    vocab = tf.groupBy("tok").agg(F.sum("__tf").alias("__c"))
    totals = vocab.agg(
        F.sum("__c").alias("__n"), F.count("*").alias("__v")
    )
    logp = F.log((F.col("__c") + 1) / (F.col("__n") + F.col("__v")))
    return (
        tf.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("__tf").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("__tf") * logp) / F.sum("__tf"), 4
            ).alias("avg_logprob"),
        )
    )


def sql_unigram_logprob_scores(table: str = "documents") -> str:
    """DuckDB oracle mirroring unigram_logprob_scores."""
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM {table}),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT sum(c) AS n, count(*) AS v FROM vocab),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2)
    SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
           round(sum(tf * ln((c + 1.0) / (n + v))) / sum(tf), 4)
             AS avg_logprob
    FROM tf JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """


def dsir_importance_weights(
    docs: DataFrame,
    target: Column,
    n_buckets: int = 1024,
    salt: str = "dsir",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", NeurIPS — public paper):
    estimate target and raw distributions over HASHED word-bigram
    features (the paper's hashed n-gram generative model), and weight
    every document by its log-likelihood ratio

        llr(doc) = sum over bigram occurrences g of
                   ln p_target(b(g)) - ln p_raw(b(g))

    with b = portable md5 bucket (`hash_bucket`, engine-stable) and
    add-1 smoothing over ``n_buckets`` buckets. Selecting documents by
    top llr (or Gumbel-resampling with it) tilts a raw crawl toward the
    target domain. ``target`` is any boolean Column over the input rows
    (e.g. F.col('source') == 'curated').

    Returns (doc_id, n_bigrams, llr rounded to 4); documents with < 2
    tokens have no features and emit no row — callers treat absent as
    llr 0.

    Scale shape: ONE corpus scan. Both distributions and the scoring
    side derive from the same per-(doc, target-flag, bucket) tf
    pre-aggregation (hot buckets collapse map-side), so Spark's
    ReusedExchange runs the scan + bigram explode once (plan-guarded);
    raw/target rollups are ``n_buckets``-bounded after that collapse,
    the per-bucket weight relation is tiny and broadcast, and the final
    agg is keyed by doc_id. Nothing scales with vocab — that is the
    point of the paper's hashing.
    """
    base = docs.select(
        "doc_id",
        target.alias("__t"),
        F.split(F.col(text_col), " ").alias("__l"),
    ).filter(F.size("__l") >= 2)
    feats = base.select(
        "doc_id",
        "__t",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__l) - 1),"
                " i -> concat(element_at(__l, i), ' ',"
                " element_at(__l, i + 1)))"
            )
        ).alias("__g"),
    ).select(
        "doc_id", "__t",
        # coalesce-to-0 never fires (g is non-null post-explode) but
        # marks __bkt non-nullable, so the scoring join infers no
        # isnotnull(__bkt) — which would push into the STREAM lineage
        # only (the build side's Window blocks it), de-canonicalize the
        # shared tf subtree, and cost a second corpus scan.
        F.coalesce(
            hash_bucket(F.col("__g"), salt, n_buckets), F.lit(0)
        ).alias("__bkt"),
    )
    # __t is doc-constant, so this tf relation is per-(doc, bucket);
    # every downstream relation rolls IT up, sharing one exchange.
    btf = feats.groupBy("doc_id", "__t", "__bkt").agg(
        F.count("*").alias("__tf")
    )
    # Both distributions in ONE conditional-sum rollup: a raw/target
    # split via filter+join would let Catalyst push the __t predicate
    # below the tf aggregate, de-canonicalizing the subtree and
    # defeating ReusedExchange (observed: 3 corpus scans instead of 1).
    # N_raw / N_target as whole-relation window sums INSIDE the
    # bucket-sized weights relation (n_buckets rows — a SinglePartition
    # window there is free): a separate `weights.agg(...)` relation
    # canonicalizes differently from the join's build side (the join
    # pushes a null-filter into one lineage but not the other) and
    # costs a second corpus scan.
    everything = Window.partitionBy()
    weights = (
        btf.groupBy("__bkt")
        .agg(
            F.sum("__tf").alias("__cr"),
            F.sum(
                F.when(F.col("__t"), F.col("__tf")).otherwise(F.lit(0))
            ).alias("__ct"),
        )
        .select(
            "__bkt", "__cr", "__ct",
            F.sum("__cr").over(everything).alias("__nr"),
            F.sum("__ct").over(everything).alias("__nt"),
        )
    )
    term = F.log(
        (F.col("__ct") + 1) / (F.col("__nt") + F.lit(n_buckets))
    ) - F.log((F.col("__cr") + 1) / (F.col("__nr") + F.lit(n_buckets)))
    return (
        btf.join(F.broadcast(weights), "__bkt")
        .groupBy("doc_id")
        .agg(
            F.sum("__tf").cast("long").alias("n_bigrams"),
            F.round(F.sum(F.col("__tf") * term), 4).alias("llr"),
        )
    )


def sql_dsir_importance_weights(
    target_sql: str, n_buckets: int = 1024, salt: str = "dsir",
    table: str = "documents",
) -> str:
    """DuckDB oracle mirroring dsir_importance_weights (same md5
    bucketing via sql_hash_bucket, same smoothing)."""
    bkt = sql_hash_bucket("g", salt, n_buckets)
    return f"""
    WITH base AS (
      SELECT doc_id, ({target_sql}) AS t, string_split(text, ' ') AS l
      FROM {table}),
    feats AS (
      SELECT doc_id, t,
             {bkt} AS bkt
      FROM (SELECT doc_id, t,
                   unnest(list_transform(range(1, len(l)),
                          i -> l[i] || ' ' || l[i + 1])) AS g
            FROM base WHERE len(l) >= 2)),
    raw AS (SELECT bkt, count(*) AS cr FROM feats GROUP BY bkt),
    tgt AS (SELECT bkt, count(*) AS ct FROM feats WHERE t GROUP BY bkt),
    w AS (
      SELECT raw.bkt, cr, coalesce(ct, 0) AS ct
      FROM raw LEFT JOIN tgt ON raw.bkt = tgt.bkt),
    tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM w),
    tf AS (SELECT doc_id, bkt, count(*) AS tf FROM feats GROUP BY 1, 2)
    SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
           round(sum(tf * (ln((ct + 1.0) / (nt + {n_buckets}))
                         - ln((cr + 1.0) / (nr + {n_buckets})))), 4)
             AS llr
    FROM tf JOIN w USING (bkt) CROSS JOIN tot
    GROUP BY doc_id
    """


def dsir_gumbel_topk(
    docs: DataFrame,
    target: Column,
    k: int,
    temperature: float = 1.0,
    n_buckets: int = 1024,
    salt: str = "gumbel",
    text_col: str = "text",
) -> DataFrame:
    """The selection step of DSIR (Xie et al. 2023 §2: sample WITHOUT
    replacement proportional to exp(llr/T)) via the Gumbel-top-k trick
    (Kool et al. 2019, public paper): add independent Gumbel noise to
    each document's scaled log-weight and keep the k largest keys —
    exactly a weighted sample without replacement, as one top-k.

    The noise is DETERMINISTIC and engine-portable: u = (md5 bucket of
    the doc id over 1e6 + 0.5) / 1e6 (exact rational, identical double
    in every engine), g = -ln(-ln(u)). Re-running the pipeline, any
    repartitioning, or replaying on another engine selects the SAME
    sample — the property `rand()` loses on task retry — and a new salt
    draws an independent one. Keys are snapped to 6 decimals with a
    doc_id tie-break so the top-k boundary cannot flip on the ~1-ulp
    cross-engine ln() difference.

    Returns the selected rows: (doc_id, llr, key). Scale shape: the llr
    relation is `dsir_importance_weights` (one corpus scan); the top-k
    compiles to TakeOrderedAndProject — per-partition heaps of k, no
    global sort, no full-result shuffle.
    """
    w = dsir_importance_weights(
        docs, target, n_buckets=n_buckets, salt=salt + "-feat",
        text_col=text_col,
    )
    u = (hash_bucket(F.col("doc_id"), salt, 1_000_000) + 0.5) / 1e6
    gumbel = -F.log(-F.log(u))
    key = F.round(F.col("llr") / temperature + gumbel, 6)
    return (
        w.select("doc_id", "llr", key.alias("key"))
        .orderBy(F.col("key").desc(), F.col("doc_id"))
        .limit(k)
    )


def bigram_backoff_scores(
    docs: DataFrame,
    train: Column,
    alpha: float = 0.4,
    text_col: str = "text",
) -> DataFrame:
    """Stupid Backoff bigram LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation", EMNLP §4 — the backoff
    score designed explicitly for distributed count-based LMs: no
    normalization pass, every quantity a corpus count). The LM is fit
    on the ``train`` subset and every document is scored, so held-out
    documents exercise the backoff path on their unseen bigrams —
    the CCNet perplexity-filter shape (train on trusted text, score
    the crawl) one model order up from `unigram_logprob_scores`.

        S(w2 | w1) = c2(w1 w2) / c1ctx(w1)          if c2 > 0
                   = alpha * (c1(w2) + 1) / (N + V) otherwise

    All counts derive from TRAIN BIGRAM OCCURRENCES (one shared
    relation): c2 = train count of the bigram, c1ctx(w) = occurrences
    of w as a predecessor (so S sums to 1 over seen successors),
    c1(w) = occurrences of w as a successor, N/V = total/distinct
    successor occurrences, add-1 so out-of-vocabulary words score
    finitely. Returns (doc_id, n_bigrams, avg_logscore) — the mean ln S
    over the document's bigram occurrences, rounded to 4 (the f73
    portable-float budget: each ln is ~1-ulp engine-stable and per-doc
    sums are a few hundred terms). Documents with < 2 tokens emit no
    row, the `dsir_importance_weights` convention.

    Scale shape: ONE corpus scan AT RUNTIME — the per-(doc,
    train-flag, w1, w2) tf pre-aggregation is the shared exchange
    (train counts are conditional sums inside it, never a pushed-down
    filter — the f74 de-canonicalization lesson: a pushed filter
    would specialize each consumer's scan and kill reuse), and AQE's
    ReusedExchange feeds bigram/context/unigram relations and the
    score probe from that one exchange (final-plan guard:
    `test_bigram_backoff_single_corpus_scan`). Totals is a 1-row
    broadcast.
    """
    base = docs.select(
        "doc_id",
        train.alias("__t"),
        F.split(F.col(text_col), " ").alias("__l"),
    ).filter(F.size("__l") >= 2)
    pairs = base.select(
        "doc_id",
        "__t",
        F.explode(
            F.expr(
                "transform(sequence(1, size(__l) - 1),"
                " i -> struct(element_at(__l, i) as w1,"
                " element_at(__l, i + 1) as w2))"
            )
        ).alias("__p"),
    ).select(
        "doc_id",
        "__t",
        # the coalesces never fire (struct fields are non-null
        # post-explode) but mark w1/w2 non-nullable, so the score join
        # infers no isnotnull(w1/w2) filters — which would push into
        # the probe lineage only, de-canonicalize the shared tf
        # subtree, and cost extra corpus scans (the f74 lesson).
        F.coalesce(F.col("__p.w1"), F.lit("")).alias("w1"),
        F.coalesce(F.col("__p.w2"), F.lit("")).alias("w2"),
    )
    tf = pairs.groupBy("doc_id", "__t", "w1", "w2").agg(
        F.count("*").alias("__tf")
    )
    big = tf.groupBy("w1", "w2").agg(
        F.sum(
            F.when(F.col("__t"), F.col("__tf")).otherwise(F.lit(0))
        ).alias("__c2")
    )
    # NO checkpoint here, deliberately (round-9 lesson): because the
    # train counts are conditional sums (never a pushed-down filter),
    # every consumer of the tf exchange sees the IDENTICAL exchange
    # and AQE's ReusedExchange runs the corpus scan ONCE at runtime —
    # the final-plan guard (test_bigram_backoff_single_corpus_scan:
    # 1 Scan parquet + ReusedExchange) proves it. An eager checkpoint
    # of `big` was tried this round and REVERTED: it moved the LM fit
    # to construction as a SECOND corpus scan, regressing the
    # runtime-reused 1-scan plan to 2 scans. Initial formatted plans
    # show 5 scan nodes — that is pre-AQE text, not execution.
    ctx = big.groupBy("w1").agg(F.sum("__c2").alias("__c1ctx"))
    uni = big.groupBy("w2").agg(F.sum("__c2").alias("__c1w"))
    tot = uni.agg(
        F.sum("__c1w").alias("__n"),
        F.count(F.when(F.col("__c1w") > 0, True)).alias("__v"),
    )
    score = (
        big.join(ctx, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2",
            F.when(
                F.col("__c2") > 0, F.col("__c2") / F.col("__c1ctx")
            ).otherwise(
                alpha * (F.col("__c1w") + 1)
                / (F.col("__n") + F.col("__v"))
            ).alias("__s"),
        )
    )
    return (
        tf.join(score, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("__tf").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("__tf") * F.log("__s")) / F.sum("__tf"), 4
            ).alias("avg_logscore"),
        )
    )


def sql_bigram_backoff_scores(
    train_sql: str, alpha: float = 0.4, table: str = "documents",
) -> str:
    """DuckDB oracle mirroring bigram_backoff_scores (same
    bigram-occurrence-derived counts, same add-1 backoff)."""
    return f"""
    WITH base AS (
      SELECT doc_id, ({train_sql}) AS t, string_split(text, ' ') AS l
      FROM {table} WHERE len(string_split(text, ' ')) >= 2),
    prs AS (
      SELECT doc_id, t, l[i] AS w1, l[i + 1] AS w2
      FROM (SELECT doc_id, t, l, unnest(range(1, len(l))) AS i
            FROM base)),
    tf AS (
      SELECT doc_id, w1, w2, count(*) AS tf FROM prs GROUP BY 1, 2, 3),
    big AS (
      SELECT w1, w2, sum(CASE WHEN t THEN 1 ELSE 0 END) AS c2
      FROM prs GROUP BY 1, 2),
    ctx AS (SELECT w1, sum(c2) AS c1ctx FROM big GROUP BY 1),
    uni AS (SELECT w2, sum(c2) AS c1w FROM big GROUP BY 1),
    tot AS (
      SELECT sum(c1w) AS n, count(*) FILTER (WHERE c1w > 0) AS v
      FROM uni),
    sc AS (
      SELECT w1, w2,
             CASE WHEN c2 > 0 THEN c2 * 1.0 / c1ctx
                  ELSE {alpha} * (c1w + 1.0) / (n + v) END AS s
      FROM big JOIN ctx USING (w1) JOIN uni USING (w2) CROSS JOIN tot)
    SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
           round(sum(tf * ln(s)) / sum(tf), 4) AS avg_logscore
    FROM tf JOIN sc USING (w1, w2)
    GROUP BY doc_id
    """


def sql_dsir_gumbel_topk(
    target_sql: str, k: int, temperature: float = 1.0,
    n_buckets: int = 1024, salt: str = "gumbel",
    table: str = "documents",
) -> str:
    """DuckDB oracle mirroring dsir_gumbel_topk (same llr SQL, same
    bucket-derived Gumbel noise, same snap + tie-break)."""
    llr_sql = sql_dsir_importance_weights(
        target_sql, n_buckets=n_buckets, salt=salt + "-feat", table=table
    )
    u = f"(({sql_hash_bucket('doc_id', salt, 1_000_000)}) + 0.5) / 1e6"
    return f"""
    SELECT doc_id, llr,
           round(llr / {temperature} + (-ln(-ln({u}))), 6) AS key
    FROM ({llr_sql})
    ORDER BY key DESC, doc_id
    LIMIT {k}
    """
