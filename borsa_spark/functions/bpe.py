"""Distributed BPE tokenizer training — exact, integer-only, declarative.

Byte-pair encoding (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units", ACL — public paper) learns a tokenizer
by repeatedly merging the corpus's most frequent adjacent symbol pair.
Training one at corpus scale is a real LLM-pipeline need (HF tokenizers
train single-node on a sample; the counts here come from the WHOLE
corpus), and it maps cleanly onto Spark:

- The working state is the WORD-VOCABULARY relation (distinct word,
  corpus frequency, current symbol segmentation) — the Sennrich trick:
  pair counts are frequency-weighted aggregates over distinct words, so
  every round touches the vocab relation, never the corpus again.
- Each round is: explode adjacent pairs -> one partial-agg groupBy ->
  a 1-ROW argmax relation (max weighted count, lexicographic pair
  tie-break — pure integers, no float anywhere) -> broadcast crossJoin
  back and `F.replace` the merged pair into every word's segmentation.
  The loop is fully declarative (no driver-side model state beyond the
  per-round 1-row checkpoint; the argmax rides as a broadcast
  relation), so the same unrolled CTEs replay it
  byte-for-byte in the oracle.

Segmentation encoding: symbols are '·'-delimited with BOTH boundaries
("·h·e·l·l·o·"), so a pair pattern "·a·b·" can never match inside a
longer symbol. Plain `replace` is non-overlapping left-to-right in both
engines, and adjacent occurrences share one delimiter, so one pass
merges every OTHER occurrence in a run (a run of k identical singles
converges in ≤ ceil(log2(k)) + 1 passes); ``_REPLACE_PASSES`` = 5
covers runs beyond any realistic word. This is a deterministic variant
of the canonical single-pass left-to-right merge (a run of 5 becomes
[ab, a, ab], canonical gives [ab, ab, a]) — what the oracle gate needs
is that BOTH engines apply the identical pass count with identical
replace semantics, which the pinned cascade guarantees.

Characters are extracted with regexp_extract_all('(?s).'), which is
code-point-correct in both engines (Java regex `.` consumes a full
surrogate pair; RE2 consumes a UTF-8 code point) — `split(word, '')`
would shear non-BMP characters into surrogate halves in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_REPLACE_PASSES = 5
SEP = "·"

_PAIR_EXPLODE = (
    "transform(sequence(1, size(__syms) - 1),"
    " i -> struct(element_at(__syms, i) as a,"
    " element_at(__syms, i + 1) as b))"
)


def _syms_expr() -> str:
    """Symbols of a segmentation: split on the separator, drop the two
    boundary empties. Symbols never contain the separator (inputs are
    scrubbed), so this is exact."""
    return f"filter(split(seg, '{SEP}'), x -> x <> '')"


def _word_vocab(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq, seg) — distinct words, corpus occurrence counts,
    '·'-bounded code-point segmentation. The input is scrubbed of the
    separator char itself so hostile text cannot forge symbol
    boundaries."""
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .select(F.replace(F.col("word"), F.lit(SEP), F.lit("")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    seg = F.concat(
        F.lit(SEP),
        F.array_join(F.expr("regexp_extract_all(word, '(?s).', 0)"), SEP),
        F.lit(SEP),
    )
    return words.select("word", "freq", seg.alias("seg"))


def _merge_round(vocab: DataFrame) -> DataFrame:
    """One training round's 1-row argmax relation (a, b, pair_count):
    frequency-weighted adjacent-pair counts over the vocab's current
    segmentation, max count first, lexicographic (a, b) tie-break."""
    return (
        vocab.select("freq", F.expr(_syms_expr()).alias("__syms"))
        .filter(F.size("__syms") >= 2)
        .select("freq", F.explode(F.expr(_PAIR_EXPLODE)).alias("__p"))
        .groupBy("__p.a", "__p.b")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("a"), F.col("b"))
        .limit(1)
    )


def _apply_merge(vocab: DataFrame, best: DataFrame) -> DataFrame:
    """Rewrite every word's segmentation with the round's winning merge:
    broadcast the 1-row argmax and run the bounded replace cascade.
    A LEFT join (not crossJoin) keeps the vocab intact when the corpus
    has run out of mergeable pairs and the argmax is EMPTY — the round
    is then a no-op instead of annihilating every word."""
    pat = F.concat(
        F.lit(SEP), F.col("a"), F.lit(SEP), F.col("b"), F.lit(SEP)
    )
    rep = F.concat(F.lit(SEP), F.col("a"), F.col("b"), F.lit(SEP))
    seg = F.col("seg")
    for _ in range(_REPLACE_PASSES):
        seg = F.replace(seg, pat, rep)
    seg = F.when(F.col("a").isNull(), F.col("seg")).otherwise(seg)
    return vocab.join(F.broadcast(best), F.lit(True), "left").select(
        "word", "freq", seg.alias("seg")
    )


def _train(
    docs: DataFrame, n_merges: int, text_col: str
) -> tuple[DataFrame, list[DataFrame]]:
    """The shared training loop: final vocab relation + the per-round
    1-row argmax relations.

    Scale shape: ONE corpus scan builds the word-vocab relation
    (localCheckpoint — every round touches vocab, not corpus); each
    round is one vocab-keyed partial-agg groupBy + a 1-row broadcast
    argmax (itself checkpointed, so nothing downstream re-runs a
    round) + an in-row replace cascade. Vocab re-checkpoints every
    other round to keep the nested-round lineage flat."""
    # LAZY checkpoints (round 14): the loop is fully declarative —
    # nothing in it needs a result before the caller's single action —
    # so eager checkpoints only added one blocking job per round
    # (plus one per vocab re-snap) of pure job latency. Lazy keeps the
    # identical lineage-truncation points but materializes them inside
    # the final action (interleaved A/B: f80 4.778 -> 4.258 s, f81
    # 4.0 -> 3.466 s at sf0.1). Each checkpointed relation is still
    # computed exactly once (BlockManager block-level locking dedupes
    # concurrent consumers).
    vocab = _word_vocab(docs, text_col).localCheckpoint(eager=False)
    merges: list[DataFrame] = []
    for step in range(n_merges):
        best = _merge_round(vocab).localCheckpoint(eager=False)
        merges.append(best)
        vocab = _apply_merge(vocab, best)
        if step % 2 == 1 and step + 1 < n_merges:
            vocab = vocab.localCheckpoint(eager=False)
    return vocab, merges


def learn_bpe(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> DataFrame:
    """The learned merge table: (step, left, right, merged, pair_count)
    for ``n_merges`` rounds, ordered by step.

    Beyond-reference LLM-pipeline operator (the reference engine,
    /root/reference, has no tokenizer-training path); the distributed
    shape follows the public Sennrich et al. 2016 algorithm. Rounds
    past the corpus's merge capacity produce no row (the argmax is
    empty); n_merges=0 returns an empty, correctly-typed table."""
    spark = docs.sparkSession
    schema = (
        "step long, left string, right string, merged string,"
        " pair_count long"
    )
    _, merges = _train(docs, n_merges, text_col)
    out = spark.createDataFrame([], schema)
    for step, m in enumerate(merges):
        row = m.select(
            F.lit(step).cast("long").alias("step"),
            F.col("a").alias("left"),
            F.col("b").alias("right"),
            F.concat("a", "b").alias("merged"),
            F.col("pair_count").cast("long").alias("pair_count"),
        )
        out = out.unionByName(row)
    return out


def _doc_words(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, word) — the SINGLE definition of word tokenization (split
    on space, scrub the separator, drop empties); training and
    application must never diverge on it."""
    return (
        docs.select(
            id_col, F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .select(
            id_col,
            F.replace(F.col("word"), F.lit(SEP), F.lit("")).alias("word"),
        )
        .filter(F.col("word") != "")
    )


def _count_tokens(
    toks: DataFrame, segmented: DataFrame, id_col: str
) -> DataFrame:
    """Word-keyed join of documents against a segmented vocab relation
    -> (id, n_words, n_bpe_tokens). AQE broadcasts the vocab when it is
    small, shuffles on the word key at 100 TB; the corpus is never
    re-segmented row by row."""
    n_sym = F.size(F.expr(_syms_expr()))
    return (
        toks.join(segmented.select("word", n_sym.alias("__k")), "word")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("__k").cast("long").alias("n_bpe_tokens"),
        )
    )


def bpe_token_counts(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train on the corpus and apply back to every document: (doc_id,
    n_words, n_bpe_tokens) — the implied chars-per-token compression
    ratio is a standard quality/fit signal (text the tokenizer
    compresses poorly is far from the training distribution)."""
    vocab, _ = _train(docs, n_merges, text_col)
    return _count_tokens(_doc_words(docs, text_col, id_col), vocab, id_col)


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply an ALREADY-LEARNED merge table (the persist-and-reuse
    path: train once with `learn_bpe`, collect its ≤n_merges rows,
    tokenize any corpus later): (doc_id, n_words, n_bpe_tokens).

    The merge table rides as DATA, not expression nodes: it becomes a
    1-row broadcast relation holding a step-sorted array of (left,
    right) structs, and the ordered cascade is one `F.aggregate` fold
    whose lambda has CONSTANT depth — chaining one replace-cascade per
    merge into a single column expression overflows the JVM stack
    during expression conversion at a few hundred merges, nowhere near
    a real 32k-merge tokenizer. One projection over the vocab
    relation, no per-merge jobs, and the honest apply path at 100 TB:
    scoring a new crawl never re-runs training aggregations."""
    spark = docs.sparkSession
    mdf = spark.createDataFrame(
        [(i, lt, rt) for i, (lt, rt) in enumerate(merges)],
        "step long, l string, r string",
    )
    marr = mdf.agg(
        F.sort_array(
            F.collect_list(F.struct("step", "l", "r"))
        ).alias("__merges")
    )

    def one_merge(acc, m):
        pat = F.concat(F.lit(SEP), m["l"], F.lit(SEP), m["r"], F.lit(SEP))
        rep = F.concat(F.lit(SEP), m["l"], m["r"], F.lit(SEP))
        for _ in range(_REPLACE_PASSES):
            acc = F.replace(acc, pat, rep)
        return acc

    vocab = (
        _word_vocab(docs, text_col)
        .crossJoin(F.broadcast(marr))
        .select(
            "word",
            F.aggregate(
                F.coalesce("__merges", F.array()),
                F.col("seg"),
                one_merge,
            ).alias("seg"),
        )
    )
    return _count_tokens(_doc_words(docs, text_col, id_col), vocab, id_col)


# --------------------------------------------------------------------------
# DuckDB oracle mirrors — identical vocab construction, identical unrolled
# rounds, identical tie-break and replace-cascade pass count.
# --------------------------------------------------------------------------


def _sql_syms(col: str) -> str:
    return f"list_filter(string_split({col}, '{SEP}'), x -> x <> '')"


def _sql_vocab(table: str) -> str:
    return f"""
    w AS MATERIALIZED (
      SELECT replace(word, '{SEP}', '') AS word, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM {table})
      WHERE word <> '' AND replace(word, '{SEP}', '') <> ''
      GROUP BY 1),
    v0 AS MATERIALIZED (
      SELECT word, freq,
             '{SEP}' || array_to_string(
               regexp_extract_all(word, '(?s).'), '{SEP}') || '{SEP}' AS seg
      FROM w)"""


def _sql_round(k: int, passes: int = _REPLACE_PASSES) -> str:
    """One oracle round: pair counts over v{k}, 1-row argmax m{k},
    segmentation update into v{k+1} — the exact CTE mirror of the
    Spark loop body (same tie-break, same pass count)."""
    rep = "v.seg"
    for _ in range(passes):
        rep = (
            f"replace({rep}, '{SEP}' || m.a || '{SEP}' || m.b || '{SEP}',"
            f" '{SEP}' || m.a || m.b || '{SEP}')"
        )
    return f"""
    p{k} AS MATERIALIZED (
      SELECT s[i] AS a, s[i + 1] AS b, sum(freq) AS pair_count
      FROM (SELECT freq, {_sql_syms('seg')} AS s FROM v{k})
           , unnest(range(1, len(s))) AS u(i)
      WHERE len(s) >= 2
      GROUP BY 1, 2),
    m{k} AS MATERIALIZED (
      SELECT a, b, pair_count FROM p{k}
      ORDER BY pair_count DESC, a, b LIMIT 1),
    v{k + 1} AS MATERIALIZED (
      SELECT v.word, v.freq,
             CASE WHEN m.a IS NULL THEN v.seg ELSE {rep} END AS seg
      FROM v{k} v LEFT JOIN m{k} m ON TRUE)
    """


def sql_learn_bpe(n_merges: int, table: str = "documents") -> str:
    """DuckDB oracle for `learn_bpe`: the same vocab construction and
    ``n_merges`` unrolled rounds; output = the argmax rows."""
    parts = ["WITH " + _sql_vocab(table)]
    for k in range(n_merges):
        parts.append("," + _sql_round(k))
    selects = [
        f"SELECT {k}::BIGINT AS step, a AS left, b AS right,"
        f" a || b AS merged, pair_count::BIGINT AS pair_count FROM m{k}"
        for k in range(n_merges)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)


def sql_bpe_token_counts(n_merges: int, table: str = "documents") -> str:
    """DuckDB oracle for `bpe_token_counts`: same rounds, then the
    doc->word join against the final segmentation's symbol count."""
    parts = ["WITH " + _sql_vocab(table)]
    for k in range(n_merges):
        parts.append("," + _sql_round(k))
    parts.append(f""",
    kk AS MATERIALIZED (
      SELECT word, len({_sql_syms('seg')}) AS k FROM v{n_merges}),
    toks AS (
      SELECT doc_id, replace(word, '{SEP}', '') AS word
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM {table})
      WHERE word <> '' AND replace(word, '{SEP}', '') <> '')
    SELECT doc_id, count(*)::BIGINT AS n_words,
           sum(k)::BIGINT AS n_bpe_tokens
    FROM toks JOIN kk USING (word)
    GROUP BY doc_id
    """)
    return "".join(parts)
