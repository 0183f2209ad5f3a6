"""Byte-pair-encoding tokenizer TRAINING on the cluster — the
pair-count / merge loop of Sennrich et al. 2016 (the GPT-2/RoBERTa
tokenizer recipe) expressed as DataFrame operators.

Why this belongs in a 100 TB engine: tokenizer training is a corpus
job, not a driver job — the pair statistics are a full scan of the
training text.  The heavy pieces here are (a) the WORD table (one
map-side-combined groupBy: Zipf makes it orders of magnitude smaller
than the corpus; every later step runs on words × counts, never raw
text again) and (b) one pair-count aggregate per merge (explode of
adjacent symbol pairs weighted by word count, map-side combined).
The driver sees ONE row per merge step (the argmax pair) — bounded
like the IVF train collect, not O(vocabulary).

Determinism contract: greedy left-to-right merge semantics are
implemented as a sequential string fold over the symbol list —
replayable verbatim in DuckDB's ``list_reduce`` (tests pin the fold
against a pure-Python reference BPE) — and the argmax pair breaks
ties on (count DESC, a ASC, b ASC), so a re-run or another engine
learns the IDENTICAL merge table.  Merged symbols are literal
concatenations, so "apply merge (a, b)" appends ``b`` to an
accumulator ending in symbol ``a`` — no lookbehind regex (RE2 has
none) and no shared-delimiter-consumption bug that plain
``replace(' a b ', ' ab ')`` hits on adjacent repeats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.text import tokens


def symbolize_words(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n, sym): corpus word frequencies with each word spelled
    as a space-joined character sequence — BPE's starting state.
    One explode + one map-side-combined groupBy; all later training
    steps run on this (small) table, never the corpus."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "sym", F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 "))
        )
    )


def pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent-symbol pair frequencies weighted by word
    count.  Explode of two shifted slices + one aggregate."""
    arr = F.split(F.col("sym"), " ")
    pairs = F.arrays_zip(
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
    )
    return (
        words.select("n", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
        .agg(F.sum("n").alias("cnt"))
    )


def top_pair(words: DataFrame) -> DataFrame:
    """The argmax pair as a 1-row DataFrame (a, b, cnt); ties break on
    (cnt DESC, a, b) so the learned merge table is deterministic."""
    return pair_counts(words).orderBy(
        F.desc("cnt"), "a", "b"
    ).limit(1)


def _merge_fold() -> Column:
    """Greedy left-to-right merge of pair (a, b) over the symbol
    string: a sequential fold whose accumulator is the partially
    rebuilt symbol string — when the accumulator ends in symbol ``a``
    (exactly: equals it, or ends with space+``a``; the space delimiter
    prevents partial-symbol matches, and a just-merged ``ab`` no
    longer ends in ``a`` so it cannot re-trigger) and the next symbol
    is ``b``, append ``b`` without a space (the merged symbol IS the
    concatenation).  Identical element-order fold in DuckDB's
    list_reduce — greedy semantics replay bit-for-bit."""
    return F.expr(
        "aggregate(split(sym, ' '), '', (acc, x) -> "
        "CASE WHEN acc = '' THEN x "
        "WHEN (acc = ma OR endswith(acc, ' ' || ma)) AND x = mb "
        "THEN acc || mb "
        "ELSE acc || ' ' || x END)"
    )


def apply_merge(words: DataFrame, merge: DataFrame) -> DataFrame:
    """Rewrite every word's symbol string under the 1-row ``merge``
    table (broadcast — no driver round-trip): the in-plan form used by
    the oracle-paired single-step query."""
    m = merge.select(F.col("a").alias("ma"), F.col("b").alias("mb"))
    return (
        words.crossJoin(F.broadcast(m))
        .withColumn("sym", _merge_fold())
        .drop("ma", "mb")
    )


def merge_fold_literal(sym: Column, a: str, b: str) -> Column:
    """:func:`_merge_fold` with LITERAL merge pair (a, b) — built with
    the lambda DSL (no string splicing, so arbitrary symbols need no
    escaping).  Same greedy left-to-right fold, same DuckDB
    list_reduce replay."""
    return F.aggregate(
        F.split(sym, " "),
        F.lit(""),
        lambda acc, x: (
            F.when(acc == F.lit(""), x)
            .when(
                (
                    (acc == F.lit(a)) | acc.endswith(F.lit(" " + a))
                )
                & (x == F.lit(b)),
                F.concat(acc, F.lit(b)),
            )
            .otherwise(F.concat(acc, F.lit(" "), x))
        ),
    )


def bpe_encode_words(
    words: DataFrame,
    merges: list[tuple[str, str]],
    sym_col: str = "sym",
) -> DataFrame:
    """Apply a learned merge table to a word table IN-PLAN: the merges
    fold in TRAINING ORDER (the published BPE apply semantics), each
    as a native sequential-fold expression — no UDF.  Input rows keep
    all columns; ``sym_col`` is rewritten in place.

    Scale contract: run this on the DISTINCT WORD table, never the
    corpus — Zipf makes the vocabulary orders of magnitude smaller
    than the text, and :func:`bpe_subtoken_stats` joins the encoded
    map back to corpus tokens.  The nested-fold expression grows with
    the merge count (fine for the tens-of-merges tier this in-plan
    form targets; a 32k-merge production vocabulary tokenizes via an
    Arrow-batched rank-priority encoder — the standard split between
    expression-friendly and library-friendly sizes)."""
    out = F.col(sym_col)
    for a, b in merges:
        out = merge_fold_literal(out, a, b)
    return words.withColumn(sym_col, out)


def bpe_subtoken_stats(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, n_subtokens): per-document subtoken counts under
    a learned merge table — the token-budget measurement every
    training-data pipeline runs before packing.

    Plan: corpus → (id, word) pairs; DISTINCT words → in-plan encode
    (:func:`bpe_encode_words`, vocabulary-sized) → per-word subtoken
    count; corpus pairs join the word map (AQE broadcasts the
    vocabulary side when it fits — the common case) and aggregate per
    document.  The corpus is scanned once and never carries symbol
    strings through the shuffle — only (id, word)."""
    pairs = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    vocab = (
        pairs.select("word")
        .distinct()
        .withColumn(
            "sym", F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 "))
        )
    )
    encoded = bpe_encode_words(vocab, merges).select(
        "word", F.size(F.split(F.col("sym"), " ")).alias("__n_sub")
    )
    return (
        pairs.join(encoded, "word")
        .groupBy("__id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("__n_sub").alias("n_subtokens"),
        )
        .select(F.col("__id").alias(id_col), "n_tokens", "n_subtokens")
    )
