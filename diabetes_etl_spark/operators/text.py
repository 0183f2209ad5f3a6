"""Text-analysis operators for large-scale document pipelines:
tokenization, quality scoring, language ID, shingling, fingerprinting.

All column builders are native Spark SQL expressions (no Python UDFs) —
they stay inside whole-stage codegen and scale linearly with no
serialization overhead, which is the requirement at 100 TB of text.
Each has an exact ANSI/DuckDB mirror used by the oracle-paired queries
in plans/textplans.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Tiny per-language stopword probes for the language-ID heuristic.
# (The fixture corpus is synthetic, so this is a deterministic scoring
# operator, not a model-quality claim.)
LANG_STOPWORDS = {
    "en": r"\b(the|and|of|to|is|in)\b",
    "fr": r"\b(le|la|les|et|des|une)\b",
    "de": r"\b(der|die|das|und|ist|ein)\b",
    "es": r"\b(el|los|las|es|una|y)\b",
}


def tokens(c: Column) -> Column:
    return F.split(F.trim(c), r"\s+")


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def distinct_token_count(c: Column) -> Column:
    return F.size(F.array_distinct(tokens(c)))


def type_token_ratio(c: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens (repetition detector)."""
    return distinct_token_count(c) / token_count(c)


def stopword_hits(c: Column, pattern: str = LANG_STOPWORDS["en"]) -> Column:
    return F.regexp_count(F.lower(c), F.lit(pattern))


def quality_score(c: Column) -> Column:
    """Heuristic document quality in [0,1]: length, stopword density,
    lexical diversity — the standard cheap pre-filters for LLM corpora.
    Deterministic (integer counts + one double division each)."""
    length_part = F.least(token_count(c) / F.lit(100.0), F.lit(1.0))
    stop_part = F.least(stopword_hits(c) / F.lit(10.0), F.lit(1.0))
    return F.round(
        0.4 * length_part + 0.3 * stop_part + 0.3 * type_token_ratio(c), 6
    )


def lang_scores(c: Column) -> dict[str, Column]:
    return {lang: stopword_hits(c, pat) for lang, pat in LANG_STOPWORDS.items()}


def lang_guess(c: Column) -> Column:
    """argmax over stopword-hit counts with a fixed preference order."""
    s = lang_scores(c)
    return (
        F.when((s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] >= s["es"]), "en")
        .when((s["fr"] >= s["de"]) & (s["fr"] >= s["es"]), "fr")
        .when(s["de"] >= s["es"], "de")
        .otherwise("es")
    )


def word_shingles(c: Column, n: int = 5) -> Column:
    """Distinct n-token shingles (the MinHash/Jaccard unit)."""
    toks = tokens(c)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def fingerprint(col_name: str, base: int = 131, mod: int = 1_000_000_007) -> Column:
    """Deterministic polynomial rolling hash over the character codes —
    an engine-portable document fingerprint (unlike murmur/xxhash which
    are engine-specific).  acc stays < mod so the bigint math cannot
    overflow under ANSI mode."""
    return F.expr(
        f"aggregate(transform(split({col_name}, ''), ch -> ascii(ch)), 0L, "
        f"(acc, x) -> (acc * {base} + x) % {mod})"
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two pre-distinct arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter / union


def ngrams_with_duplicates(c: Column, n: int = 2) -> Column:
    """Word n-grams KEEPING duplicate occurrences — the denominator of
    repetition fractions (:func:`word_shingles` is the distinct
    variant used for similarity)."""
    toks = tokens(c)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def repeated_ngram_fraction(c: Column, n: int = 2) -> Column:
    """Gopher-style repetition signal (Rae et al. 2021 §A1.1): the
    fraction of n-gram occurrences that repeat an earlier occurrence.
    Pure per-row array math — map-side, no shuffle, no Python.

    n-grams are represented as STRUCTS of the n shifted token slices
    (arrays_zip), not concatenated strings: struct equality is a native
    comparison, while building a string per position runs an
    interpreted concat lambda — measured 6x slower at sf0.1.  The two
    representations count identically because whitespace-split tokens
    cannot contain the join delimiter (space), so token-tuple <->
    joined-string is a bijection — the DuckDB oracle keeps the string
    form."""
    toks = tokens(c)
    total = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    grams = F.arrays_zip(
        *[F.slice(toks, i + 1, total) for i in range(n)]
    )
    return F.round((total - F.size(F.array_distinct(grams))) / total, 6)


def top_token_fraction(c: Column) -> Column:
    """Fraction of all token occurrences taken by the single most
    frequent token (Gopher's top-1-gram filter).

    Computed as the longest equal-run in the SORTED token array — one
    array_sort plus a single-pass aggregate, O(n log n) per document
    (the naive nested filter-per-distinct-token form is O(distinct x
    total) and measured 4x slower at sf0.1).  Stays map-side with zero
    shuffle, which beats the explode + groupBy(doc, token) + max
    alternative (a full shuffle of every token occurrence) at corpus
    scale."""
    toks = tokens(c)
    run = lambda acc, x: F.when(  # noqa: E731
        x == acc["prev"], acc["run"] + 1
    ).otherwise(F.lit(1))
    best = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc["best"], run(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return F.round(best / F.size(toks), 6)


# BPE-style pre-tokenizer split (GPT-2 shape, portable subset: letter
# runs, short digit runs, punctuation runs, each with optional leading
# space).  Counting its matches approximates an LLM tokenizer's token
# count without shipping a vocabulary — the standard cheap budget
# estimator for corpus curation.
BPE_SPLIT = r" ?[A-Za-z]+| ?[0-9]{1,3}| ?[^A-Za-z0-9\s]+"


def subword_count(c: Column) -> Column:
    """Approximate LLM-token count via the BPE-ish split regex."""
    return F.regexp_count(c, F.lit(BPE_SPLIT))


def doc_bigrams(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """(id, w1, w2) — one row per consecutive token pair.  Narrow map
    (split + zip of two shifted slices + explode); docs with fewer
    than two tokens contribute nothing."""
    t = tokens(F.col(text_col))
    pairs = F.arrays_zip(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(pairs).alias("bg")
    ).select("id", F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))


def bigram_lm_score(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_threshold: int = 2,
) -> "DataFrame":
    """Corpus-trained bigram language-model quality signals per doc —
    the CCNet/KenLM perplexity-filter pattern, in its EXACT log-free
    form: the LM is the corpus' own bigram table, and each doc scores

    - ``avg_cond_prob``: mean of p(w2|w1) = c(w1,w2)/c(w1) over its
      bigrams (exact rational per term; the per-doc mean folds through
      DECIMAL then pins at 12 digits, so it is order-independent and
      bit-identical cross-engine — a log-domain perplexity would hang
      on libm's ln and could not be hash-checked);
    - ``rare_bigram_frac``: share of its bigrams seen <= rare_threshold
      times corpus-wide (the out-of-distribution signal).

    Docs full of corpus-typical word transitions score high; boilerplate
    mashups, lorem-ipsum, and wrong-language fragments score low.

    Scale shape: the bigram count table is ONE map-side-combined
    groupBy of the exploded pairs (the count table is orders of
    magnitude smaller than the corpus); unigram counts re-aggregate
    the COUNT TABLE, not the corpus; scoring is one big-big equi-join
    on (w1, w2) plus a smaller join on w1, then a per-doc aggregate.
    No driver state — the "model" lives in the plan.
    """
    bg = doc_bigrams(df, text_col, id_col)
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("cnt2"))
    c1 = c2.groupBy("w1").agg(F.sum("cnt2").alias("cnt1"))
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .select(
            "id",
            (F.col("cnt2").cast("double") / F.col("cnt1")).alias("p"),
            (F.col("cnt2") <= rare_threshold).cast("int").alias("rare"),
        )
    )
    from diabetes_etl_spark.functions.numeric import dec_cast, dec_sum

    return scored.groupBy("id").agg(
        F.count("*").alias("n_bigrams"),
        dec_cast(
            dec_sum(F.col("p"), 15, 38) / F.count("*"), 12
        ).alias("avg_cond_prob"),
        (F.sum("rare").cast("double") / F.count("*")).alias(
            "rare_bigram_frac"
        ),
    )


def kn_bigram_lm_score(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> "DataFrame":
    """Interpolated Kneser-Ney bigram LM quality signals per doc — the
    smoothed successor to :func:`bigram_lm_score` (Kneser & Ney 1995;
    Chen & Goodman 1999), still in exact log-free form:

        p_KN(w2|w1) = (c(w1,w2) - d) / c(w1)
                      + d * N1+(w1,.) / c(w1) * p_cont(w2)
        p_cont(w2)  = N1+(., w2) / |distinct bigram types|

    with d = 0.75 (exactly representable in binary).  KN redistributes
    probability mass toward words that appear in MANY distinct
    contexts — "the", "of" score high as continuations; a word seen
    often but only ever after one history (e.g. "Francisco") scores
    low — which separates formulaic/boilerplate text from fluent text
    better than raw MLE.  Per doc:

    - ``avg_kn_prob``: mean p_KN over the doc's bigrams (each term is
      a fixed double-op sequence, folded through DECIMAL(38,15) then
      pinned at 12 digits — order-independent, hash-checkable);
    - ``avg_cont_prob``: mean continuation probability of the doc's
      second words (high = generic vocabulary, low = niche).

    Scale shape (same as the MLE form): the bigram count table is one
    map-side-combined groupBy of the exploded pairs; c1 / N1+ forward
    / N1+ backward / the type total all re-aggregate the COUNT TABLE,
    not the corpus; scoring is equi-joins plus one broadcast 1-row
    total and a per-doc aggregate.  The model lives in the plan.
    Because every doc bigram is by construction in the corpus table,
    the max(c-d, 0) clamp of the published form is never active.
    """
    bg = doc_bigrams(df, text_col, id_col)
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("cnt2"))
    c1 = c2.groupBy("w1").agg(
        F.sum("cnt2").alias("cnt1"), F.count("*").alias("fw")
    )
    bw = c2.groupBy("w2").agg(F.count("*").alias("bw"))
    tt = c2.agg(F.count("*").alias("t_types"))
    d = F.lit(discount)
    p_cont = F.col("bw").cast("double") / F.col("t_types")
    p_kn = (
        (F.col("cnt2").cast("double") - d) / F.col("cnt1")
        + (d * F.col("fw") / F.col("cnt1"))
        * (F.col("bw").cast("double") / F.col("t_types"))
    )
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(tt))
        .select("id", p_kn.alias("p_kn"), p_cont.alias("p_cont"))
    )
    from diabetes_etl_spark.functions.numeric import dec_cast, dec_sum

    return scored.groupBy("id").agg(
        F.count("*").alias("n_bigrams"),
        dec_cast(
            dec_sum(F.col("p_kn"), 15, 38) / F.count("*"), 12
        ).alias("avg_kn_prob"),
        dec_cast(
            dec_sum(F.col("p_cont"), 15, 38) / F.count("*"), 12
        ).alias("avg_cont_prob"),
    )


# -- pairwise n-gram overlap metrics (ROUGE-N, BLEU) -------------------------
#
# Reference parity note: the reference pipeline has no text-pair
# scoring; this extends the LLM-data-pipeline tier with the standard
# summarization/translation overlap metrics (Lin 2004 ROUGE; Papineni
# et al. 2002 BLEU) — in a training-data pipeline they score
# paraphrase candidates, quantify near-dup severity beyond Jaccard,
# and measure eval-set contamination by n-gram recall.
#
# Scale shape: all metrics are PER-ROW array arithmetic on the paired
# texts — map-side JVM expressions, no shuffle, no Python; the only
# shuffle belongs to whatever join built the pairs.  The clipped-
# count lambda is O(distinct-grams x grams) per row — quadratic in
# DOCUMENT length, constant in corpus size.


def ngram_count_table(
    df: DataFrame,
    text_col: str,
    n: int,
    key_cols: Sequence[str],
) -> DataFrame:
    """(key_cols..., gram, cnt): n-gram occurrence counts per row key —
    the explode/agg form of the overlap numerator, linear in corpus
    size where the per-row clipped lambda is quadratic in document
    length.  Shuffles (key, gram) pairs once with map-side combine."""
    return (
        df.select(*key_cols, F.explode(
            ngrams_with_duplicates(F.col(text_col), n)).alias("gram"))
        .groupBy(*key_cols, "gram")
        .agg(F.count("*").alias("cnt"))
    )


def hashed_bow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """(id, bucket, val): signed feature-hashing bag-of-words (the
    Weinberger et al. 2009 hashing trick, sklearn HashingVectorizer /
    VW shape) — token t adds sign(h(t)) to bucket h(t) mod B, so the
    featurizer needs NO vocabulary, NO fit pass, and NO driver state;
    collisions cancel in expectation because of the sign bit.
    Zero-valued buckets (exact sign cancellation) are dropped — they
    are indistinguishable from never-touched buckets downstream.

    ALL-INTEGER arithmetic on the portable token hash
    (operators/dedup.py:portable_token_hash), so outputs hash-match a
    SQL replay with no float caveats at all.

    Scale shape: one token explode with map-side combine into at most
    B values per document; only (id, bucket, signed-count) shuffles —
    the classic fixed-width featurizer that never grows with
    vocabulary."""
    from diabetes_etl_spark.operators.dedup import portable_token_hash

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).filter(F.length("tok") > 0)
    signed = toks.withColumn(
        "h", portable_token_hash(F.col("tok"))
    ).select(
        "id",
        (F.col("h") % n_buckets).alias("bucket"),
        F.when(
            F.expr(f"(h div {n_buckets}) % 2 = 0"), F.lit(1)
        ).otherwise(F.lit(-1)).alias("sign"),
    )
    return (
        signed.groupBy("id", "bucket")
        .agg(F.sum("sign").cast("long").alias("val"))
        .filter(F.col("val") != 0)
    )


def nb_langid_confusion(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Multinomial Naive Bayes language identification, trained
    IN-PLAN on the labeled corpus and evaluated as a confusion matrix
    (label, predicted, n_docs): per-language add-one-smoothed token
    log-probabilities plus the class-prior log, argmax per document
    (ties on the language string).  The trained upgrade of the
    stopword-heuristic text_lang_id — NB aggregates EVERY token's
    per-language frequency skew instead of six hand-picked words.

    Determinism: each ln quantizes to 9 decimals at the source (the
    BM25 discipline), per-document sums fold through DECIMAL(38,9) —
    order-free; counts and smoothing are exact integers.

    Scale shape: the model is one (lang, token) count aggregate
    (map-side combined) densified against the vocabulary (langs x V
    rows); scoring joins each document's tokens against the model on
    the token key — an equi-join whose fan-out is |langs| per token —
    then one decimal-folded (doc, lang) aggregate.  No broadcast of
    the (possibly huge) vocabulary is required; the only corpus
    shuffle carries (doc, token) and the scored partials."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).filter(F.length("tok") > 0)
    counts = toks.groupBy("label", "tok").agg(F.count("*").alias("c"))
    lang_tot = toks.groupBy("label").agg(F.count("*").alias("n_l"))
    vocab_n = counts.select("tok").distinct().agg(
        F.count("*").alias("v")
    )
    vocab = counts.select("tok").distinct()
    langs = lang_tot.select(F.col("label").alias("cand"), "n_l")
    dense = (
        vocab.crossJoin(F.broadcast(langs))
        .join(
            counts.select(
                F.col("label").alias("cand"), "tok", "c"
            ),
            ["cand", "tok"],
            "left",
        )
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "cand",
            "tok",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("n_l") + F.col("v"))
                ),
                9,
            ).alias("lnp"),
        )
    )
    n_docs_total = df.count()
    priors = (
        df.groupBy(F.col(label_col).alias("cand"))
        .agg(F.count("*").alias("nd"))
        .select(
            "cand",
            F.round(
                F.log(F.col("nd").cast("double") / F.lit(n_docs_total)), 9
            ).alias("lprior"),
        )
    )
    scored = (
        toks.join(dense, "tok")
        .groupBy("id", "label", "cand")
        .agg(
            F.sum(F.col("lnp").cast("decimal(38,9)")).alias("s")
        )
        .join(F.broadcast(priors), "cand")
        .select(
            "id", "label", "cand",
            (F.col("s").cast("double") + F.col("lprior")).alias("score"),
        )
    )
    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.col("score").desc(), F.col("cand")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("id", "label", F.col("cand").alias("predicted"))
    )
    return best.groupBy("label", "predicted").agg(
        F.count("*").alias("n_docs")
    )
