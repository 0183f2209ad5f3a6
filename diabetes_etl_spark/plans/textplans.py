"""Text-analysis query plans over the `documents` fixture — language ID,
quality scoring, token stats, fingerprinting (operators/text.py), each
with an exact DuckDB oracle (integer counts + deterministic ratios).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.operators import text as TX
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

# DuckDB fragments mirroring the operators (RE2 vs Java regex agree on
# the patterns used: \b, \s, simple classes).
_D_TOKENS = r"regexp_split_to_array(trim(text), '\s+')"
_D_STOPS = {
    "en": r"length(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b'))",
    "fr": r"length(regexp_extract_all(lower(text), '\b(le|la|les|et|des|une)\b'))",
    "de": r"length(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b'))",
    "es": r"length(regexp_extract_all(lower(text), '\b(el|los|las|es|una|y)\b'))",
}
_D_FINGERPRINT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({col}, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
    "(acc, x) -> (acc * 131 + x) % 1000000007)"
)


@register(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
  len({_D_TOKENS}) AS n_tokens,
  len(list_distinct({_D_TOKENS})) AS n_distinct_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_text,
  len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|in)\\b')) AS stop_hits,
  {_D_FINGERPRINT.format(col="text")} AS doc_fingerprint
FROM documents
""",
    doc="Per-document token counting + portable rolling-hash fingerprint "
    "(operators/text.py; all-native expressions).",
    tags=("text", "extension"),
    extended=True,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(t).cast("long").alias("n_tokens"),
        TX.distinct_token_count(t).cast("long").alias("n_distinct_tokens"),
        F.length(t).cast("long").alias("n_chars_text"),
        TX.stopword_hits(t).cast("long").alias("stop_hits"),
        TX.fingerprint("text").alias("doc_fingerprint"),
    )


@register(
    "text_quality_by_lang",
    oracle=f"""
SELECT lang,
  COUNT(*) AS n_docs,
  CAST(SUM(len({_D_TOKENS})) AS DOUBLE) / COUNT(*) AS avg_tokens,
  CAST(SUM(CAST(CAST(len(list_distinct({_D_TOKENS})) AS DOUBLE) / len({_D_TOKENS})
       AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS avg_ttr,
  CAST(SUM(CAST(ROUND(
        0.4 * least(len({_D_TOKENS}) / CAST(100 AS DOUBLE), 1.0)
      + 0.3 * least({_D_STOPS["en"]} / CAST(10 AS DOUBLE), 1.0)
      + 0.3 * (CAST(len(list_distinct({_D_TOKENS})) AS DOUBLE) / len({_D_TOKENS})),
      6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_quality
FROM documents
GROUP BY lang
ORDER BY lang
""",
    doc="Corpus quality profile per language tag: token volume, lexical "
    "diversity, heuristic quality score (operators/text.py).",
    tags=("text", "agg", "extension", "headline"),
    extended=True,
)
def text_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    per_doc = docs.select(
        "lang",
        TX.token_count(t).cast("long").alias("n_tokens"),
        TX.type_token_ratio(t).alias("ttr"),
        TX.quality_score(t).alias("q"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("n_tokens").cast("double") / F.count("*")).alias("avg_tokens"),
            (
                F.sum(F.col("ttr").cast("decimal(18,9)")).cast("double")
                / F.count("*")
            ).alias("avg_ttr"),
            (
                F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("avg_quality"),
        )
        .orderBy("lang")
    )


@register(
    "text_lang_id",
    oracle=f"""
SELECT doc_id, lang AS tagged_lang,
  {_D_STOPS["en"]} AS en_hits, {_D_STOPS["fr"]} AS fr_hits,
  {_D_STOPS["de"]} AS de_hits, {_D_STOPS["es"]} AS es_hits,
  CASE
    WHEN {_D_STOPS["en"]} >= {_D_STOPS["fr"]} AND {_D_STOPS["en"]} >= {_D_STOPS["de"]}
         AND {_D_STOPS["en"]} >= {_D_STOPS["es"]} THEN 'en'
    WHEN {_D_STOPS["fr"]} >= {_D_STOPS["de"]} AND {_D_STOPS["fr"]} >= {_D_STOPS["es"]} THEN 'fr'
    WHEN {_D_STOPS["de"]} >= {_D_STOPS["es"]} THEN 'de'
    ELSE 'es'
  END AS lang_pred
FROM documents
""",
    doc="N-gram/stopword language-ID heuristic: per-language hit counts + "
    "argmax with fixed preference order (deterministic scoring operator).",
    tags=("text", "extension"),
    extended=True,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    scores = TX.lang_scores(t)
    return docs.select(
        "doc_id",
        F.col("lang").alias("tagged_lang"),
        *[scores[lang].cast("long").alias(f"{lang}_hits") for lang in ("en", "fr", "de", "es")],
        TX.lang_guess(t).alias("lang_pred"),
    )


@register(
    "text_quality_filter",
    oracle=f"""
SELECT doc_id, quality_score FROM (
  SELECT doc_id, ROUND(
      0.4 * least(len({_D_TOKENS}) / CAST(100 AS DOUBLE), 1.0)
    + 0.3 * least({_D_STOPS["en"]} / CAST(10 AS DOUBLE), 1.0)
    + 0.3 * (CAST(len(list_distinct({_D_TOKENS})) AS DOUBLE) / len({_D_TOKENS})),
    6) AS quality_score
  FROM documents
) WHERE quality_score >= 0.5
""",
    doc="Quality-gate filter: keep documents above the heuristic quality "
    "threshold (the standard corpus pre-filter stage).",
    tags=("text", "filter", "extension"),
    extended=True,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality_score"))
        .filter(F.col("quality_score") >= 0.5)
    )


@register(
    "text_subword_tokens",
    oracle=rf"""
SELECT doc_id, n_tokens, n_subwords,
  CASE WHEN n_subwords > 0 THEN
    ROUND(CAST(n_chars_text AS DOUBLE) / n_subwords, 6)
  END AS chars_per_subword
FROM (
  SELECT doc_id,
    len({_D_TOKENS}) AS n_tokens,
    len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]{{1,3}}| ?[^A-Za-z0-9\s]+'))
      AS n_subwords,
    CAST(length(text) AS BIGINT) AS n_chars_text
  FROM documents
) t
""",
    doc="BPE-ish token-count estimation: whitespace tokens vs regex "
    "pre-tokenizer matches + chars-per-token ratio (operators/text.py: "
    "subword_count — the LLM token-budget estimator).",
    tags=("text", "extension"),
    extended=True,
)
def text_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        docs.select(
            "doc_id",
            TX.token_count(t).cast("long").alias("n_tokens"),
            TX.subword_count(t).cast("long").alias("n_subwords"),
            F.length(t).cast("long").alias("_n_chars"),
        )
        .withColumn(
            "chars_per_subword",
            F.when(
                F.col("n_subwords") > 0,
                F.round(
                    F.col("_n_chars").cast("double") / F.col("n_subwords"), 6
                ),
            ),
        )
        .drop("_n_chars")
    )


# DuckDB mirrors of the Gopher repetition signals (operators/text.py:
# ngrams_with_duplicates / repeated_ngram_fraction / top_token_fraction).
def _d_ngrams(n: int) -> str:
    return (
        f"list_transform(generate_series(1, greatest(len({_D_TOKENS})-{n - 1},1)),"
        f" i -> array_to_string(list_slice({_D_TOKENS}, i, i+{n - 1}), ' '))"
    )


def _d_rep_frac(n: int) -> str:
    g = _d_ngrams(n)
    return f"round((len({g}) - len(list_distinct({g}))) / len({g}), 6)"


_D_TOP1 = (
    f"round(list_max(list_transform(list_distinct({_D_TOKENS}),"
    f" g -> len(list_filter({_D_TOKENS}, x -> x = g)))) / len({_D_TOKENS}), 6)"
)


@register(
    "text_repetition_signals",
    oracle=f"""
SELECT doc_id, rep_bigram_frac, rep_trigram_frac, top_token_frac,
  (rep_bigram_frac < 0.04 AND top_token_frac < 0.1) AS keep
FROM (
  SELECT doc_id,
    {_d_rep_frac(2)} AS rep_bigram_frac,
    {_d_rep_frac(3)} AS rep_trigram_frac,
    {_D_TOP1} AS top_token_frac
  FROM documents
) t
""",
    doc="Gopher-style repetition quality signals (Rae et al. 2021 "
    "§A1.1): repeated bigram/trigram occurrence fractions and the "
    "top-1-token mass fraction, plus the keep verdict a curation "
    "pipeline filters on.  All native array expressions (struct n-grams via arrays_zip, sorted-run aggregates) "
    "— per-row, map-side, zero shuffle, no Python "
    "(operators/text.py:repeated_ngram_fraction/top_token_fraction).",
    tags=("text", "extension", "headline"),
    extended=True,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.repeated_ngram_fraction(t, 2).alias("rep_bigram_frac"),
        TX.repeated_ngram_fraction(t, 3).alias("rep_trigram_frac"),
        TX.top_token_fraction(t).alias("top_token_frac"),
    ).withColumn(
        "keep",
        (F.col("rep_bigram_frac") < 0.04) & (F.col("top_token_frac") < 0.1),
    )


@register(
    "text_heavy_hitters",
    oracle=f"""
SELECT token, COUNT(*) AS n_occurrences
FROM (SELECT unnest({_D_TOKENS}) AS token FROM documents) t
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 20
""",
    doc="Corpus-wide heavy hitters: explode(tokens) -> hash aggregate "
    "-> total-ordered top-k.  The explode multiplies rows map-side but "
    "partial aggregation collapses them before the shuffle, so the "
    "exchange carries one row per (partition, distinct token) — the "
    "vocabulary, not the corpus.  Total tiebreak (count DESC, token) "
    "keeps the limit deterministic.",
    tags=("text", "extension"),
    extended=True,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(20)
    )


@register(
    "text_tfidf_top_terms",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.token, t.tf, d.df,
         t.tf * (CAST(n.n AS DOUBLE) / d.df) AS score
  FROM tf t JOIN dfreq d USING (token) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, token) AS rn
  FROM scored
)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score
FROM ranked WHERE rn <= 3
ORDER BY doc_id, rn
""",
    doc="Inverted-index / TF-IDF: tokenize, build per-(doc, term) "
    "frequencies and per-term document frequencies (one shuffle "
    "each, both map-side-combined), score tf * (N / df) with the "
    "corpus size N computed IN-PLAN (broadcast 1-row aggregate, no "
    "driver collect), top-3 terms per doc via row_number with a "
    "total (score DESC, token) tiebreak.  The score is two "
    "correctly-rounded IEEE double ops — bit-identical across "
    "engines without any decimal fold — so even the float column "
    "hash-matches.  The per-term df relation IS the inverted-index "
    "statistics layer a retrieval/routing stage needs; at 100 TB "
    "the heavy shuffle is (token, doc) pairs, which partial "
    "aggregation collapses before exchange.",
    tags=("text", "tfidf", "extension"),
    extended=True,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf") * (F.col("n").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "df", "score")
        .orderBy("doc_id", "token")
    )


_BIGRAM_ORACLE = f"""
WITH bg AS (
  SELECT doc_id AS id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM (SELECT doc_id, {_D_TOKENS} AS t FROM documents))
),
c2 AS (SELECT w1, w2, COUNT(*) AS cnt2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(cnt2) AS BIGINT) AS cnt1 FROM c2 GROUP BY w1),
scored AS (
  SELECT bg.id, CAST(c2.cnt2 AS DOUBLE) / c1.cnt1 AS p,
         CASE WHEN c2.cnt2 <= 2 THEN 1 ELSE 0 END AS rare
  FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
  JOIN c1 ON bg.w1 = c1.w1
)
SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(CAST(CAST(SUM(CAST(p AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
       AS DECIMAL(18,12)) AS DOUBLE) AS avg_cond_prob,
  CAST(SUM(rare) AS DOUBLE) / COUNT(*) AS rare_bigram_frac
FROM scored GROUP BY id ORDER BY doc_id
"""


@register(
    "text_bigram_lm_quality",
    oracle=_BIGRAM_ORACLE,
    doc="Corpus-trained bigram LM quality signals per doc (the "
    "CCNet/KenLM perplexity-filter pattern in exact log-free form): "
    "mean conditional probability p(w2|w1) over each doc's bigrams "
    "(decimal-folded, 12-digit-pinned — hash-checkable, unlike a "
    "libm-log perplexity) and the fraction of corpus-rare bigrams.  "
    "One map-side-combined count-table groupBy; unigrams re-aggregate "
    "the COUNT TABLE, not the corpus; scoring is equi-joins + one "
    "per-doc aggregate — the model lives in the plan, not the driver.",
    tags=("text", "lm", "quality", "extension", "headline"),
    extended=True,
)
def text_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.text import bigram_lm_score

    docs = load_table(spark, sf_dir, "documents")
    return (
        bigram_lm_score(docs)
        .select(
            F.col("id").alias("doc_id"),
            "n_bigrams",
            "avg_cond_prob",
            "rare_bigram_frac",
        )
        .orderBy("doc_id")
    )


_KN_ORACLE = f"""
WITH bg AS (
  SELECT doc_id AS id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM (SELECT doc_id, {_D_TOKENS} AS t FROM documents))
),
c2 AS (SELECT w1, w2, COUNT(*) AS cnt2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(cnt2) AS BIGINT) AS cnt1,
              COUNT(*) AS fw FROM c2 GROUP BY w1),
bw AS (SELECT w2, COUNT(*) AS bw FROM c2 GROUP BY w2),
tt AS (SELECT COUNT(*) AS t_types FROM c2),
scored AS (
  SELECT bg.id,
    ((CAST(c2.cnt2 AS DOUBLE) - 0.75) / c1.cnt1)
      + ((0.75 * c1.fw / c1.cnt1)
         * (CAST(bw.bw AS DOUBLE) / tt.t_types)) AS p_kn,
    CAST(bw.bw AS DOUBLE) / tt.t_types AS p_cont
  FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
  JOIN c1 ON bg.w1 = c1.w1
  JOIN bw ON bg.w2 = bw.w2
  CROSS JOIN tt
)
SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(CAST(CAST(SUM(CAST(p_kn AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
       AS DECIMAL(18,12)) AS DOUBLE) AS avg_kn_prob,
  CAST(CAST(CAST(SUM(CAST(p_cont AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
       AS DECIMAL(18,12)) AS DOUBLE) AS avg_cont_prob
FROM scored GROUP BY id ORDER BY doc_id
"""


@register(
    "text_kn_lm_quality",
    oracle=_KN_ORACLE,
    doc="Interpolated Kneser-Ney bigram LM quality per doc (Kneser & "
    "Ney 1995; Chen & Goodman 1999) — the smoothed successor to "
    "text_bigram_lm_quality, still exact/log-free: p_KN(w2|w1) = "
    "(c-0.75)/c1 + 0.75*N1+(w1,.)/c1 * p_cont(w2) with p_cont from "
    "distinct-history counts, each term a pinned double-op sequence "
    "folded through DECIMAL then 12-digit-pinned.  Count table + its "
    "re-aggregations (c1, N1+ fw/bw, type total) never touch the "
    "corpus again; scoring is equi-joins plus one broadcast 1-row "
    "total.  avg_cont_prob separates generic from niche vocabulary.",
    tags=("text", "lm", "quality", "extension"),
    extended=True,
)
def text_kn_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.text import kn_bigram_lm_score

    docs = load_table(spark, sf_dir, "documents")
    return (
        kn_bigram_lm_score(docs)
        .select(
            F.col("id").alias("doc_id"),
            "n_bigrams",
            "avg_kn_prob",
            "avg_cont_prob",
        )
        .orderBy("doc_id")
    )


# -- count-min sketch (operators/sketch.py) --------------------------------

_CMS_W, _CMS_D, _CMS_SEED = 512, 4, 7


def _cms_sql_col(
    f_expr: str,
    j_expr: str,
    width: int | None = None,
    depth: int | None = None,
    seed: int | None = None,
) -> str:
    # replay the pairwise-independent per-row (a_j, b_j) from
    # operators/sketch.py:_cms_row_params as literal CASE branches —
    # the multipliers MUST differ per row (depth independence; see the
    # round-7 fix note there), and embedding the Python-computed
    # constants keeps both engines on identical integers
    from diabetes_etl_spark.operators.sampling import _MOD
    from diabetes_etl_spark.operators.sketch import _cms_row_params

    width = _CMS_W if width is None else width
    depth = _CMS_D if depth is None else depth
    seed = _CMS_SEED if seed is None else seed
    params = [_cms_row_params(j, seed) for j in range(depth)]
    a_case = (
        "CASE "
        + " ".join(
            f"WHEN {j_expr} = {j} THEN {a}" for j, (a, _) in enumerate(params)
        )
        + " END"
    )
    b_case = (
        "CASE "
        + " ".join(
            f"WHEN {j_expr} = {j} THEN {b}" for j, (_, b) in enumerate(params)
        )
        + " END"
    )
    return (
        f"CAST((({f_expr} * ({a_case}) + ({b_case}))"
        f" % {_MOD}) % {width} AS INT)"
    )


_CMS_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_D_TOKENS}) AS tok FROM documents
),
fp AS (
  SELECT tok, {_D_FINGERPRINT.format(col="tok")} AS f FROM toks
),
probes AS (
  SELECT f, j, {_cms_sql_col('f', 'j')} AS c
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS j) js
),
cells AS (SELECT j AS r, c, COUNT(*) AS cnt FROM probes GROUP BY j, c),
exact AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM toks
  GROUP BY tok ORDER BY exact_cnt DESC, tok LIMIT 20
),
fpd AS (SELECT DISTINCT tok, f FROM fp),
eprobes AS (
  SELECT e.tok, e.exact_cnt, j AS r, {_cms_sql_col('fpd.f', 'j')} AS c
  FROM exact e JOIN fpd ON e.tok = fpd.tok
  CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS j) js
),
est AS (
  SELECT p.tok, p.exact_cnt,
         CAST(MIN(COALESCE(cells.cnt, 0)) AS BIGINT) AS cms_cnt
  FROM eprobes p
  LEFT JOIN cells ON p.r = cells.r AND p.c = cells.c
  GROUP BY p.tok, p.exact_cnt
)
SELECT tok, exact_cnt, cms_cnt,
       CAST(cms_cnt - exact_cnt AS BIGINT) AS overcount
FROM est ORDER BY exact_cnt DESC, tok
"""


@register(
    "cms_token_frequencies",
    oracle=_CMS_ORACLE,
    doc=f"Count-min sketch frequency estimation "
    f"(operators/sketch.py): a {_CMS_D}x{_CMS_W} mergeable cell table "
    "summarizes the full token stream in constant memory (map-side "
    "combine bounds the shuffle at depth*width partial cells per "
    "partition, independent of corpus size), then the exact top-20 "
    "heavy hitters are point-estimated from the broadcast sketch — "
    "est >= exact always, est <= exact + eps*N w.h.p.  The hash "
    "functions are the portable LCG mix over the rolling-hash "
    "fingerprint, so even this APPROXIMATE structure is bit-identical "
    "cross-engine and the overcounts themselves hash-match the "
    "oracle's replay.",
    tags=("text", "sketch", "approximate", "extension"),
    extended=True,
)
def cms_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sketch import cms_cells, cms_estimate
    from diabetes_etl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    cells = cms_cells(toks, "tok", _CMS_W, _CMS_D, _CMS_SEED)
    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "tok")
        .limit(20)
    )
    est = cms_estimate(cells, exact, "tok", _CMS_W, _CMS_D, _CMS_SEED)
    return est.select(
        "tok",
        "exact_cnt",
        "cms_cnt",
        (F.col("cms_cnt") - F.col("exact_cnt")).alias("overcount"),
    ).orderBy(F.desc("exact_cnt"), "tok")


# -- BPE tokenizer training, one merge step (operators/bpe.py) -------------

_BPE_ORACLE = r"""
WITH w AS (
  SELECT word, COUNT(*) AS n FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
    FROM documents)
  WHERE word != '' GROUP BY word
),
ws AS (SELECT word, n,
              trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS sym
       FROM w),
pc AS (
  SELECT s[i] AS a, s[i + 1] AS b, CAST(SUM(n) AS BIGINT) AS cnt
  FROM (SELECT n, s, unnest(generate_series(1, len(s) - 1)) AS i
        FROM (SELECT n, string_split(sym, ' ') AS s FROM ws))
  GROUP BY a, b
),
tp AS (SELECT a, b, cnt FROM pc ORDER BY cnt DESC, a, b LIMIT 1),
m AS (
  SELECT ws.word, ws.n, ws.sym,
    list_reduce(string_split(ws.sym, ' '), (acc, x) ->
      CASE WHEN (acc = tp.a OR ends_with(acc, ' ' || tp.a)) AND x = tp.b
           THEN acc || tp.b ELSE acc || ' ' || x END) AS sym2
  FROM ws CROSS JOIN tp
),
vb AS (SELECT COUNT(DISTINCT s) AS v
       FROM (SELECT unnest(string_split(sym, ' ')) AS s FROM ws)),
va AS (SELECT COUNT(DISTINCT s) AS v
       FROM (SELECT unnest(string_split(sym2, ' ')) AS s FROM m)),
nm AS (SELECT COUNT(*) AS c FROM m WHERE sym2 != sym)
SELECT tp.a AS merge_a, tp.b AS merge_b, tp.cnt AS pair_count,
  CAST(vb.v AS BIGINT) AS vocab_before,
  CAST(va.v AS BIGINT) AS vocab_after,
  CAST(nm.c AS BIGINT) AS n_merged_words
FROM tp, vb, va, nm
"""


@register(
    "bpe_merge_step",
    oracle=_BPE_ORACLE,
    doc="One BPE tokenizer-training step (operators/bpe.py, Sennrich "
    "et al. 2016) fully in-plan: word table (map-side-combined "
    "groupBy — Zipf makes it tiny vs the corpus), adjacent-pair "
    "counts weighted by word frequency, deterministic argmax "
    "(cnt DESC, a, b), and the greedy left-to-right merge as a "
    "sequential string fold (broadcast 1-row merge table, no driver "
    "round-trip; no lookbehind regex, no replace() "
    "delimiter-consumption bug on adjacent repeats).  The oracle "
    "replays the identical fold in list_reduce — the learned merge, "
    "both vocab sizes, and the rewritten-word count all hash-match.",
    tags=("text", "bpe", "tokenizer", "extension"),
    extended=True,
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.bpe import (
        apply_merge,
        symbolize_words,
        top_pair,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = symbolize_words(docs)
    tp = top_pair(words)
    merged = apply_merge(words, tp)
    syms_b = words.select(
        F.explode(F.split("sym", " ")).alias("s")
    ).agg(F.countDistinct("s").alias("vocab_before"))
    syms_a = merged.select(
        F.explode(F.split("sym", " ")).alias("s")
    ).agg(F.countDistinct("s").alias("vocab_after"))
    changed = (
        words.select("word", F.col("sym").alias("sym_old"))
        .join(merged.select("word", "sym"), "word")
        .filter(F.col("sym") != F.col("sym_old"))
        .agg(F.count("*").alias("n_merged_words"))
    )
    return (
        tp.select(
            F.col("a").alias("merge_a"),
            F.col("b").alias("merge_b"),
            F.col("cnt").alias("pair_count"),
        )
        .crossJoin(F.broadcast(syms_b))
        .crossJoin(F.broadcast(syms_a))
        .crossJoin(F.broadcast(changed))
    )


# -- BM25 lexical retrieval (operators/ranking.py, round-7) -----------------

_BM25_TERMS = ("join", "window", "vector", "stream", "hash", "dup")
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 15

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_BM25_ORACLE = f"""
WITH base AS (
  SELECT doc_id, len({_D_TOKENS}) AS dl FROM documents
),
stats AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM base
),
toks AS (
  SELECT doc_id, unnest({_D_TOKENS}) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, tok
),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
idf AS (
  SELECT tok,
    ROUND(LN((CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
             / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 9)
      AS idf
  FROM dft CROSS JOIN stats
),
per_term AS (
  SELECT tf.doc_id,
    ROUND(idf.idf * (tf.tf * CAST({_BM25_K1 + 1.0} AS DOUBLE))
      / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
         * (CAST({1.0 - _BM25_B} AS DOUBLE)
            + CAST({_BM25_B} AS DOUBLE) * CAST(base.dl AS DOUBLE)
              / stats.avgdl)), 9) AS w
  FROM tf JOIN idf USING (tok) JOIN base USING (doc_id)
  CROSS JOIN stats
),
scored AS (
  SELECT doc_id,
    CAST(SUM(CAST(w AS DECIMAL(18,9))) AS DOUBLE) AS bm25_score
  FROM per_term GROUP BY doc_id
)
SELECT doc_id, bm25_score, CAST(rn AS INT) AS bm25_rank FROM (
  SELECT *, row_number() OVER (ORDER BY bm25_score DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= {_BM25_TOPK}
"""


@register(
    "text_bm25_topk",
    oracle=_BM25_ORACLE,
    doc=f"BM25 lexical retrieval (operators/ranking.py): top-"
    f"{_BM25_TOPK} documents for a {len(_BM25_TERMS)}-term query under "
    "the Lucene-form Okapi BM25 — the classic hybrid-search partner "
    "of the embedding ANN family.  One tokenize pass computes "
    "query-term tfs (isin-pruned before the aggregate) and doc "
    "lengths; df/idf/corpus stats all broadcast, so the only corpus "
    "shuffle carries (doc, term, tf) for MATCHING docs.  idf's ln is "
    "the one libm call: quantized to 9 decimals at the source and "
    "decimal-folded across terms, making the ranking hash-checkable "
    "(see the determinism note in operators/ranking.py).",
    tags=("text", "ranking", "retrieval", "extension", "headline"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.ranking import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, _BM25_TERMS, k=_BM25_TOPK, k1=_BM25_K1, b=_BM25_B
    )


# -- in-plan BPE tokenizer application (operators/bpe.py, round-7) ----------

# A fixed learned-style merge table over the fixture vocabulary,
# including two-level merges ((j,o)+(i,n) feed (jo,in) -> "join") —
# applying a GIVEN merge table is the operator under test; training it
# is bpe_merge_step / tests/test_bpe.py.
_BPE_APPLY_MERGES = [
    ("j", "o"), ("i", "n"), ("jo", "in"), ("o", "r"),
    ("or", "d"), ("e", "r"), ("a", "g"), ("ag", "g"),
]


def _bpe_fold_sql(inner: str, a: str, b: str) -> str:
    """DuckDB list_reduce replay of bpe.merge_fold_literal (same fold,
    same element order, same greedy accumulator)."""
    return (
        f"list_reduce(list_prepend('', string_split({inner}, ' ')), "
        f"(acc, x) -> CASE WHEN acc = '' THEN x "
        f"WHEN (acc = '{a}' OR ends_with(acc, ' {a}')) AND x = '{b}' "
        f"THEN acc || '{b}' "
        f"ELSE acc || ' ' || x END)"
    )


def _bpe_encode_sql() -> str:
    expr = "array_to_string(string_split(word, ''), ' ')"
    for a, b in _BPE_APPLY_MERGES:
        expr = _bpe_fold_sql(expr, a, b)
    return expr


_BPE_ENCODE_ORACLE = f"""
WITH pairs AS (
  SELECT doc_id, unnest({_D_TOKENS}) AS word FROM documents
),
fp AS (SELECT doc_id, word FROM pairs WHERE word <> ''),
vocab AS (SELECT DISTINCT word FROM fp),
enc AS (SELECT word, {_bpe_encode_sql()} AS sym FROM vocab),
cnt AS (SELECT word, len(string_split(sym, ' ')) AS n_sub FROM enc)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(n_sub) AS BIGINT) AS n_subtokens
FROM fp JOIN cnt USING (word)
GROUP BY doc_id ORDER BY doc_id
"""


@register(
    "bpe_encode_corpus",
    oracle=_BPE_ENCODE_ORACLE,
    doc=f"In-plan BPE tokenizer APPLICATION: a {len(_BPE_APPLY_MERGES)}"
    "-merge learned table (training-order folds, incl. two-level "
    "merges) encodes the DISTINCT word table as native sequential-fold "
    "expressions — no UDF — and corpus tokens join the encoded "
    "vocabulary map for per-document subtoken budgets "
    "(operators/bpe.py:bpe_encode_words/bpe_subtoken_stats).  The "
    "corpus shuffles only (doc_id, word); the nested folds run on "
    "vocabulary-sized input (Zipf), which is what makes expression-"
    "based tokenization viable at corpus scale.  The oracle replays "
    "the identical folds in DuckDB list_reduce.",
    tags=("text", "bpe", "tokenizer", "extension"),
    extended=True,
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.bpe import bpe_subtoken_stats

    docs = load_table(spark, sf_dir, "documents")
    return bpe_subtoken_stats(docs, _BPE_APPLY_MERGES).orderBy("doc_id")


# -- inverted index + boolean retrieval (round-8) ---------------------------

_INV_TOKS = (
    "SELECT doc_id, t.term FROM documents, "
    "unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')))"
    " AS t(term) WHERE LENGTH(t.term) > 0"
)

_INV_TERMS = ("batch", "scan", "merge")


@register(
    "text_inverted_postings",
    oracle=f"""
WITH toks AS ({_INV_TOKS}),
idx AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
    MIN(doc_id) AS doc_lo, MAX(doc_id) AS doc_hi,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT), list_sort(list(doc_id))),
      (acc, x) -> (acc * 131 + x) % 1000000007) AS postings_checksum
  FROM toks GROUP BY term
)
SELECT term, df, doc_lo, doc_hi, postings_checksum
FROM idx ORDER BY df DESC, term LIMIT 20
""",
    doc="Inverted-index materialization "
    "(operators/invindex.py:inverted_postings): distinct (doc, term) "
    "pairs explode map-side — text never shuffles — and postings "
    "aggregate per term; the top-20 terms by document frequency "
    "return with doc-range stats and an order-sensitive rolling "
    "CHECKSUM of the doc-id-sorted posting list, so the oracle pins "
    "the EXACT posting content through a scalar (no cross-engine "
    "array serialization).  The operator's max_postings_per_row mode "
    "shards a hot term's postings into bounded (term, chunk) rows — "
    "the segment structure a 100 TB index actually stores "
    "(tests/test_text_ops.py pins chunk/merge equivalence).",
    tags=("text", "index", "retrieval", "extension"),
    extended=True,
)
def text_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.invindex import inverted_postings

    docs = load_table(spark, sf_dir, "documents")
    return (
        inverted_postings(docs)
        .select("term", "df", "doc_lo", "doc_hi", "postings_checksum")
        .orderBy(F.col("df").desc(), "term")
        .limit(20)
    )


@register(
    "text_conjunctive_search",
    oracle=f"""
WITH toks AS ({_INV_TOKS}),
sel AS (SELECT doc_id, term FROM toks
        WHERE term IN {_INV_TERMS!r}),
hits AS (
  SELECT doc_id FROM sel GROUP BY doc_id
  HAVING COUNT(*) = {len(_INV_TERMS)}
)
SELECT h.doc_id, d.n_chars
FROM hits h JOIN documents d USING (doc_id)
ORDER BY h.doc_id
""",
    doc=f"Boolean AND retrieval over {_INV_TERMS} "
    "(operators/invindex.py:conjunctive_search): the posting "
    "intersection computed WITHOUT materializing postings — the "
    "exploded distinct (doc, term) pairs filter to the query set "
    "(broadcast-size isin, so only query-matching pairs shuffle) and "
    "a per-doc match count equal to the query length is the "
    "intersection; matched docs re-join the corpus for their "
    "attributes.  One bounded shuffle regardless of corpus size.",
    tags=("text", "retrieval", "boolean", "extension"),
    extended=True,
)
def text_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.invindex import conjunctive_search

    docs = load_table(spark, sf_dir, "documents")
    hits = conjunctive_search(docs, list(_INV_TERMS))
    return (
        hits.join(docs.select("doc_id", "n_chars"), "doc_id")
        .orderBy("doc_id")
    )


_PHRASE = ("table", "hash")


@register(
    "text_phrase_search",
    oracle=f"""
WITH occ AS (
  SELECT doc_id, i - 1 AS pos, toks[i] AS term
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents WHERE LENGTH(text) > 0),
       unnest(generate_series(1, len(toks))) AS t(i)
  WHERE LENGTH(toks[i]) > 0
),
votes AS (
  SELECT occ.doc_id, occ.pos - s.slot AS start, s.slot
  FROM occ JOIN (VALUES {", ".join(f"({j}, '{t}')" for j, t in enumerate(_PHRASE))})
       AS s(slot, t) ON occ.term = s.t
  WHERE occ.pos - s.slot >= 0
),
hits AS (
  SELECT doc_id, start FROM votes
  GROUP BY doc_id, start HAVING COUNT(DISTINCT slot) = {len(_PHRASE)}
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
FROM hits GROUP BY doc_id ORDER BY doc_id
""",
    doc=f"Exact PHRASE retrieval for {' '.join(_PHRASE)!r} "
    "(operators/invindex.py:phrase_search): the positional-postings "
    "intersection computed without materializing position lists — "
    "occurrences of the phrase's terms filter from the (doc, term, "
    "pos) stream (broadcast-size isin), each occurrence of slot-j's "
    "term re-keys to its would-be phrase START (pos - j), and a "
    "start where every slot landed is a match; per-doc match counts "
    "return.  One shuffle ∝ phrase-term occurrences, never the "
    "corpus's position lists.",
    tags=("text", "retrieval", "phrase", "extension"),
    extended=True,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.invindex import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, list(_PHRASE)).orderBy("doc_id")


_D_LTOKS = r"regexp_split_to_array(trim(lower(text)), '\s+')"


@register(
    "text_pmi_collocations",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_D_LTOKS} AS ts FROM documents),
big AS (
  SELECT ts[i] AS w1, ts[i+1] AS w2
  FROM toks, UNNEST(range(1, len(ts))) AS t(i)
),
bc AS (SELECT w1, w2, COUNT(*) AS n_pair FROM big GROUP BY 1, 2),
uni AS (SELECT unnest(ts) AS w FROM toks),
uc AS (SELECT w, COUNT(*) AS n_w FROM uni GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM big)
SELECT bc.w1, bc.w2, bc.n_pair, a.n_w AS n_w1, b.n_w AS n_w2,
       CAST(bc.n_pair * n.n AS DOUBLE) / CAST(a.n_w * b.n_w AS DOUBLE)
         AS lift
FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w CROSS JOIN n
WHERE bc.n_pair >= 5
ORDER BY lift DESC, bc.w1, bc.w2
LIMIT 20
""",
    doc="Collocation extraction (tokenizer-vocabulary mining): corpus "
    "bigram counts vs unigram counts, scored by PMI lift "
    "(n_pair * N) / (n_w1 * n_w2) — exact bigint products, one "
    "correctly-rounded divide, so the double column hash-matches "
    "cross-engine; log-PMI is a monotone transform of it, so the "
    "ranking is the PMI ranking.  Shuffles carry only "
    "(bigram, partial-count) / (token, partial-count) after map-side "
    "combine — vocabulary-sized, never the corpus; the total-bigram "
    "count N attaches as an in-plan broadcast 1-row aggregate (no "
    "driver collect), and the final top-20 is a TakeOrdered with a "
    "total (lift DESC, w1, w2) tiebreak.",
    tags=("text", "extension"),
    extended=True,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ts = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    toks = docs.select(ts.alias("ts"))
    # Adjacent pairs; a <2-token doc contributes none (guarded: Spark's
    # sequence(1, 0) would count DOWN, and ts[i] past the end is NULL).
    big = (
        toks.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> struct(ts[i-1] AS w1, ts[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    uc = (
        toks.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
    )
    n = big.agg(F.count("*").alias("n"))
    return (
        bc.filter(F.col("n_pair") >= 5)
        .join(uc.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_w1"), "w1")
        .join(uc.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_w2"), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            (
                (F.col("n_pair") * F.col("n")).cast("double")
                / (F.col("n_w1") * F.col("n_w2")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(20)
    )


_QC_KEEP = 0.4

_QCAL_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang, ROUND(
      0.4 * least(len({_D_TOKENS}) / CAST(100 AS DOUBLE), 1.0)
    + 0.3 * least({_D_STOPS["en"]} / CAST(10 AS DOUBLE), 1.0)
    + 0.3 * (CAST(len(list_distinct({_D_TOKENS})) AS DOUBLE)
             / len({_D_TOKENS})),
    6) AS q
  FROM documents
),
thr AS (
  SELECT lang, quantile_cont(q, {1.0 - _QC_KEEP}) AS group_threshold
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.q,
       ROUND(t.group_threshold, 6) AS group_threshold
FROM scored s JOIN thr t ON s.lang = t.lang
WHERE s.q >= t.group_threshold
"""


@register(
    "text_quality_calibrated_filter",
    oracle=_QCAL_ORACLE,
    doc=f"CALIBRATED quality filtering (operators/sampling.py:"
    f"quantile_threshold_filter): keep the top {_QC_KEEP:.0%} of EACH "
    "language by the heuristic quality score — the per-group exact-"
    "percentile threshold is derived in-plan and broadcast, so no "
    "fixed cutoff over-prunes low-scoring languages (the calibration "
    "step real corpus pipelines run before mixing).  Exact percentile "
    "aggregates a bounded value-count map per group (distinct rounded "
    "scores, not rows) — no per-group sort, no corpus window; the "
    "k-row threshold table broadcasts onto one filtering scan.  "
    "Thresholds land on or strictly between 6-decimal score values, "
    "so the selection is engine-portable (threshold column rounded "
    "for the output comparison only).",
    tags=("text", "quality", "calibration", "extension"),
    extended=True,
)
def text_quality_calibrated_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from diabetes_etl_spark.operators.sampling import (
        quantile_threshold_filter,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", TX.quality_score(F.col("text")).alias("q")
    )
    return quantile_threshold_filter(
        scored, "q", "lang", _QC_KEEP
    ).select(
        "doc_id", "lang", "q",
        F.round("group_threshold", 6).alias("group_threshold"),
    )


# -- Zipf rank-frequency profile ---------------------------------------------

_ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT unnest({_D_TOKENS}) AS w FROM documents
),
vocab AS (
  SELECT w, count(*) AS n FROM tok GROUP BY w
),
ranked AS (
  SELECT round(ln(row_number() OVER (ORDER BY n DESC, w)), 9) AS x,
         round(ln(n), 9) AS y
  FROM vocab
),
moments AS (
  SELECT count(*) AS m,
         CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(19,9)) * CAST(y AS DECIMAL(19,9)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(19,9)) * CAST(x AS DECIMAL(19,9)))
              AS DOUBLE) AS sxx
  FROM ranked
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM vocab) AS vocab_size,
       (SELECT CAST(count(*) AS BIGINT) FROM tok) AS total_tokens,
       round((sxy - sx * sy / m) / (sxx - sx * sx / m), 6) AS zipf_slope,
       round((sy - ((sxy - sx * sy / m) / (sxx - sx * sx / m)) * sx) / m, 6)
         AS zipf_intercept
FROM moments
"""


@register(
    "text_zipf_profile",
    oracle=_ZIPF_ORACLE,
    doc="Corpus token-distribution profile: vocabulary size, token "
    "volume, and the Zipf rank-frequency fit — OLS of ln(freq) on "
    "ln(rank) over the full vocabulary (natural corpora slope toward "
    "-1; a far-off slope flags synthetic/degenerate text, and the fit "
    "feeds vocab-size decisions for tokenizer training).  "
    "Determinism: both lns quantize to 9 decimals at the source "
    "(the BM25 precedent), the four OLS moments fold through exact "
    "DECIMAL products/sums, and ranks tie-break on the token string, "
    "so the fitted coefficients hash-match cross-engine.  Scale "
    "shape: the rank window sorts the COUNT TABLE (vocabulary-sized "
    "— orders smaller than the corpus; a >memory vocabulary would "
    "range-partition the rank in two phases), the corpus itself only "
    "feeds one map-side-combined token count.",
    tags=("text", "zipf", "profile", "extension"),
    extended=True,
)
def text_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(TX.tokens(F.col("text"))).alias("w")
    )
    vocab = tok.groupBy("w").agg(F.count("*").alias("n"))
    ranked = vocab.select(
        F.round(
            F.log(
                F.row_number()
                .over(Window.orderBy(F.desc("n"), F.asc("w")))
                .cast("double")
            ),
            9,
        ).alias("x"),
        F.round(F.log(F.col("n").cast("double")), 9).alias("y"),
    )
    m = F.count("*")
    sx = F.sum(F.col("x").cast("decimal(38,12)")).cast("double")
    sy = F.sum(F.col("y").cast("decimal(38,12)")).cast("double")
    sxy = F.sum(
        F.col("x").cast("decimal(19,9)") * F.col("y").cast("decimal(19,9)")
    ).cast("double")
    sxx = F.sum(
        F.col("x").cast("decimal(19,9)") * F.col("x").cast("decimal(19,9)")
    ).cast("double")
    moments = ranked.agg(
        m.alias("m"), sx.alias("sx"), sy.alias("sy"),
        sxy.alias("sxy"), sxx.alias("sxx"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("m")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m")
    )
    totals = vocab.agg(
        F.count("*").alias("vocab_size"), F.sum("n").alias("total_tokens")
    )
    return totals.crossJoin(F.broadcast(moments)).select(
        "vocab_size",
        "total_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("m"), 6
        ).alias("zipf_intercept"),
    )


# -- Heaps-law vocabulary growth ---------------------------------------------

_HEAPS_ORACLE = f"""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
tok AS (
  SELECT (doc_id * 10) // (mx.m + 1) AS bucket, doc_id,
         unnest({_D_TOKENS}) AS w
  FROM documents, mx
),
per_bucket AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY bucket
),
firsts AS (
  SELECT w, min(doc_id) AS first_doc FROM tok GROUP BY w
),
new_vocab AS (
  SELECT (f.first_doc * 10) // (mx.m + 1) AS bucket,
         CAST(count(*) AS BIGINT) AS n_new
  FROM firsts f, mx GROUP BY 1
)
SELECT p.bucket,
       CAST(sum(p2.n_tokens) AS BIGINT) AS cum_tokens,
       coalesce(n.n_new, 0) AS new_vocab,
       CAST((SELECT sum(coalesce(n2.n_new, 0)) FROM new_vocab n2
             WHERE n2.bucket <= p.bucket) AS BIGINT) AS cum_vocab
FROM per_bucket p
JOIN per_bucket p2 ON p2.bucket <= p.bucket
LEFT JOIN new_vocab n ON n.bucket = p.bucket
GROUP BY p.bucket, n.n_new
ORDER BY p.bucket
"""


@register(
    "text_heaps_growth",
    oracle=_HEAPS_ORACLE,
    doc="Heaps-law vocabulary growth: cumulative token volume vs "
    "cumulative DISTINCT vocabulary at ten ingestion checkpoints "
    "(doc-id deciles) — sublinear growth V(n) ~ K n^b is the "
    "natural-corpus signature; a flattening curve says new data adds "
    "volume, not novelty (the diminishing-returns signal corpus "
    "curation watches), and the Zipf profile's companion diagnostic.  "
    "A token's checkpoint is the decile of its FIRST document (one "
    "min-aggregate over the vocabulary — no corpus-ordered window, no "
    "cumulative scan: cumulative sums run over the 10-row bucket "
    "table).  Exact integer counts throughout.",
    tags=("text", "heaps", "profile", "extension"),
    extended=True,
)
def text_heaps_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("__m"))
    tok = docs.crossJoin(F.broadcast(mx)).select(
        F.expr("(doc_id * 10) div (__m + 1)").alias("bucket"),
        "doc_id",
        F.explode(TX.tokens(F.col("text"))).alias("w"),
    )
    per_bucket = tok.groupBy("bucket").agg(
        F.count("*").alias("n_tokens")
    )
    firsts = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    new_vocab = (
        firsts.crossJoin(F.broadcast(mx))
        .select(
            F.expr("(first_doc * 10) div (__m + 1)").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_new"))
    )
    w10 = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per_bucket.join(new_vocab, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_tokens").over(w10).alias("cum_tokens"),
            F.coalesce(F.col("n_new"), F.lit(0)).alias("new_vocab"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(w10)
            .alias("cum_vocab"),
        )
        .orderBy("bucket")
    )


# -- ROUGE / BLEU pairwise overlap -------------------------------------------

_D_NG = {
    n: (
        "list_transform(generate_series(1, greatest(len({t}) - %d, 1)), "
        "i -> array_to_string({t}[i:i+%d], ' '))" % (n - 1, n - 1)
    )
    for n in (1, 2)
}


def _rouge_bleu_oracle() -> str:
    """Linear unnest/group overlap counting (the same shape as the
    Spark plan) — the clipped sum min(cnt_cand, cnt_ref) over shared
    n-grams is identical to the per-gram clipped lambda."""
    toks = "regexp_split_to_array(trim(text), '\\s+')"
    parts = [
        f"""
cand AS (
  SELECT doc_id, doc_id - (doc_id % 10) AS ref_id, {toks} AS t
  FROM documents WHERE doc_id % 10 != 0
),
refs AS (
  SELECT doc_id AS ref_id, {toks} AS t
  FROM documents WHERE doc_id % 10 = 0
)"""
    ]
    for n in (1, 2):
        g = _D_NG[n].format(t="t")
        parts.append(f"""
cg{n} AS (
  SELECT doc_id, ref_id, g, COUNT(*) AS cnt
  FROM (SELECT doc_id, ref_id, unnest({g}) AS g FROM cand)
  GROUP BY doc_id, ref_id, g
),
rg{n} AS (
  SELECT ref_id, g, COUNT(*) AS cnt_r
  FROM (SELECT ref_id, unnest({g}) AS g FROM refs)
  GROUP BY ref_id, g
),
o{n} AS (
  SELECT c.doc_id, c.ref_id, SUM(LEAST(c.cnt, r.cnt_r)) AS ov{n}
  FROM cg{n} c JOIN rg{n} r ON c.ref_id = r.ref_id AND c.g = r.g
  GROUP BY c.doc_id, c.ref_id
)""")
    parts.append("""
base AS (
  SELECT c.doc_id, c.ref_id,
    greatest(len(c.t), 1) AS n1c, greatest(len(c.t) - 1, 1) AS n2c,
    greatest(len(r.t), 1) AS n1r, greatest(len(r.t) - 1, 1) AS n2r,
    len(r.t) AS rl, len(c.t) AS cl,
    CAST(COALESCE(o1.ov1, 0) AS DOUBLE) AS ov1,
    CAST(COALESCE(o2.ov2, 0) AS DOUBLE) AS ov2
  FROM cand c JOIN refs r ON c.ref_id = r.ref_id
  LEFT JOIN o1 ON c.doc_id = o1.doc_id AND c.ref_id = o1.ref_id
  LEFT JOIN o2 ON c.doc_id = o2.doc_id AND c.ref_id = o2.ref_id
),
m AS (
  SELECT doc_id, ref_id, ov1, ov2, rl, cl, n2c,
    ov1 / CAST(n1c AS DOUBLE) AS p1, ov1 / CAST(n1r AS DOUBLE) AS r1,
    ov2 / CAST(n2c AS DOUBLE) AS p2, ov2 / CAST(n2r AS DOUBLE) AS r2
  FROM base
)""")
    return (
        "WITH "
        + ",".join(parts)
        + """
SELECT doc_id, ref_id,
  ROUND(p1, 9) AS rouge1_p, ROUND(r1, 9) AS rouge1_r,
  CASE WHEN ov1 > 0 THEN ROUND(2 * p1 * r1 / (p1 + r1), 9)
       ELSE CAST(0 AS DOUBLE) END AS rouge1_f1,
  CASE WHEN ov2 > 0 THEN ROUND(2 * p2 * r2 / (p2 + r2), 9)
       ELSE CAST(0 AS DOUBLE) END AS rouge2_f1,
  CASE WHEN ov1 = 0 THEN CAST(0 AS DOUBLE)
       ELSE ROUND(
    least(CAST(1 AS DOUBLE),
          ROUND(exp(CAST(1 AS DOUBLE)
                    - CAST(rl AS DOUBLE) / CAST(cl AS DOUBLE)), 9))
    * ROUND(exp((CAST(0 AS DOUBLE) + ROUND(ln(p1), 9) / 2)
                + ROUND(ln((ov2 + CAST(1 AS DOUBLE))
                           / (CAST(n2c AS DOUBLE) + CAST(1 AS DOUBLE))),
                        9) / 2), 9), 9)
  END AS bleu2
FROM m
"""
    )


@register(
    "text_rouge_bleu_pairs",
    oracle=_rouge_bleu_oracle(),
    doc="ROUGE-1 P/R/F1, ROUGE-2 F1 and smoothed sentence BLEU-2 "
    "(Chen-Cherry method 2, brevity penalty) for every document "
    "against its decade-head reference (ref = doc_id - doc_id%10) — "
    "the overlap metrics a curation pipeline uses for paraphrase "
    "scoring and contamination severity beyond binary n-gram hits "
    "(operators/text.py:rouge_n/bleu_score).  All per-row JVM array "
    "arithmetic: the only shuffle is the pair join; ln/exp quantize "
    "to 9 decimals at the source (BM25 precedent), zero-overlap "
    "pairs short-circuit before any ln(0).",
    tags=("text", "rouge", "bleu", "extension", "headline"),
    extended=True,
)
def text_rouge_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the DISTRIBUTED overlap shape (ngram_count_table + least-join),
    # not the per-row clipped lambda: the lambda is O(len^2) per pair
    # in the expression interpreter (measured 10x slower at sf0.01),
    # while this form shuffles each (key, gram) once with map-side
    # combine and reuses every decade-head's counts across its 9 pairs
    docs = load_table(spark, sf_dir, "documents")
    cand = docs.where(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        "text",
        (F.col("doc_id") - (F.col("doc_id") % 10)).alias("ref_id"),
    )
    refs = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("ref_id"), "text"
    )

    def win(n: int):
        return F.greatest(
            TX.token_count(F.col("text")) - (n - 1), F.lit(1)
        )

    cand_tot = cand.select(
        "doc_id", "ref_id",
        win(1).alias("n1c"), win(2).alias("n2c"),
        TX.token_count(F.col("text")).alias("cl"),
    )
    ref_tot = refs.select(
        "ref_id", win(1).alias("n1r"), win(2).alias("n2r"),
        TX.token_count(F.col("text")).alias("rl"),
    )

    def overlap(n: int, out: str) -> DataFrame:
        c = TX.ngram_count_table(cand, "text", n, ["doc_id", "ref_id"])
        r = (
            TX.ngram_count_table(refs, "text", n, ["ref_id"])
            .withColumnRenamed("cnt", "cnt_r")
        )
        return (
            c.join(r, ["ref_id", "gram"])
            .groupBy("doc_id", "ref_id")
            .agg(F.sum(F.least(F.col("cnt"), F.col("cnt_r"))).alias(out))
        )

    base = (
        cand_tot.join(ref_tot, "ref_id")
        .join(overlap(1, "ov1"), ["doc_id", "ref_id"], "left")
        .join(overlap(2, "ov2"), ["doc_id", "ref_id"], "left")
        .select(
            "doc_id", "ref_id", "n1c", "n2c", "n1r", "n2r", "rl", "cl",
            F.coalesce(F.col("ov1"), F.lit(0)).cast("double").alias("ov1"),
            F.coalesce(F.col("ov2"), F.lit(0)).cast("double").alias("ov2"),
        )
    )
    p1 = F.col("ov1") / F.col("n1c")
    r1 = F.col("ov1") / F.col("n1r")
    p2 = F.col("ov2") / F.col("n2c")
    r2 = F.col("ov2") / F.col("n2r")
    p2s = (F.col("ov2") + 1.0) / (F.col("n2c") + 1.0)
    log_sum = (
        F.lit(0.0) + F.round(F.log(p1), 9) / 2 + F.round(F.log(p2s), 9) / 2
    )
    bp = F.least(
        F.lit(1.0),
        F.round(
            F.exp(1.0 - F.col("rl").cast("double") / F.col("cl")), 9
        ),
    )
    return base.select(
        "doc_id",
        "ref_id",
        F.round(p1, 9).alias("rouge1_p"),
        F.round(r1, 9).alias("rouge1_r"),
        F.when(F.col("ov1") > 0, F.round(2 * p1 * r1 / (p1 + r1), 9))
        .otherwise(F.lit(0.0))
        .alias("rouge1_f1"),
        F.when(F.col("ov2") > 0, F.round(2 * p2 * r2 / (p2 + r2), 9))
        .otherwise(F.lit(0.0))
        .alias("rouge2_f1"),
        F.when(F.col("ov1") == 0, F.lit(0.0))
        .otherwise(F.round(bp * F.round(F.exp(log_sum), 9), 9))
        .alias("bleu2"),
    )


# -- WordPiece greedy segmentation -------------------------------------------

_WP_V, _WP_MIN, _WP_MAX = 200, 2, 4
_WP_MOD, _WP_BASE = 1_073_741_789, 131
_WP_F = 2048  # packed-state field width (pos | np | fp)


def _wp_j_sql() -> str:
    cases = " ".join(
        f"WHEN acc % {_WP_F} + {l - 1} <= length(w) AND "
        f"len(m[substr(w, CAST(acc % {_WP_F} AS INT), {l})]) > 0 THEN {l}"
        for l in range(_WP_MAX, 1, -1)
    )
    return f"(CASE {cases} ELSE 1 END)"


def _wp_oracle() -> str:
    # Fully RELATIONAL replay — per-position longest-match via joins
    # and the greedy walk as a recursive CTE.  DuckDB 1.0 misbinds
    # sibling/cross-joined columns referenced inside list_reduce
    # lambdas at vector scale (observed: the same word segmenting
    # differently in different rows of one query), so the oracle
    # avoids lambdas everywhere except the final integer-only fold
    # over a grouped list (the CDC/BMP-proven pattern).
    lens = ", ".join(str(l) for l in range(_WP_MIN, _WP_MAX + 1))
    return rf"""
WITH RECURSIVE words AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents
),
pc AS (
  SELECT substr(w, CAST(s AS INT), CAST(l AS INT)) AS piece
  FROM words,
       unnest(generate_series({_WP_MIN}, {_WP_MAX})) AS tl(l),
       unnest(generate_series(1, length(w) - l + 1)) AS ts(s)
  WHERE length(w) >= l
),
vocab AS (
  SELECT piece FROM (
    SELECT piece, COUNT(*) AS cnt FROM pc GROUP BY piece
  ) ORDER BY cnt DESC, piece LIMIT {_WP_V}
),
wordrows AS (
  SELECT doc_id, unnest(ws) AS w,
         unnest(generate_series(1, len(ws))) AS wi
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        FROM documents)
),
posrows AS (
  SELECT doc_id, wi, w, length(w) AS wl, unnest(
    CASE WHEN length(w) >= 1
         THEN generate_series(1, length(w)) ELSE [] END) AS pos
  FROM wordrows
),
hits AS (
  SELECT p.doc_id, p.wi, p.pos, MAX(tl.l) AS j
  FROM posrows p, unnest([{lens}]) AS tl(l)
  JOIN vocab v
    ON v.piece = substr(p.w, CAST(p.pos AS INT), CAST(tl.l AS INT))
  WHERE p.pos + tl.l - 1 <= p.wl
  GROUP BY p.doc_id, p.wi, p.pos
),
jtab AS (
  SELECT p.doc_id, p.wi, p.pos, p.wl, COALESCE(h.j, 1) AS j
  FROM posrows p LEFT JOIN hits h
    ON p.doc_id = h.doc_id AND p.wi = h.wi AND p.pos = h.pos
),
walk AS (
  SELECT doc_id, wi, length(w) AS wl, CAST(1 AS BIGINT) AS pos,
         0 AS np, CAST(0 AS BIGINT) AS fp
  FROM wordrows
  UNION ALL
  SELECT wk.doc_id, wk.wi, wk.wl, wk.pos + j.j, wk.np + 1,
         (wk.fp * {_WP_BASE} + j.j) % {_WP_MOD}
  FROM walk wk JOIN jtab j
    ON wk.doc_id = j.doc_id AND wk.wi = j.wi AND wk.pos = j.pos
  WHERE wk.pos <= wk.wl
),
fin AS (
  SELECT doc_id, wi, np, fp FROM walk WHERE pos > wl
)
SELECT doc_id,
  CAST(COUNT(*) AS INT) AS n_words,
  CAST(SUM(np) AS INT) AS n_pieces,
  list_reduce(list_prepend(CAST(0 AS BIGINT), list(fp ORDER BY wi)),
    (a, x) -> (a * {_WP_BASE} + x) % {_WP_MOD}) AS doc_fp
FROM fin GROUP BY doc_id
"""


@register(
    "text_wordpiece_segments",
    oracle=_wp_oracle(),
    doc="WordPiece greedy longest-match-first subword segmentation "
    "(BERT inference shape) against an in-plan top-200 corpus-derived "
    "substring vocabulary: per document, word count, total piece "
    "count (the fertility numerator) and a fingerprint folding every "
    "word's piece-length sequence in order — any cut moved anywhere "
    "hashes apart (operators/wordpiece.py).  Pure integer arithmetic "
    "(no ln), the vocab is a bounded constant-folded map literal, and "
    "segmentation is a shuffle-free JVM projection; the oracle "
    "replays the identical walk with a packed-BIGINT accumulator.",
    tags=("text", "tokenizer", "wordpiece", "extension", "headline"),
)
def text_wordpiece_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.wordpiece import wordpiece_pipeline

    docs = load_table(spark, sf_dir, "documents")
    return wordpiece_pipeline(
        docs, min_len=_WP_MIN, max_len=_WP_MAX, top_v=_WP_V
    ).withColumnRenamed("id", "doc_id")


_PROX_A, _PROX_B, _PROX_W = "table", "hash", 5


@register(
    "text_proximity_search",
    oracle=f"""
WITH occ AS (
  SELECT doc_id, i - 1 AS pos, toks[i] AS term
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents WHERE LENGTH(text) > 0),
       unnest(generate_series(1, len(toks))) AS t(i)
  WHERE LENGTH(toks[i]) > 0
),
pairs AS (
  SELECT a.doc_id, abs(a.pos - b.pos) AS d
  FROM (SELECT doc_id, pos FROM occ WHERE term = '{_PROX_A}') a
  JOIN (SELECT doc_id, pos FROM occ WHERE term = '{_PROX_B}') b
    ON a.doc_id = b.doc_id AND abs(a.pos - b.pos) <= {_PROX_W}
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(MIN(d) AS INT) AS min_dist
FROM pairs GROUP BY doc_id ORDER BY doc_id
""",
    doc=f"Proximity retrieval (NEAR/{_PROX_W}): documents where "
    f"{_PROX_A!r} and {_PROX_B!r} co-occur within {_PROX_W} token "
    "positions, with pair counts and closest distance "
    "(operators/invindex.py:proximity_search).  The pair join is "
    "BUCKETED on pos div window with one-sided neighbour expansion, "
    "so each qualifying pair meets in exactly one (doc, bucket) cell "
    "— never a per-document position cross product; cost ∝ the two "
    "terms' occurrences.  The oracle does the naive per-doc pair "
    "join, proving the bucketing loses nothing.",
    tags=("text", "retrieval", "proximity", "extension"),
    extended=True,
)
def text_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.invindex import proximity_search

    docs = load_table(spark, sf_dir, "documents")
    return proximity_search(
        docs, _PROX_A, _PROX_B, window=_PROX_W
    ).orderBy("doc_id")


# -- feature hashing -----------------------------------------------------------

_FH_B = 256
_FH_PACK = 1_000_000  # bucket * PACK + (val + PACK/2): collision-free
_FH_H1 = (
    "list_reduce(list_prepend(CAST(7 AS BIGINT), "
    "list_transform(string_split(tok, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
    "(acc, x) -> (acc * 131 + x) % 1000000007)"
)
_FH_H2 = (
    "list_reduce(list_prepend(CAST(13 AS BIGINT), "
    "list_transform(string_split(tok, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
    "(acc, x) -> (acc * 137 + x) % 999999937)"
)


@register(
    "text_hashed_features",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_D_TOKENS}) AS tok FROM documents
),
nz AS (SELECT doc_id, tok FROM toks WHERE LENGTH(tok) > 0),
raw AS (
  SELECT doc_id, ({_FH_H1}) AS h1, ({_FH_H2}) AS h2 FROM nz
),
th AS (
  SELECT doc_id,
    ((h1 * 2654435761 + h2) % 1000000007) * CAST(1073741824 AS BIGINT)
      + ((h2 * 2246822519 + h1) % 999999937) AS h
  FROM raw
),
sv AS (
  SELECT doc_id, h % {_FH_B} AS bucket,
    CASE WHEN (h // {_FH_B}) % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM th
),
vec AS (
  SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS val
  FROM sv GROUP BY doc_id, bucket HAVING SUM(sign) != 0
)
SELECT doc_id,
  CAST(COUNT(*) AS INT) AS nnz,
  CAST(SUM(val * val) AS BIGINT) AS l2sq,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    list(bucket * {_FH_PACK} + val + {_FH_PACK // 2} ORDER BY bucket)),
    (a, x) -> (a * 2654435761 + x) % 1000000007) AS vec_fp
FROM vec GROUP BY doc_id
""",
    doc=f"Feature hashing (Weinberger et al. 2009; {_FH_B} signed "
    "buckets over the portable token hash): vocabulary-free, "
    "fit-free, driver-state-free featurization — one token explode "
    "map-side-combines into at most B signed counts per document "
    "(operators/text.py:hashed_bow).  ALL-INTEGER, so the oracle "
    "pins every bucket value exactly via nnz + squared-L2 + an "
    "ordered (bucket, val) fingerprint.",
    tags=("text", "ml", "hashing-trick", "extension"),
    extended=True,
)
def text_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.text import hashed_bow

    docs = load_table(spark, sf_dir, "documents")
    vec = hashed_bow(docs, n_buckets=_FH_B)
    return vec.groupBy("id").agg(
        F.count("*").cast("int").alias("nnz"),
        F.sum(F.col("val") * F.col("val")).cast("long").alias("l2sq"),
        F.aggregate(
            F.array_sort(F.collect_list(
                F.col("bucket") * _FH_PACK + F.col("val") + _FH_PACK // 2
            )),
            F.lit(0).cast("long"),
            lambda a, x: (a * F.lit(2654435761) + x) % F.lit(1_000_000_007),
        ).alias("vec_fp"),
    ).withColumnRenamed("id", "doc_id")


@register(
    "text_chao1_vocabulary",
    oracle=f"""
WITH toks AS (
  SELECT unnest({_D_TOKENS}) AS tok, lang
  FROM documents
),
tf AS (
  SELECT lang, tok, COUNT(*) AS c FROM toks
  WHERE LENGTH(tok) > 0 GROUP BY lang, tok
),
ff AS (
  SELECT lang, COUNT(*) AS d,
    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
    SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2,
    CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM tf GROUP BY lang
)
SELECT lang, CAST(d AS BIGINT) AS observed_vocab,
  CAST(f1 AS BIGINT) AS singletons, CAST(f2 AS BIGINT) AS doubletons,
  n_tokens,
  ROUND(d + CAST(f1 * f1 AS DOUBLE)
            / (CAST(2 AS DOUBLE) * greatest(f2, 1)), 6) AS chao1_est
FROM ff
""",
    doc="Chao1 species-richness estimate of the UNSEEN vocabulary per "
    "language (Chao 1984: est = D + f1^2 / (2*f2), the lower-bound "
    "estimator ecology and corpus linguistics share) — tells a "
    "curation pipeline how much vocabulary another crawl would add, "
    "complementing the Heaps-law growth diagnostic.  One token "
    "explode -> (lang, token) counts (map-side combined) -> the "
    "L-row frequency-of-frequencies profile; all integers except the "
    "single final IEEE division.",
    tags=("text", "vocabulary", "extension"),
    extended=True,
)
def text_chao1_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "lang", F.explode(TX.tokens(F.col("text"))).alias("tok")
        )
        .filter(F.length("tok") > 0)
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("c"))
    )
    ff = tf.groupBy("lang").agg(
        F.count("*").alias("d"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    return ff.select(
        "lang",
        F.col("d").cast("long").alias("observed_vocab"),
        F.col("f1").cast("long").alias("singletons"),
        F.col("f2").cast("long").alias("doubletons"),
        "n_tokens",
        F.round(
            F.col("d")
            + (F.col("f1") * F.col("f1")).cast("double")
            / (F.lit(2.0) * F.greatest(F.col("f2"), F.lit(1))),
            6,
        ).alias("chao1_est"),
    )


# -- trained language ID (multinomial Naive Bayes) --------------------------

_NB_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, lang AS label, tok
  FROM (SELECT doc_id, lang,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents)
  WHERE LENGTH(tok) > 0
),
counts AS (
  SELECT label, tok, COUNT(*) AS c FROM toks GROUP BY label, tok
),
lang_tot AS (SELECT label AS cand, COUNT(*) AS n_l FROM toks GROUP BY label),
vocab AS (SELECT DISTINCT tok FROM counts),
vn AS (SELECT COUNT(*) AS v FROM vocab),
dense AS (
  SELECT l.cand, vb.tok,
    ROUND(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / (l.n_l + vn.v)), 9)
      AS lnp
  FROM vocab vb CROSS JOIN lang_tot l
  LEFT JOIN counts c ON c.label = l.cand AND c.tok = vb.tok
  CROSS JOIN vn
),
nd AS (SELECT COUNT(*) AS n FROM documents),
priors AS (
  SELECT lang AS cand,
    ROUND(ln(CAST(COUNT(*) AS DOUBLE) / nd.n), 9) AS lprior
  FROM documents, nd GROUP BY lang, nd.n
),
scored AS (
  SELECT t.doc_id, t.label, d.cand,
    CAST(SUM(CAST(d.lnp AS DECIMAL(38,9))) AS DOUBLE) + p.lprior AS score
  FROM toks t JOIN dense d ON t.tok = d.tok
  JOIN priors p ON d.cand = p.cand
  GROUP BY t.doc_id, t.label, d.cand, p.lprior
),
best AS (
  SELECT doc_id, label, cand AS predicted FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT label, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM best GROUP BY label, predicted
"""


@register(
    "text_langid_trained",
    oracle=_NB_ORACLE,
    doc="TRAINED language identification: multinomial Naive Bayes "
    "with add-one smoothing and class priors, trained in-plan on the "
    "labeled corpus and evaluated as a hash-exact confusion matrix — "
    "an entire trained generative classifier under the oracle gate "
    "(ln quantized to 9 at the source, per-doc sums decimal-folded, "
    "argmax ties on the language string).  Honesty note: the "
    "synthetic fixture's lang labels carry almost no textual signal "
    "(the stopword heuristic scores 0% on non-en labels; NB reaches "
    "47% vs the 43.6% majority baseline at sf0.01) — the deliverable "
    "is the trained-model machinery and its exact evaluation, not a "
    "fixture accuracy claim (operators/text.py:nb_langid_confusion).",
    tags=("text", "langid", "ml", "extension"),
    extended=True,
)
def text_langid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.nb_langid_confusion(docs)


# -- unigram-LM tokenizer (round 9) -----------------------------------------
#
# The third tokenizer family: unigram-LM Viterbi segmentation with one
# hard-EM refinement round (operators/unigram.py).  The oracle replays
# the WHOLE chain relationally — seed vocab, quantized-ln integer
# costs, forward dp as a recursive CTE carrying the last-4 packed
# states, the backtrack as a second recursive CTE over the full dp
# rows, the smoothed M-step re-count, the second Viterbi pass, and the
# per-doc roll-up.  No list lambdas on the DuckDB side (the WordPiece
# misbind lesson).

_UNI_MAXLEN, _UNI_WCAP, _UNI_TOPV, _UNI_SCALE = 4, 16, 40, 1_000_000_000


def _uni_dp_cte(name: str, vocab: str) -> str:
    cands = []
    for k in range(1, _UNI_MAXLEN + 1):
        cands.append(
            f"CASE WHEN {name}.i + 1 >= {k} THEN "
            f"({name}.p{k} // 32 + v{k}.cost) * 32 + {name}.p{k} % 32 + 1 END"
        )
    joins = "\n".join(
        f"  LEFT JOIN {vocab} v{k} ON v{k}.piece = "
        f"substr({name}.w, {name}.i + 1 - {k - 1}, {k})"
        for k in range(1, _UNI_MAXLEN + 1)
    )
    return f"""
{name} AS (
  SELECT w, 0 AS i, CAST(0 AS BIGINT) AS p1,
         CAST(NULL AS BIGINT) AS p2, CAST(NULL AS BIGINT) AS p3,
         CAST(NULL AS BIGINT) AS p4
  FROM wcnt
  UNION ALL
  SELECT {name}.w, {name}.i + 1,
    least({', '.join(cands)}), {name}.p1, {name}.p2, {name}.p3
  FROM {name}
{joins}
  WHERE {name}.i < length({name}.w)
)"""


_UNI_KCASE = """(CASE
      WHEN bt.pos >= 1 AND (e1.p1 // 32 + v1.cost) * 32 + e1.p1 % 32 + 1 = d0.p1 THEN 1
      WHEN bt.pos >= 2 AND (e2.p1 // 32 + v2.cost) * 32 + e2.p1 % 32 + 1 = d0.p1 THEN 2
      WHEN bt.pos >= 3 AND (e3.p1 // 32 + v3.cost) * 32 + e3.p1 % 32 + 1 = d0.p1 THEN 3
      ELSE 4 END)"""

_UNI_ORACLE = f"""
WITH RECURSIVE
dwords AS (
  SELECT doc_id, substr(w0, 1, {_UNI_WCAP}) AS w
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w0
        FROM documents)
  WHERE w0 <> ''
),
wcnt AS MATERIALIZED (SELECT w, COUNT(*) AS wn FROM dwords GROUP BY w),
pieces AS (
  SELECT substr(w, s, l) AS piece, SUM(wn) AS cnt
  FROM wcnt,
       (SELECT unnest(generate_series(1, {_UNI_MAXLEN})) AS l) L,
       (SELECT unnest(generate_series(1, {_UNI_WCAP})) AS s) S
  WHERE s + l - 1 <= length(w)
  GROUP BY 1
),
vocab0 AS (
  SELECT piece, cnt FROM pieces WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn
    FROM pieces WHERE length(piece) > 1) WHERE rn <= {_UNI_TOPV}
),
vocab AS MATERIALIZED (
  SELECT piece,
    CAST(round((round(ln(CAST((SELECT SUM(cnt) FROM vocab0) AS DOUBLE)), 9)
      - round(ln(CAST(cnt AS DOUBLE)), 9)) * CAST({_UNI_SCALE} AS DOUBLE))
      AS BIGINT) AS cost
  FROM vocab0
),
{_uni_dp_cte('dp', 'vocab')},
dpp AS MATERIALIZED (SELECT * FROM dp),
bt AS (
  SELECT w, CAST(length(w) AS INT) AS pos, CAST(NULL AS VARCHAR) AS tok
  FROM wcnt
  UNION ALL
  SELECT bt.w,
    CAST(bt.pos - {_UNI_KCASE} AS INT),
    substr(bt.w, bt.pos - {_UNI_KCASE} + 1, {_UNI_KCASE})
  FROM bt
  JOIN dpp d0 ON d0.w = bt.w AND d0.i = bt.pos
  LEFT JOIN dpp e1 ON e1.w = bt.w AND e1.i = bt.pos - 1
  LEFT JOIN dpp e2 ON e2.w = bt.w AND e2.i = bt.pos - 2
  LEFT JOIN dpp e3 ON e3.w = bt.w AND e3.i = bt.pos - 3
  LEFT JOIN vocab v1 ON v1.piece = substr(bt.w, bt.pos, 1)
  LEFT JOIN vocab v2 ON v2.piece = substr(bt.w, bt.pos - 1, 2)
  LEFT JOIN vocab v3 ON v3.piece = substr(bt.w, bt.pos - 2, 3)
  WHERE bt.pos > 0
),
used AS (
  SELECT bt.tok AS piece, SUM(wc.wn) AS used
  FROM bt JOIN wcnt wc ON wc.w = bt.w
  WHERE bt.tok IS NOT NULL
  GROUP BY 1
),
vocab2cnt AS MATERIALIZED (
  SELECT v.piece, COALESCE(u.used, 0) + 1 AS cnt
  FROM vocab0 v LEFT JOIN used u ON u.piece = v.piece
),
vocab2 AS MATERIALIZED (
  SELECT piece,
    CAST(round((round(ln(CAST((SELECT SUM(cnt) FROM vocab2cnt) AS DOUBLE)), 9)
      - round(ln(CAST(cnt AS DOUBLE)), 9)) * CAST({_UNI_SCALE} AS DOUBLE))
      AS BIGINT) AS cost
  FROM vocab2cnt
),
{_uni_dp_cte('dp2', 'vocab2')},
w1 AS (SELECT w, p1 % 32 AS n1 FROM dpp WHERE i = length(w)),
w2 AS (SELECT w, p1 // 32 AS cost2, p1 % 32 AS n2 FROM dp2 WHERE i = length(w))
SELECT d.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(w1.n1) AS BIGINT) AS n_tokens_seed,
  CAST(SUM(w2.n2) AS BIGINT) AS n_tokens,
  CAST(SUM(w2.cost2) AS BIGINT) AS vit_cost
FROM dwords d JOIN w1 ON w1.w = d.w JOIN w2 ON w2.w = d.w
GROUP BY d.doc_id
"""


@register(
    "text_unigram_lm_segments",
    oracle=_UNI_ORACLE,
    doc="UNIGRAM-LM (SentencePiece-style) tokenizer: count-seeded "
    "piece costs, per-word GLOBALLY-OPTIMAL Viterbi segmentation "
    "(integer nano-nat costs, dp packed (cost, n) so least() is the "
    "lexicographic tie-break), backtrack, one hard-EM re-estimation "
    "round with add-one smoothing, second Viterbi pass, per-doc "
    "roll-up (operators/unigram.py:unigram_pipeline).  The third "
    "tokenizer family next to BPE (bottom-up merges) and WordPiece "
    "(greedy longest-match); vit_cost is the exact per-doc "
    "compression score a quality filter thresholds on.  Oracle "
    "replays the entire chain relationally (recursive-CTE dp + "
    "backtrack over the full dp rows).  Scale: all training math "
    "runs on the DISTINCT-WORD table; the corpus is touched twice "
    "(word extraction + final roll-up); vocab is bounded driver "
    "state (chars + top-40, BPE precedent).",
    tags=("text", "tokenizer", "unigram", "viterbi", "extension"),
    extended=True,
)
def text_unigram_lm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.unigram import unigram_pipeline

    docs = load_table(spark, sf_dir, "documents")
    return unigram_pipeline(
        docs, max_len=_UNI_MAXLEN, top_v=_UNI_TOPV
    ).orderBy("doc_id")


# -- HTML -> text extraction (round 9) ---------------------------------------

from diabetes_etl_spark.operators.html import (  # noqa: E402
    build_test_page,
    count_links,
    duck_build_test_page_sql,
    duck_count_links_sql,
    duck_html_to_text_sql,
    html_to_text,
)

_D_PAGE = duck_build_test_page_sql("text", "'Doc ' || CAST(doc_id AS VARCHAR)")
_HTML_ORACLE = f"""
WITH pages AS (
  SELECT doc_id, text, {_D_PAGE} AS html FROM documents
),
ex AS (
  SELECT doc_id, text, html,
    {duck_html_to_text_sql("html")} AS extracted,
    {duck_count_links_sql("html")} AS n_links
  FROM pages
)
SELECT doc_id,
  CAST(length(html) AS BIGINT) AS html_chars,
  CAST(length(extracted) AS BIGINT) AS text_chars,
  CAST(n_links AS BIGINT) AS n_links,
  contains(extracted, text) AS body_preserved,
  ROUND(CAST(1 AS DOUBLE)
        - CAST(length(extracted) AS DOUBLE) / length(html), 9)
    AS markup_fraction
FROM ex
ORDER BY doc_id
"""


@register(
    "text_html_extract",
    oracle=_HTML_ORACLE,
    doc="HTML -> text extraction over the corpus (operators/html.py): "
    "each document is wrapped in a deterministic hazard-laden page "
    "(script/style with angle brackets inside, comments, nav "
    "boilerplate, the fixed entity set) by the encoder twin, then "
    "extracted by the shared regexp chain — script/style/comment "
    "removal, block-closers to newlines, tag strip, entity decode "
    "with &amp; last, whitespace discipline.  Both engines run the "
    "byte-identical pattern table (Java-regex/RE2 common subset, "
    "emitted from one list so they cannot drift).  body_preserved "
    "proves the document text survives extraction verbatim.  Scale: "
    "every step is one vectorized regexp pass inside whole-stage "
    "codegen — linear, no shuffle, no Python.",
    tags=("text", "html", "extraction", "extension"),
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    pages = docs.select(
        "doc_id",
        "text",
        build_test_page(F.col("text"), title).alias("html"),
    )
    ex = pages.select(
        "doc_id",
        "text",
        "html",
        html_to_text(F.col("html")).alias("extracted"),
        count_links(F.col("html")).alias("n_links"),
    )
    return ex.select(
        "doc_id",
        F.length("html").cast("long").alias("html_chars"),
        F.length("extracted").cast("long").alias("text_chars"),
        F.col("n_links").cast("long").alias("n_links"),
        F.contains(F.col("extracted"), F.col("text")).alias(
            "body_preserved"
        ),
        F.round(
            F.lit(1.0)
            - F.length("extracted").cast("double") / F.length("html"),
            9,
        ).alias("markup_fraction"),
    ).orderBy("doc_id")


# -- character-entropy quality signal (round 9) ------------------------------

_ENTROPY_CAP = 512
_ENTROPY_ORACLE = f"""
WITH pos AS (
  SELECT doc_id, text,
    unnest(range(1, LEAST(length(text), {_ENTROPY_CAP}) + 1)) AS i
  FROM documents WHERE length(text) > 0
),
chars AS (
  SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch FROM pos
),
cnt AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
  FROM chars GROUP BY doc_id, ch
),
win AS (
  SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n
  FROM cnt
),
terms AS (
  SELECT doc_id, n,
    ROUND(CAST(c AS DOUBLE) / n
          * ROUND(ln(CAST(c AS DOUBLE) / n), 9), 9) AS term
  FROM win
)
SELECT doc_id,
  CAST(MAX(n) AS BIGINT) AS n_chars_used,
  CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
  ROUND(-CAST(SUM(CAST(term AS DECIMAL(20,9))) AS DOUBLE)
        / 0.6931471805599453, 9) AS entropy_bits
FROM terms
GROUP BY doc_id
ORDER BY doc_id
"""


@register(
    "text_char_entropy",
    oracle=_ENTROPY_ORACLE,
    doc="Per-document Shannon character entropy over a 512-char "
    "prefix (the cheap gibberish/encoding-junk quality signal: "
    "natural text sits ~4-4.5 bits, base64 blobs and repeated-char "
    "junk fall far outside): positions explode via sequence (guarded "
    "— Spark's sequence(1,0) DESCENDS), per-(doc,char) counts, "
    "p*ln(p) terms with ln quantized at source and products rounded "
    "where born, DECIMAL-folded sum, bits via the exact-double ln2 "
    "literal shared by both engines.  Scale: the explode is bounded "
    "at 512 rows/doc (documented cap), counts map-side combine, one "
    "shuffle on doc_id.",
    tags=("text", "quality", "entropy", "extension"),
    extended=True,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    chars = (
        docs.where(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.length("text"), F.lit(_ENTROPY_CAP)),
                )
            ).alias("i"),
            F.col("text"),
        )
        .select("doc_id", F.expr("substr(text, i, 1)").alias("ch"))
    )
    cnt = chars.groupBy("doc_id", "ch").agg(
        F.count("*").cast("long").alias("c")
    )
    w = Window.partitionBy("doc_id")
    win = cnt.select("doc_id", "c", F.sum("c").over(w).alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    terms = win.select(
        "doc_id",
        "n",
        F.round(p * F.round(F.log(p), 9), 9).alias("term"),
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars_used"),
            F.count("*").cast("long").alias("n_distinct_chars"),
            F.round(
                -F.sum(F.col("term").cast("decimal(20,9)")).cast(
                    "double"
                )
                / F.lit(0.6931471805599453),
                9,
            ).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


# -- Rocchio pseudo-relevance feedback (round 9) ------------------------------

_PRF_FB, _PRF_EXP, _PRF_BETA, _PRF_TOPK = 5, 4, 0.5, 10

_PRF_W = (
    "ROUND({qw} * ROUND(idf.idf * (tf.tf * CAST(2.2 AS DOUBLE)) "
    "/ (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) "
    "+ CAST(0.75 AS DOUBLE) * CAST(base.dl AS DOUBLE) / stats.avgdl)), "
    "9), 9)"
)

_PRF_ORACLE = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, len({_D_TOKENS}) AS dl FROM documents
),
stats AS MATERIALIZED (
  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM base
),
toks AS MATERIALIZED (
  SELECT doc_id, unnest({_D_TOKENS}) AS tok FROM documents
),
tf AS MATERIALIZED (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
idf AS MATERIALIZED (
  SELECT tok,
    ROUND(LN((CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
             / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 9)
      AS idf
  FROM dft CROSS JOIN stats
),
q0 AS (
  SELECT unnest([{_BM25_TERMS_SQL}]) AS tok, CAST(1.0 AS DOUBLE) AS qw
),
w0 AS (
  SELECT tf.doc_id, {_PRF_W.format(qw="q0.qw")} AS w
  FROM tf JOIN q0 USING (tok) JOIN idf ON idf.tok = tf.tok
  JOIN base USING (doc_id) CROSS JOIN stats
),
s0 AS (
  SELECT doc_id,
    CAST(SUM(CAST(w AS DECIMAL(18,9))) AS DOUBLE) AS score
  FROM w0 GROUP BY doc_id
),
fb AS (
  SELECT doc_id FROM (
    SELECT doc_id,
      row_number() OVER (ORDER BY score DESC, doc_id) AS rn
    FROM s0
  ) WHERE rn <= {_PRF_FB}
),
cand AS (
  SELECT tok, COUNT(*) AS r FROM (
    SELECT DISTINCT t.doc_id, t.tok FROM toks t JOIN fb USING (doc_id)
  ) GROUP BY tok
),
cand2 AS (
  SELECT c.tok, ROUND(c.r * idf.idf, 9) AS offer
  FROM cand c JOIN idf ON idf.tok = c.tok
  WHERE c.tok NOT IN (SELECT tok FROM q0)
),
exp AS MATERIALIZED (
  SELECT tok, CAST({_PRF_BETA} AS DOUBLE) AS qw FROM (
    SELECT tok, row_number() OVER (ORDER BY offer DESC, tok) AS rn
    FROM cand2
  ) WHERE rn <= {_PRF_EXP}
),
q1 AS (SELECT * FROM q0 UNION ALL SELECT * FROM exp),
w1 AS (
  SELECT tf.doc_id, {_PRF_W.format(qw="q1.qw")} AS w
  FROM tf JOIN q1 USING (tok) JOIN idf ON idf.tok = tf.tok
  JOIN base USING (doc_id) CROSS JOIN stats
),
s1 AS (
  SELECT doc_id,
    CAST(SUM(CAST(w AS DECIMAL(18,9))) AS DOUBLE) AS score
  FROM w1 GROUP BY doc_id
),
expstr AS (
  SELECT COALESCE(string_agg(tok, ',' ORDER BY tok), '') AS exp_terms
  FROM exp
)
SELECT doc_id, score AS prf_score, CAST(rn AS INT) AS prf_rank,
  exp_terms
FROM (
  SELECT doc_id, score,
    row_number() OVER (ORDER BY score DESC, doc_id) AS rn
  FROM s1
) CROSS JOIN expstr
WHERE rn <= {_PRF_TOPK}
ORDER BY prf_rank
"""


@register(
    "retrieval_rocchio_prf",
    oracle=_PRF_ORACLE,
    doc=f"Rocchio pseudo-relevance feedback "
    f"(operators/ranking.py:rocchio_prf_topk): BM25 with the "
    f"{len(_BM25_TERMS)}-term query, top-{_PRF_FB} docs become the "
    f"pseudo-relevant set, the {_PRF_EXP} strongest expansion terms "
    "by Robertson offer weight r_t*idf(t) join the query at weight "
    f"{_PRF_BETA}, and the expanded query re-scores — the classic "
    "recall lever of lexical retrieval.  FULLY relational: expansion "
    "terms never visit the driver, they broadcast as a 4-row frame "
    "into the second scoring pass; term stats stay token-keyed "
    "(no vocabulary broadcast); idf ln-quantized at source, scores "
    "decimal-folded, all ties broken (score DESC, id / offer DESC, "
    "term).  Scale: one tokenize pass builds the tf table; both "
    "scoring passes are broadcast joins against it.",
    tags=("text", "ranking", "retrieval", "prf", "extension"),
    extended=True,
)
def retrieval_rocchio_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.ranking import rocchio_prf_topk

    docs = load_table(spark, sf_dir, "documents")
    return rocchio_prf_topk(
        docs,
        _BM25_TERMS,
        fb_k=_PRF_FB,
        exp_k=_PRF_EXP,
        beta=_PRF_BETA,
        k=_PRF_TOPK,
        k1=_BM25_K1,
        b=_BM25_B,
    )


# -- inter-rater agreement: Cohen's kappa (round 9) -------------------------------

_D_PRED = f"""CASE
    WHEN {_D_STOPS["en"]} >= {_D_STOPS["fr"]} AND {_D_STOPS["en"]} >= {_D_STOPS["de"]}
         AND {_D_STOPS["en"]} >= {_D_STOPS["es"]} THEN 'en'
    WHEN {_D_STOPS["fr"]} >= {_D_STOPS["de"]} AND {_D_STOPS["fr"]} >= {_D_STOPS["es"]} THEN 'fr'
    WHEN {_D_STOPS["de"]} >= {_D_STOPS["es"]} THEN 'de'
    ELSE 'es'
  END"""


@register(
    "text_langid_kappa",
    oracle=f"""
WITH p AS (
  SELECT lang AS label, {_D_PRED} AS pred FROM documents
),
ct AS (SELECT label, pred, COUNT(*) AS n FROM p GROUP BY 1, 2),
m AS (
  SELECT label, pred, n,
    SUM(n) OVER (PARTITION BY label) AS rl,
    SUM(n) OVER (PARTITION BY pred) AS cp,
    SUM(n) OVER () AS nt
  FROM ct
),
s AS (
  SELECT MAX(nt) AS nt,
    SUM(CASE WHEN label = pred THEN n ELSE 0 END) AS agree,
    SUM(CASE WHEN label = pred THEN rl * cp ELSE 0 END) AS chance_num
  FROM m
)
SELECT CAST(nt AS BIGINT) AS n_docs, CAST(agree AS BIGINT) AS n_agree,
  ROUND(CAST(agree AS DOUBLE) / nt, 9) AS po,
  ROUND(CAST(chance_num AS DOUBLE) / (CAST(nt AS DOUBLE) * nt), 9)
    AS pe,
  ROUND((CAST(agree AS DOUBLE) / nt
         - CAST(chance_num AS DOUBLE) / (CAST(nt AS DOUBLE) * nt))
        / (CAST(1 AS DOUBLE)
           - CAST(chance_num AS DOUBLE) / (CAST(nt AS DOUBLE) * nt)),
        9) AS kappa
FROM s
""",
    doc="Cohen's kappa between the stopword-heuristic language "
    "predictions and the corpus labels — chance-corrected agreement, "
    "the honest report when classes are imbalanced (raw accuracy "
    "rewards always-guessing the majority; kappa subtracts the "
    "expected agreement pe = sum of matched row*column margins / "
    "n^2).  All counts and margin products are exact integers from "
    "one grouped pass over per-doc predictions (scan-local CASE "
    "expressions — no UDF); three pinned divisions at the end.  "
    "NOTE the honest caveat carried from text_langid_trained: the "
    "fixture's synthetic text carries ~no language signal, so kappa "
    "~ 0 here — the query certifies the METRIC, the tests pin a "
    "constructed-agreement case where kappa is meaningfully high.",
    tags=("text", "langid", "agreement", "extension"),
    extended=True,
)
def text_langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        F.col("lang").alias("label"),
        TX.lang_guess(F.col("text")).alias("pred"),
    )
    ct = p.groupBy("label", "pred").agg(F.count(F.lit(1)).alias("n"))
    m = ct.select(
        "label", "pred", "n",
        F.sum("n").over(Window.partitionBy("label")).alias("rl"),
        F.sum("n").over(Window.partitionBy("pred")).alias("cp"),
        F.sum("n").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("nt"),
    )
    s = m.agg(
        F.max("nt").alias("nt"),
        F.sum(
            F.when(F.col("label") == F.col("pred"), F.col("n")).otherwise(0)
        ).alias("agree"),
        F.sum(
            F.when(
                F.col("label") == F.col("pred"),
                F.col("rl") * F.col("cp"),
            ).otherwise(0)
        ).alias("chance_num"),
    )
    nt = F.col("nt")
    po = F.col("agree").cast("double") / nt
    pe = F.col("chance_num").cast("double") / (nt.cast("double") * nt)
    return s.select(
        nt.cast("long").alias("n_docs"),
        F.col("agree").cast("long").alias("n_agree"),
        F.round(po, 9).alias("po"),
        F.round(pe, 9).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 9).alias("kappa"),
    )


@register(
    "text_token_entropy",
    oracle=f"""
WITH toks AS (
  SELECT lang, UNNEST({_D_TOKENS}) AS tok FROM documents
  WHERE LENGTH(trim(text)) > 0
),
tc AS (
  SELECT lang, tok, COUNT(*) AS c FROM toks
  WHERE LENGTH(tok) > 0 GROUP BY lang, tok
),
t AS (
  SELECT lang, tok, c, SUM(c) OVER (PARTITION BY lang) AS nt
  FROM tc
),
h AS (
  SELECT lang, MAX(nt) AS n_tokens, COUNT(*) AS vocab,
    CAST(SUM(CAST(ROUND(
      -(CAST(c AS DOUBLE) / nt)
        * ROUND(LN(CAST(c AS DOUBLE) / nt), 9), 12)
      AS DECIMAL(28,12))) AS DOUBLE) AS entropy
  FROM t GROUP BY lang
)
SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(vocab AS BIGINT) AS vocab,
  ROUND(entropy, 9) AS entropy_nats,
  ROUND(EXP(ROUND(entropy, 9)), 4) AS perplexity
FROM h ORDER BY lang
""",
    doc="Corpus token-distribution entropy and unigram perplexity per "
    "language — the corpus-level diversity readout next to Zipf/"
    "Chao1/Heaps (a perplexity collapse flags template/boilerplate "
    "floods before any model trains): H = -sum p ln p with per-token "
    "terms 9dp-ln + 12dp-quantized and DECIMAL-folded "
    "(vocab-order-independent); perplexity = exp(H) rounded to 4 "
    "decimals AFTER quantizing H to 9 (exp's last-ulp variance is "
    "~1e-10 at these magnitudes — far inside the rounding).  One "
    "tokenize pass to the (lang, token) count table; entropy runs on "
    "vocab-bounded rows.",
    tags=("text", "entropy", "diversity", "extension"),
    extended=True,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.where(F.length(F.trim(F.col("text"))) > 0).select(
        "lang", F.explode(TX.tokens(F.col("text"))).alias("tok")
    ).filter(F.length("tok") > 0)
    tc = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    t = tc.withColumn(
        "nt", F.sum("c").over(Window.partitionBy("lang"))
    )
    p = F.col("c").cast("double") / F.col("nt")
    term = F.round(-p * F.round(F.log(p), 9), 12).cast("decimal(28,12)")
    h = t.groupBy("lang").agg(
        F.max("nt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(term).cast("double").alias("entropy"),
    )
    return h.select(
        "lang", "n_tokens", "vocab",
        F.round(F.col("entropy"), 9).alias("entropy_nats"),
        F.round(F.exp(F.round(F.col("entropy"), 9)), 4).alias(
            "perplexity"
        ),
    ).orderBy("lang")


# -- NDCG@k retrieval quality (round 10) ---------------------------------------

_NDCG_K = 10


def _ndcg_case_sql(rank: str) -> str:
    from diabetes_etl_spark.operators.ranking import ndcg_discounts

    branches = " ".join(
        f"WHEN {rank} = {pos} THEN CAST({d!r} AS DOUBLE)"
        for pos, d in enumerate(ndcg_discounts(_NDCG_K), start=1)
    )
    return f"CASE {branches} END"


_NDCG_ORACLE = f"""
WITH base AS (
  SELECT doc_id, len({_D_TOKENS}) AS dl FROM documents
),
stats AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM base
),
toks AS (
  SELECT doc_id, unnest({_D_TOKENS}) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, tok
),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
idf AS (
  SELECT tok,
    ROUND(LN((CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
             / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 9)
      AS idf
  FROM dft CROSS JOIN stats
),
scored AS (
  SELECT tf.tok AS query, tf.doc_id,
    ROUND(idf.idf * (tf.tf * CAST({_BM25_K1 + 1.0} AS DOUBLE))
      / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
         * (CAST({1.0 - _BM25_B} AS DOUBLE)
            + CAST({_BM25_B} AS DOUBLE) * CAST(base.dl AS DOUBLE)
              / stats.avgdl)), 9) AS score,
    LEAST(tf.tf, 3) AS rel
  FROM tf JOIN idf USING (tok) JOIN base USING (doc_id)
  CROSS JOIN stats
),
ranked AS (
  SELECT query,
    CAST(CASE WHEN rel >= 0 THEN (1 << rel) - 1 END AS DOUBLE) AS g,
    ROW_NUMBER() OVER (PARTITION BY query
                       ORDER BY score DESC, doc_id) AS rs,
    ROW_NUMBER() OVER (PARTITION BY query
                       ORDER BY rel DESC, doc_id) AS ri
  FROM scored
),
agg AS (
  SELECT query,
    CAST(COUNT(*) AS BIGINT) AS n_scored,
    CAST(SUM(CASE WHEN rs <= {_NDCG_K}
         THEN CAST(ROUND(g / ({_ndcg_case_sql("rs")}), 12)
              AS DECIMAL(28,12)) END) AS DOUBLE) AS dcg,
    CAST(SUM(CASE WHEN ri <= {_NDCG_K}
         THEN CAST(ROUND(g / ({_ndcg_case_sql("ri")}), 12)
              AS DECIMAL(28,12)) END) AS DOUBLE) AS idcg
  FROM ranked GROUP BY query
)
SELECT query, n_scored, ROUND(dcg, 9) AS dcg, ROUND(idcg, 9) AS idcg,
  CASE WHEN idcg > 0 THEN ROUND(dcg / idcg, 9) END AS ndcg
FROM agg ORDER BY query
"""


@register(
    "retrieval_ndcg_bm25",
    oracle=_NDCG_ORACLE,
    doc=f"NDCG@{_NDCG_K} of the per-term BM25 ranking against "
    "occurrence-graded relevance (rel = min(tf, 3)): per query term, "
    "how well the length-normalized BM25 order agrees with raw "
    "occurrence grades — the standard graded retrieval metric "
    "(operators/ranking.py:ndcg_at_k), closing the eval side of the "
    "retrieval family (BM25 + RRF were rank producers; this scores "
    "them).  Gains 2^rel - 1 are exact integers; positional "
    "discounts log2(pos+1) are 12dp BUILD-TIME literals shared "
    "verbatim by both engines (the ln-quantization precedent one "
    "step earlier — no transcendental evaluates in either engine); "
    "per-term contributions are 12dp-quantized and DECIMAL-folded.  "
    "Scale shape: scoring is the existing one-scan BM25 tf/df "
    "pipeline; NDCG itself touches only per-query candidate lists "
    "(two windows + one grouped fold, query-sized).",
    tags=("retrieval", "ndcg", "eval", "extension"),
    extended=True,
)
def retrieval_ndcg_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.ranking import ndcg_at_k
    from diabetes_etl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("dl")
    )
    stats = base.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tdl")
    ).select(
        "n", (F.col("tdl").cast("double") / F.col("n")).alias("avgdl")
    )
    tf = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .filter(F.col("tok").isin(list(_BM25_TERMS)))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "tok",
            F.round(
                F.log(
                    (F.col("n") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                ),
                9,
            ).alias("idf"),
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(base, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("tok").alias("query"),
            "doc_id",
            F.round(
                F.col("idf")
                * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(_BM25_K1)
                    * (
                        F.lit(1.0 - _BM25_B)
                        + F.lit(_BM25_B)
                        * F.col("dl").cast("double")
                        / F.col("avgdl")
                    )
                ),
                9,
            ).alias("score"),
            F.least(F.col("tf"), F.lit(3)).cast("int").alias("rel"),
        )
    )
    return ndcg_at_k(scored, k=_NDCG_K).orderBy("query")


# -- Jensen-Shannon token-distribution drift (round 10) --------------------------

_LN2_9DP = 0.693147181  # pinned literal, both engines


def _jsd_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0).alias("p"),
        F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0).alias("q"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    cnt = toks.groupBy("tok").agg(
        F.sum("p").alias("cp"), F.sum("q").alias("cq")
    )
    tot = toks.agg(F.sum("p").alias("np"), F.sum("q").alias("nq"))
    # per-token terms from EXACT integer ratios: the ln argument
    # 2*cp*nq/(cp*nq + cq*np) is a single double division of exact
    # BIGINT products, ln is 9dp-quantized, the p-weighted term
    # 12dp-quantized and DECIMAL-folded (order-independent)
    j = cnt.crossJoin(F.broadcast(tot))
    pn = F.col("cp") * F.col("nq")
    qn = F.col("cq") * F.col("np")
    term_p = F.when(
        F.col("cp") > 0,
        F.round(
            (F.col("cp").cast("double") / F.col("np"))
            * F.round(
                F.log(
                    (2 * pn).cast("double") / (pn + qn).cast("double")
                ),
                9,
            ),
            12,
        ).cast("decimal(28,12)"),
    )
    term_q = F.when(
        F.col("cq") > 0,
        F.round(
            (F.col("cq").cast("double") / F.col("nq"))
            * F.round(
                F.log(
                    (2 * qn).cast("double") / (pn + qn).cast("double")
                ),
                9,
            ),
            12,
        ).cast("decimal(28,12)"),
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens_union"),
        F.sum(term_p).cast("double").alias("kl_p"),
        F.sum(term_q).cast("double").alias("kl_q"),
    )
    jsd = (F.col("kl_p") + F.col("kl_q")) / 2
    return agg.select(
        "n_tokens_union",
        F.round(jsd, 9).alias("jsd_nats"),
        F.round(jsd / F.lit(_LN2_9DP), 9).alias("jsd_bits"),
    )


register(
    "text_jsd_token_drift",
    oracle=f"""
WITH toks AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS p,
         CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS q,
         unnest({_D_TOKENS}) AS tok
  FROM documents
),
cnt AS (
  SELECT tok, SUM(p) AS cp, SUM(q) AS cq FROM toks GROUP BY tok
),
tot AS (SELECT SUM(p) AS np, SUM(q) AS nq FROM toks),
terms AS (
  SELECT
    CASE WHEN cp > 0 THEN
      CAST(ROUND((CAST(cp AS DOUBLE) / np)
        * ROUND(LN(CAST(2 * cp * nq AS DOUBLE)
                   / CAST(cp * nq + cq * np AS DOUBLE)), 9), 12)
        AS DECIMAL(28,12)) END AS tp,
    CASE WHEN cq > 0 THEN
      CAST(ROUND((CAST(cq AS DOUBLE) / nq)
        * ROUND(LN(CAST(2 * cq * np AS DOUBLE)
                   / CAST(cp * nq + cq * np AS DOUBLE)), 9), 12)
        AS DECIMAL(28,12)) END AS tq
  FROM cnt CROSS JOIN tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens_union,
  ROUND((CAST(SUM(tp) AS DOUBLE) + CAST(SUM(tq) AS DOUBLE)) / 2, 9)
    AS jsd_nats,
  ROUND(((CAST(SUM(tp) AS DOUBLE) + CAST(SUM(tq) AS DOUBLE)) / 2)
        / CAST({_LN2_9DP} AS DOUBLE), 9) AS jsd_bits
FROM terms
""",
    doc="Jensen-Shannon divergence between the token distributions of "
    "the even- and odd-id document halves — the SYMMETRIC, bounded "
    "drift measure the PSI/TV family lacks (JSD is finite even when "
    "a token exists in only one half, where KL diverges; sqrt(JSD) "
    "is a metric).  Each per-token term is built from EXACT integer "
    "ratios (2*cp*nq / (cp*nq + cq*np) — one double division of "
    "BIGINT products), ln 9dp-quantized, terms 12dp DECIMAL-folded; "
    "jsd_bits divides by a pinned 9dp ln(2) literal.  Scale: one "
    "token-keyed aggregate (vocab-bounded, the text_token_entropy "
    "precedent), everything after is vocabulary-sized.",
    tags=("text", "drift", "jsd", "extension"),
    extended=True,
)(_jsd_token_drift)


# -- Flesch-Kincaid readability (round 10) -------------------------------------


def _readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    lowered = F.lower(F.col("text"))
    n_words = F.regexp_count(lowered, F.lit(r"[a-z0-9]+"))
    n_syll = F.regexp_count(lowered, F.lit(r"[aeiouy]+"))
    n_sent = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    )
    per = docs.select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
    )
    w = F.col("n_words").cast("double")
    s = F.col("n_sentences").cast("double")
    y = F.col("n_syllables").cast("double")
    return per.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.round(
                F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (y / w),
                6,
            ),
        ).alias("flesch_ease"),
        F.when(
            F.col("n_words") > 0,
            F.round(
                F.lit(0.39) * (w / s) + F.lit(11.8) * (y / w) - F.lit(15.59),
                6,
            ),
        ).alias("fk_grade"),
    )


register(
    "text_readability_fk",
    oracle=r"""
WITH per AS (
  SELECT doc_id, lang,
    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      AS n_words,
    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
      AS n_sentences,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      AS n_syllables
  FROM documents
)
SELECT doc_id, lang, n_words, n_sentences, n_syllables,
  CASE WHEN n_words > 0 THEN ROUND(
    CAST(206.835 AS DOUBLE)
    - CAST(1.015 AS DOUBLE)
      * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
    - CAST(84.6 AS DOUBLE)
      * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
  END AS flesch_ease,
  CASE WHEN n_words > 0 THEN ROUND(
    CAST(0.39 AS DOUBLE)
      * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
    + CAST(11.8 AS DOUBLE)
      * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
    - CAST(15.59 AS DOUBLE), 6)
  END AS fk_grade
FROM per
""",
    doc="Flesch reading ease + Flesch-Kincaid grade level per document "
    "— the classic readability pair every corpus-quality pipeline "
    "reports next to the stopword/length heuristics "
    "(text_quality_filter) already here.  Syllables are approximated "
    "by vowel-group runs [aeiouy]+ (the standard regex surrogate; "
    "both engines count non-overlapping RE2/Java-agreeing matches), "
    "words by [a-z0-9]+ runs, sentences by [.!?]+ runs floored at 1 "
    "so punctuation-free docs read as one sentence instead of "
    "dividing by zero.  Counts are exact BIGINTs; the two scores are "
    "pinned-order double affine maps rounded at 6dp, NULL for empty "
    "docs per the degenerate convention.  Scale: a narrow stateless "
    "map over the corpus scan — no shuffle at all; regexp_count is "
    "JVM-side codegen, never a Python UDF.",
    tags=("text", "quality", "readability", "extension"),
    extended=True,
)(_readability)


# -- phi-heavy trigrams via Misra-Gries candidates (round 10) ------------------


def _mg_heavy_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sketch import misra_gries_candidates

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("a")
    )
    tri = toks.where(F.size("a") >= 3).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(a) - 3),"
                " i -> concat_ws(' ', a[i], a[i+1], a[i+2]))"
            )
        ).alias("g")
    )
    cand = misra_gries_candidates(tri, "g", k=5000)
    counts = (
        tri.join(F.broadcast(cand), "g", "left_semi")
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = tri.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        # phi = 2/10000, compared in exact integers on both engines
        .where(10000 * F.col("n") > 2 * F.col("n_total"))
        .select(
            "g",
            F.col("n").cast("long").alias("n_occurrences"),
            F.col("n_total").cast("long").alias("n_total"),
            F.round(F.col("n").cast("double") / F.col("n_total"), 9).alias(
                "share"
            ),
        )
    )


register(
    "text_mg_heavy_ngrams",
    oracle=r"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS a
  FROM documents
),
tri AS (
  SELECT a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(a) - 2)) AS i)
  WHERE len(a) >= 3
),
c AS (SELECT g, COUNT(*) AS n FROM tri GROUP BY g),
tot AS (SELECT COUNT(*) AS n_total FROM tri)
SELECT g, CAST(n AS BIGINT) AS n_occurrences,
  CAST(n_total AS BIGINT) AS n_total,
  ROUND(CAST(n AS DOUBLE) / n_total, 9) AS share
FROM c CROSS JOIN tot
WHERE 10000 * n > 2 * n_total
""",
    doc="phi-heavy trigram shingles (phi = 2e-4, strict) via the "
    "2-pass exact heavy-hitters layout: a Misra-Gries candidate pass "
    "with 5000 bounded counters per Arrow batch "
    "(operators/sketch.misra_gries_candidates — the no-false-negative "
    "key guarantee unions across batches), then an exact JVM-side "
    "recount of candidates only and a strict integer threshold "
    "10000*n > 2*N, so MG's order-dependent internals never reach the "
    "output and the result equals the full groupBy in every engine.  "
    "This is the UNBOUNDED-vocabulary twin of text_heavy_hitters "
    "(whose word vocab is fixture-bounded): the trigram vocabulary "
    "here grows with the corpus (~16k distinct over 26k occurrences "
    "at sf0.01), which is exactly when a vocab-sized hash-agg state "
    "stops fitting and a bounded sketch pass must gate it.  Scale: "
    "candidates are batches x k regardless of corpus size, ride a "
    "broadcast semi-join, and the recount shuffles only candidate "
    "rows; the 1-row total is an in-plan broadcast.",
    tags=("text", "sketch", "heavy-hitters", "extension", "headline"),
    extended=True,
)(_mg_heavy_ngrams)


# -- Good-Turing frequency smoothing (round 13) ------------------------------


def _good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies table over the corpus
    vocabulary (Good 1953): for observed counts r = 1..10, n_r =
    number of word types seen exactly r times, the Turing-smoothed
    count r* = (r+1) n_{r+1}/n_r, and the smoothed probability
    r*/N — plus the r = 0 row whose p_gt = n_1/N is the total
    probability mass the corpus has NEVER seen (the quantity Chao1
    estimates in SPECIES and this estimates in MASS; the foundation
    of Katz back-off).

    Scale shape: the word-count table is Zipf-bounded (the
    text_token_entropy argument); the frequency-of-frequencies
    re-aggregation touches the COUNT TABLE, not the corpus, and the
    output is 11 rows.  All counts exact BIGINT; the only IEEE steps
    are the final divisions in pinned order, rounded where born."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.length(F.trim(F.col("text"))) > 0)
        .select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    wc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("r"))
    fof = wc.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))
    tot = wc.agg(
        F.sum("r").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    nxt = fof.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_next")
    )
    rows = (
        fof.where(F.col("r") <= 10)
        .join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
    )
    rstar = F.round(
        (F.col("r") + 1).cast("double")
        * F.col("n_next")
        / F.col("n_r"),
        6,
    )
    body = rows.select(
        F.col("r").cast("int").alias("r"),
        F.col("n_r").cast("long").alias("n_r"),
        F.round(
            (F.col("r") * F.col("n_r")).cast("double")
            / F.col("n_tokens"),
            9,
        ).alias("mass"),
        rstar.alias("r_star"),
        F.round(rstar / F.col("n_tokens"), 9).alias("p_gt"),
    )
    n1 = fof.where(F.col("r") == 1).select(F.col("n_r").alias("n1"))
    unseen = (
        tot.join(F.broadcast(n1), F.lit(True), "left")
        .select(
            F.lit(0).cast("int").alias("r"),
            F.lit(None).cast("long").alias("n_r"),
            F.lit(None).cast("double").alias("mass"),
            F.lit(None).cast("double").alias("r_star"),
            F.round(
                F.coalesce(F.col("n1"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
                9,
            ).alias("p_gt"),
        )
    )
    return unseen.unionByName(body).orderBy("r")


register(
    "text_good_turing",
    oracle=r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
wc AS (
  SELECT tok, COUNT(*) AS r FROM toks WHERE length(tok) > 0
  GROUP BY tok
),
fof AS (SELECT r, COUNT(*) AS n_r FROM wc GROUP BY r),
tot AS (SELECT CAST(SUM(r) AS BIGINT) AS n_tokens FROM wc),
body AS (
  SELECT CAST(f.r AS INT) AS r,
    CAST(f.n_r AS BIGINT) AS n_r,
    ROUND(CAST(f.r * f.n_r AS DOUBLE) / tot.n_tokens, 9) AS mass,
    ROUND(CAST(f.r + 1 AS DOUBLE) * nx.n_r / f.n_r, 6) AS r_star,
    ROUND(ROUND(CAST(f.r + 1 AS DOUBLE) * nx.n_r / f.n_r, 6)
          / tot.n_tokens, 9) AS p_gt
  FROM fof f LEFT JOIN fof nx ON nx.r = f.r + 1 CROSS JOIN tot
  WHERE f.r <= 10
),
unseen AS (
  SELECT CAST(0 AS INT) AS r,
    CAST(NULL AS BIGINT) AS n_r,
    CAST(NULL AS DOUBLE) AS mass,
    CAST(NULL AS DOUBLE) AS r_star,
    ROUND(CAST(COALESCE((SELECT n_r FROM fof WHERE r = 1), 0)
               AS DOUBLE) / tot.n_tokens, 9) AS p_gt
  FROM tot
)
SELECT * FROM unseen
UNION ALL
SELECT * FROM body
ORDER BY r
""",
    doc="Good-Turing frequency smoothing over the corpus vocabulary "
    "(Good 1953, the Katz back-off foundation): frequency-of-"
    "frequencies n_r for r = 1..10 with Turing-smoothed counts "
    "r* = (r+1) n_{r+1}/n_r and probabilities r*/N, plus the r = 0 "
    "row whose p_gt = n_1/N is the total UNSEEN probability mass — "
    "the mass-scale companion to Chao1's unseen-species count and "
    "the principled discount the raw MLE table overstates.  Exact "
    "BIGINT counts; divisions in pinned order rounded where born.  "
    "Scale: one tokenize pass to the Zipf-bounded word-count table; "
    "the frequency-of-frequencies re-aggregation touches the count "
    "table only; 11-row output.",
    tags=("text", "statistics", "smoothing", "extension"),
    extended=True,
)(_good_turing)
