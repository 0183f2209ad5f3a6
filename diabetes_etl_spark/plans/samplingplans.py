"""Corpus sampling / chunking / sharding query plans over the
`documents` fixture (operators/sampling.py) — the stages between
"cleaned corpus" and "training shards" in a large-scale pipeline.

Every operator here keys its selection off the engine-portable
integer hash in operators/sampling.py, which was designed so DuckDB
can mirror it VERBATIM: the oracle SQL below replays
``(((id + seed) mod p) * A + C) mod p`` with the same pre-reduced
constants, so row selection, multiplicities, shuffle keys, and shard
assignments are compared bit-for-bit — not just statistically.

Gate entry: ``corpus_sampling_shards`` (the composite pipeline —
stratified sample -> chunk -> shard -> per-shard profile).  Extended
tier: one oracle-paired query per individual operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.sampling import (
    _MIX_A,
    _MIX_C,
    _MOD,
    chunk_documents,
    repeat_sample,
    stratified_sample,
    training_shuffle,
)
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

# Training-mixture rates keyed on the fixture's lang column
# (de/en/es/fr/zh): down-sample the over-represented languages, keep
# Spanish whole, thin the default bucket.
_RATES = {"en": 0.5, "fr": 0.75, "de": 0.25, "es": 1.0}
_DEFAULT_RATE = 0.1
# Epoch-weighting rates for repeat_sample (explicit multiplicity;
# values > 1 up-sample).
_REPEAT_RATES = {"en": 2.3, "de": 1.0, "zh": 0.5}
_REPEAT_DEFAULT = 0.75

_CHUNK_TOKENS = 32
_OVERLAP = 4
_STEP = _CHUNK_TOKENS - _OVERLAP
_N_SHARDS = 8
# Composite chunk id: doc_id * _CID_BASE + chunk_idx.  Collision-free
# while chunks-per-doc < 4096 (128k tokens/doc at 32-token chunks); a
# corpus of longer documents would raise the base — it only has to stay
# under 2^63 / max(doc_id).
_CID_BASE = 4096


def _mix_sql(id_expr: str, seed: int) -> str:
    """DuckDB replay of operators/sampling.py:_mix — same pre-reduced
    constants, every intermediate < 1e18 (BIGINT-safe in both engines).
    """
    return (
        f"(((CAST({id_expr} AS BIGINT) + {seed}) % {_MOD}) * {_MIX_A}"
        f" + {_MIX_C}) % {_MOD}"
    )


def _unit_sql(id_expr: str, seed: int) -> str:
    return f"(CAST({_mix_sql(id_expr, seed)} AS DOUBLE) / {float(_MOD)!r})"


def _rate_sql(rates: dict[str, float], default: float, cap: bool) -> str:
    branches = " ".join(
        f"WHEN '{k}' THEN {min(float(v), 1.0) if cap else float(v)!r}"
        for k, v in sorted(rates.items())
    )
    return f"(CASE lang {branches} ELSE {float(default)!r} END)"


# DuckDB replay of chunk_documents on the documents table: explode
# chunk indices with generate_series, slice the token array per index.
_CHUNKS_CTE = f"""
toks AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
sized AS (
  SELECT doc_id, lang, t, len(t) AS n,
    greatest(1, CAST(ceil((len(t) - {_OVERLAP}) / CAST({_STEP} AS DOUBLE))
                     AS INT)) AS n_chunks
  FROM toks
),
chunk_rows AS (
  SELECT doc_id, lang, t, n,
    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
  FROM sized
),
chunks AS (
  SELECT doc_id, lang, chunk_idx,
    array_to_string(
      list_slice(t, chunk_idx * {_STEP} + 1,
                 chunk_idx * {_STEP} + {_CHUNK_TOKENS}), ' ') AS chunk_text,
    CAST(least({_CHUNK_TOKENS}, n - chunk_idx * {_STEP}) AS BIGINT)
      AS n_tokens
  FROM chunk_rows
)
"""


@register(
    "corpus_sampling_shards",
    oracle=f"""
WITH sampled AS (
  SELECT * FROM documents
  WHERE {_unit_sql("doc_id", 17)} < {_rate_sql(_RATES, _DEFAULT_RATE, True)}
),
{_CHUNKS_CTE.replace("FROM documents", "FROM sampled", 1)},
sharded AS (
  SELECT doc_id, chunk_idx, n_tokens,
    CAST({_mix_sql(f"doc_id * {_CID_BASE} + chunk_idx", 29)} % {_N_SHARDS}
         AS INT) AS shard
  FROM chunks
)
SELECT shard,
  COUNT(*) AS n_chunks,
  COUNT(DISTINCT doc_id) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM sharded GROUP BY shard ORDER BY shard
""",
    doc="Corpus-to-training-shards composite: deterministic stratified "
    "sampling by lang -> token chunking with overlap -> portable-hash "
    "shard assignment -> per-shard profile (operators/sampling.py; the "
    "whole pipeline replays verbatim in DuckDB).  Narrow map stages "
    "end-to-end — the only shuffle is the final per-shard aggregate "
    "(at scale, the same exchange the shard writer needs anyway).",
    tags=("sampling", "chunking", "sharding", "composite", "extension"),
    extended=True,
)
def corpus_sampling_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sampled = stratified_sample(
        docs, _RATES, seed=17, default_rate=_DEFAULT_RATE
    )
    chunks = chunk_documents(
        sampled, chunk_tokens=_CHUNK_TOKENS, overlap=_OVERLAP
    )
    sharded = training_shuffle(
        chunks.withColumn(
            "cid",
            F.col("doc_id") * F.lit(_CID_BASE) + F.col("chunk_idx"),
        ),
        n_shards=_N_SHARDS,
        id_col="cid",
        seed=29,
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("shard")
    )


@register(
    "corpus_chunk_stats",
    oracle=f"""
WITH {_CHUNKS_CTE.lstrip()}
SELECT doc_id, chunk_idx, n_tokens, md5(chunk_text) AS chunk_md5
FROM chunks
""",
    doc="Per-chunk rows from chunk_documents (32-token chunks, 4-token "
    "overlap): index, token count, and an md5 of the chunk text so the "
    "oracle checks the chunk CONTENT byte-for-byte, not just the "
    "boundary math (operators/sampling.py:chunk_documents).",
    tags=("sampling", "chunking", "extension"),
    extended=True,
)
def corpus_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap=_OVERLAP
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "n_tokens",
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
    )


@register(
    "corpus_stratified_sample",
    oracle=f"""
SELECT doc_id, lang,
  CAST({_mix_sql("doc_id", 17)} AS BIGINT) AS sel_key
FROM documents
WHERE {_unit_sql("doc_id", 17)} < {_rate_sql(_RATES, _DEFAULT_RATE, True)}
""",
    doc="Deterministic per-stratum sampling keyed on the portable hash "
    "(operators/sampling.py:stratified_sample): the oracle replays the "
    "exact selection rule, so the kept-row SET matches bit-for-bit — "
    "partition-layout- and engine-independent, unlike rand().",
    tags=("sampling", "extension"),
    extended=True,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sampling import _mix

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, _RATES, seed=17, default_rate=_DEFAULT_RATE
    ).select(
        "doc_id", "lang", _mix(F.col("doc_id"), 17).cast("long").alias("sel_key")
    )


@register(
    "corpus_repeat_sample",
    oracle=f"""
WITH m AS (
  SELECT doc_id, lang,
    {_rate_sql(_REPEAT_RATES, _REPEAT_DEFAULT, False)} AS rate,
    {_unit_sql("doc_id", 23)} AS u
  FROM documents
),
mm AS (
  SELECT doc_id, lang,
    CAST(floor(rate) AS INT)
      + (CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END) AS mult
  FROM m
)
SELECT doc_id, lang,
  CAST(unnest(generate_series(0, mult - 1)) AS INT) AS copy_idx
FROM mm WHERE mult > 0
""",
    doc="Up/down-sampling with explicit row multiplicity "
    "(operators/sampling.py:repeat_sample): rate 2.3 -> 2 copies always "
    "+ a 3rd for a deterministic 30% of ids; the oracle replays "
    "floor(rate) + bernoulli(frac) verbatim, so per-row multiplicities "
    "match exactly.",
    tags=("sampling", "extension"),
    extended=True,
)
def corpus_repeat_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return repeat_sample(
        docs, _REPEAT_RATES, seed=23, default_rate=_REPEAT_DEFAULT
    ).select("doc_id", "lang", "copy_idx")


@register(
    "corpus_training_shards",
    oracle=f"""
SELECT doc_id,
  CAST({_mix_sql("doc_id", 29)} AS BIGINT) AS shuffle_key,
  CAST({_mix_sql("doc_id", 29)} % {_N_SHARDS} AS INT) AS shard
FROM documents
""",
    doc="Deterministic training shuffle + shard assignment "
    "(operators/sampling.py:training_shuffle): shuffle_key decorrelates "
    "source order reproducibly (unlike orderBy(rand())), shard = key "
    "mod n; the oracle recomputes both per row.",
    tags=("sampling", "sharding", "extension"),
    extended=True,
)
def corpus_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return training_shuffle(
        docs.select("doc_id"), n_shards=_N_SHARDS, seed=29
    ).select("doc_id", "shuffle_key", "shard")


_PACK_BUDGET = 256


@register(
    "corpus_packed_sequences",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      AS n_tokens
  FROM documents
),
sharded AS (
  SELECT doc_id, n_tokens,
    CAST({_mix_sql("doc_id", 29)} AS BIGINT) AS shuffle_key,
    CAST({_mix_sql("doc_id", 29)} % {_N_SHARDS} AS INT) AS shard
  FROM toks
),
packed AS (
  SELECT shard, doc_id, n_tokens,
    COALESCE(SUM(n_tokens) OVER (
      PARTITION BY shard ORDER BY shuffle_key, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM sharded
)
SELECT CAST(shard * {1 << 40} + cum_before // {_PACK_BUDGET} AS BIGINT)
    AS seq_id,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(SUM(CASE WHEN cum_before % {_PACK_BUDGET} + n_tokens
                     > {_PACK_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_straddlers
FROM packed
GROUP BY seq_id
ORDER BY seq_id
""",
    doc="GPT-style sequence packing: documents in deterministic shuffle "
    "order are concatenated per shard and split every 256 tokens "
    "(operators/sampling.py:pack_sequences); per-sequence doc/token/"
    "straddler profile.  The cumulative window runs PER SHARD — no "
    "global order, shards pack independently on a cluster — and the "
    "whole pipeline (portable hash, shard mod, window cumsum) replays "
    "verbatim in DuckDB.",
    tags=("sampling", "packing", "extension"),
    extended=True,
)
def corpus_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sampling import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    packed = pack_sequences(
        training_shuffle(with_tokens, _N_SHARDS, seed=29),
        budget=_PACK_BUDGET,
    )
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum(F.col("crosses_boundary").cast("int"))
            .cast("long")
            .alias("n_straddlers"),
        )
        .orderBy("seq_id")
    )


@register(
    "corpus_hash_split",
    oracle=r"""
WITH assigned AS (
  SELECT doc_id, lang,
    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
    CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
         WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM assigned GROUP BY split, lang
ORDER BY split, lang
""",
    doc="Deterministic train/val/test assignment by multiplicative "
    "integer hash (Knuth 2654435761) of the document id — the "
    "reproducible-split primitive every training pipeline needs: "
    "stable across runs, engines, partitionings, and re-shards "
    "because it is pure integer arithmetic on the id (no RNG, no "
    "row order dependence).  80/10/10 buckets; per-(split, lang) doc "
    "and token tallies verify both the assignment and its balance.  "
    "Zero-shuffle assignment (a projection); one aggregate exchange.",
    tags=("sampling", "split", "extension"),
    extended=True,
)
def corpus_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    assigned = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    return (
        assigned.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


_MIX_SEED = 31

_MIX_ORACLE = f"""
WITH w AS (
  SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS w
  FROM documents GROUP BY lang
),
tot AS (
  SELECT CAST(SUM(CAST(sqrt(w) AS DECIMAL(38,6))) AS DOUBLE) AS z,
         SUM(w) AS t
  FROM w
),
r AS (
  SELECT lang, w, ((t * (sqrt(w) / z)) / w) AS m FROM w CROSS JOIN tot
),
sel AS (
  SELECT d.lang, d.doc_id, d.n_chars, r.m,
    CAST(FLOOR(r.m) AS INT) +
    CASE WHEN {_unit_sql('d.doc_id', _MIX_SEED)} < r.m - FLOOR(r.m)
         THEN 1 ELSE 0 END AS mult
  FROM documents d JOIN r ON d.lang = r.lang
)
SELECT lang,
  CAST(COUNT(*) FILTER (WHERE mult > 0) AS BIGINT) AS n_docs_kept,
  CAST(SUM(mult) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(mult AS BIGINT) * n_chars) AS BIGINT) AS chars_kept,
  ROUND(MAX(m), 9) AS mix_rate
FROM sel GROUP BY lang ORDER BY lang
"""


@register(
    "mix_temperature_langs",
    oracle=_MIX_ORACLE,
    doc="Temperature-based mixture resampling (alpha=0.5, the mT5 "
    "sampling-temperature pattern): per-language rates are DERIVED "
    "IN-PLAN from the corpus' own char totals — p_s ~ sqrt(w_s), "
    "multiplicity m_s = total * p_s / w_s — flattening English "
    "dominance while keeping the total char budget.  Two k-row "
    "aggregates broadcast back onto the scan (no wide shuffle, no "
    "driver round-trip); the cross-stratum normalizer folds through "
    "DECIMAL so it is order-independent, and sqrt is correctly "
    "rounded IEEE, so the oracle's replay is bit-identical.  "
    "Per-language kept-doc / row / char tallies plus the rate.",
    tags=("sampling", "mixing", "extension", "headline"),
    extended=True,
)
def mix_temperature_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    mixed = temperature_mix(
        docs, alpha=0.5, stratum_col="lang", weight_col="n_chars",
        id_col="doc_id", seed=_MIX_SEED,
    )
    return (
        mixed.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_kept"),
            F.count("*").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
            F.round(F.max("mix_rate"), 9).alias("mix_rate"),
        )
        .orderBy("lang")
    )


_FS_SEED = 37
_FS_K = 10

_FS_ORACLE = f"""
SELECT lang, doc_id, CAST(rn AS INT) AS sample_rank
FROM (
  SELECT lang, doc_id,
    row_number() OVER (
      PARTITION BY lang
      ORDER BY {_mix_sql('doc_id', _FS_SEED)}, doc_id) AS rn
  FROM documents
) WHERE rn <= {_FS_K}
ORDER BY lang, sample_rank
"""


@register(
    "corpus_fixed_size_sample",
    oracle=_FS_ORACLE,
    doc=f"Exactly {_FS_K} docs per language in portable-hash order "
    "(operators/sampling.py:fixed_size_sample) — the eval-set / "
    "review-quota sampler whose selection is deterministic, "
    "partition-invariant, and bit-replayable (rate-based "
    "stratified_sample only hits a size in expectation).  One "
    "(stratum, hash) window — a single exchange + sort, no driver "
    "state.  The oracle replays hash order AND rank, pinning the "
    "exact selection.",
    tags=("sampling", "extension"),
    extended=True,
)
def corpus_fixed_size_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sampling import fixed_size_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        fixed_size_sample(docs, _FS_K, seed=_FS_SEED)
        .select("lang", "doc_id", "sample_rank")
        .orderBy("lang", "sample_rank")
    )


# -- weighted sampling without replacement (A-Res, round-7) ------------------

_WS_K = 20
_WS_SEED = 97

_WS_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
    ROUND(
      LN(CAST(({_mix_sql("doc_id", _WS_SEED)}) + 1 AS DOUBLE)
         / {float(_MOD + 1)!r})
      / CAST(n_chars AS DOUBLE), 9) AS sample_key
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, lang, n_chars, sample_key, CAST(rn AS INT) AS sample_rank
FROM (
  SELECT *, row_number() OVER (ORDER BY sample_key DESC, doc_id) AS rn
  FROM keyed
) WHERE rn <= {_WS_K}
ORDER BY sample_rank
"""


@register(
    "corpus_weighted_sample",
    oracle=_WS_ORACLE,
    doc=f"Weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
    f"A-Res): top-{_WS_K} documents by key ln(u)/w with w = n_chars — "
    "longer documents proportionally likelier, one pass, no "
    "sequential draws (operators/sampling.py:weighted_sample).  u is "
    "the portable (0,1]-shifted integer hash of (doc_id, seed), ln "
    "is quantized to 9 decimals at the source, so the SELECTION "
    "ITSELF is hash-checkable cross-engine; physically a narrow "
    "key projection + TakeOrderedAndProject (per-partition k-row "
    "heaps, no full sort, no O(corpus) shuffle).",
    tags=("sampling", "weighted", "extension"),
    extended=True,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        weighted_sample(
            docs, _WS_K, weight_col="n_chars", seed=_WS_SEED
        )
        .select("doc_id", "lang", "n_chars", "sample_key", "sample_rank")
        .orderBy("sample_rank")
    )


# -- DSIR importance scores --------------------------------------------------

_DSIR_B = 64
_DSIR_TOKS = r"regexp_split_to_array(trim(text), '\s+')"

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, {_DSIR_TOKS} AS t FROM documents
),
bk AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(g), 1, 8))::BIGINT % {_DSIR_B} AS b
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS g
    FROM toks WHERE len(t) >= 2
  )
),
cr AS (SELECT b, count(*) AS cr FROM bk GROUP BY b),
ct AS (SELECT b, count(*) AS ct FROM bk WHERE lang = 'en' GROUP BY b),
tot AS (
  SELECT (SELECT count(*) FROM bk) AS nr,
         (SELECT count(*) FROM bk WHERE lang = 'en') AS nt
),
llr AS (
  SELECT s.b,
         round(ln(CAST((coalesce(ct.ct, 0) + 1) * (tot.nr + {_DSIR_B})
                       AS DOUBLE)
                  / CAST((coalesce(cr.cr, 0) + 1) * (tot.nt + {_DSIR_B})
                         AS DOUBLE)), 9) AS llr
  FROM (SELECT unnest(generate_series(0, {_DSIR_B - 1})) AS b) s
  LEFT JOIN ct ON s.b = ct.b
  LEFT JOIN cr ON s.b = cr.b
  CROSS JOIN tot
)
SELECT bk.doc_id,
       count(*) AS n_bigrams,
       CAST(SUM(CAST(llr.llr AS DECIMAL(38,12))) AS DOUBLE) AS log_weight
FROM bk JOIN llr ON bk.b = llr.b
GROUP BY bk.doc_id
"""


@register(
    "corpus_dsir_importance",
    oracle=_DSIR_ORACLE,
    doc="DSIR importance scores (Xie et al. 2023): every raw-corpus "
    "document scored by the log-likelihood ratio of its hashed-bigram "
    f"bucket occurrences ({_DSIR_B} md5-prefix buckets) under add-one-"
    "smoothed target-vs-raw bucket models, target = the lang='en' "
    "slice (operators/sampling.py:dsir_llr_scores).  Per-bucket LLRs "
    "are one exact-bigint-product double division plus the one libm "
    "ln quantized to 9 decimals (the BM25/A-Res precedent); per-doc "
    "sums fold through DECIMAL(38,12), so the scores — not just the "
    "ranking — hash-match cross-engine.  Scale shape: text never "
    "shuffles (bigrams leave as bucket ints), both bucket models are "
    "map-side-combined B-key aggregates, totals attach as in-plan "
    "broadcast 1-row aggregates, and the B-row LLR table broadcasts "
    "onto one corpus pass.",
    tags=("sampling", "dsir", "importance", "extension"),
    extended=True,
)
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sampling import dsir_llr_scores

    docs = load_table(spark, sf_dir, "documents")
    return dsir_llr_scores(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=_DSIR_B
    )


_UNIMAX_ORACLE = r"""
WITH sup AS (
  SELECT lang AS stratum, COUNT(*) AS n_docs,
    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
      AS toks,
    CAST(2 * SUM(len(regexp_split_to_array(trim(text), '\s+')))
      AS BIGINT) AS supply
  FROM documents GROUP BY lang
),
tot AS (SELECT SUM(toks) AS _tot, COUNT(*) AS _L FROM sup),
s AS (
  SELECT sup.*, (_tot * 3) // 2 AS B, _L,
    row_number() OVER (ORDER BY supply, stratum) AS i,
    COALESCE(SUM(supply) OVER (ORDER BY supply, stratum
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM sup, tot
),
t AS (
  SELECT s.*, CAST(B - cum_prev AS DOUBLE) / (_L - i + 1) AS theta
  FROM s
),
star AS (
  SELECT theta AS tstar FROM t WHERE supply >= theta ORDER BY i LIMIT 1
),
alloc AS (
  SELECT t.*, CASE WHEN star.tstar IS NULL THEN CAST(supply AS DOUBLE)
              ELSE least(CAST(supply AS DOUBLE), star.tstar) END AS a
  FROM t LEFT JOIN star ON TRUE
)
SELECT stratum AS lang, n_docs, toks, supply,
  ROUND(a, 6) AS allocated,
  ROUND(a / B, 9) AS weight,
  ROUND(a / toks, 9) AS epochs_used
FROM alloc ORDER BY lang
"""


@register(
    "mix_unimax_langs",
    oracle=_UNIMAX_ORACLE,
    doc="UniMax language-budget allocation (Chung et al. 2023): a 1.5x "
    "total-token budget spread as uniformly as possible across "
    "languages with a 2-epoch per-language cap — the water-filling "
    "closed form (two windows over the L-row stratum table + one "
    "1-row boundary aggregate) replaces the paper's per-language "
    "loop; the corpus is read ONCE for the per-language token "
    "aggregate (operators/sampling.py:unimax_allocation).  On the "
    "fixture the budget saturates every low-resource language at 2 "
    "epochs and water-fills the remainder into English — the exact "
    "behavior temperature mixing can't express.",
    tags=("sampling", "mixing", "extension"),
    extended=True,
)
def mix_unimax_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sampling import unimax_allocation

    docs = load_table(spark, sf_dir, "documents")
    return unimax_allocation(docs, stratum_col="lang", epochs_cap=2)


_APP_S = 64  # total shards to apportion


@register(
    "mix_shard_apportionment",
    oracle=f"""
WITH sup AS (
  SELECT lang, CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
    AS BIGINT) AS toks
  FROM documents GROUP BY lang
),
tot AS (SELECT SUM(toks) AS t, COUNT(*) AS l FROM sup),
q AS (
  SELECT lang, toks,
    (toks * {_APP_S}) // tot.t AS base,
    (toks * {_APP_S}) % tot.t AS rem
  FROM sup, tot
),
lo AS (SELECT CAST({_APP_S} AS BIGINT) - SUM(base) AS leftover FROM q),
rk AS (
  SELECT q.*, row_number() OVER (ORDER BY rem DESC, lang) AS rr
  FROM q
)
SELECT rk.lang, rk.toks, CAST(rk.base AS BIGINT) AS base_shards,
  CAST(rk.base + CASE WHEN rk.rr <= lo.leftover THEN 1 ELSE 0 END
       AS BIGINT) AS shards
FROM rk, lo
""",
    doc=f"Largest-remainder (Hamilton) apportionment of {_APP_S} "
    "output shards across languages proportional to token mass — "
    "the integerization step after a mixing policy decides weights: "
    "floor quotas first, then the leftover shards go to the largest "
    "fractional remainders (ties on language).  ALL INTEGER "
    "(quota = toks * S as exact div/mod), so the classic "
    "apportionment paradoxes are at least deterministic ones; "
    "one corpus pass, then L-row arithmetic.",
    tags=("sampling", "apportionment", "extension"),
    extended=True,
)
def mix_shard_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from diabetes_etl_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    sup = docs.groupBy("lang").agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("toks")
    )
    wa = Window.partitionBy()
    q = (
        sup.withColumn("t", F.sum("toks").over(wa))
        .withColumn("base", F.expr(f"(toks * {_APP_S}) div t"))
        .withColumn("rem", F.expr(f"(toks * {_APP_S}) % t"))
        .withColumn(
            "leftover", F.lit(_APP_S) - F.sum("base").over(wa)
        )
        .withColumn(
            "rr",
            F.row_number().over(
                Window.orderBy(F.col("rem").desc(), F.col("lang"))
            ),
        )
    )
    return q.select(
        "lang",
        "toks",
        F.col("base").cast("long").alias("base_shards"),
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).cast("long").alias("shards"),
    )


# -- PPS Poisson sampling + Horvitz-Thompson estimation (round 11) -------------

_PPS_SEED = 777
_PPS_EXPECT = 500  # expected sample size (sum of inclusion probs, pre-cap)


@register(
    "corpus_pps_ht_estimate",
    oracle=f"""
WITH d AS (
  SELECT doc_id, n_chars,
    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      AS y
  FROM documents WHERE LENGTH(text) > 0
),
t AS (SELECT SUM(n_chars) AS tot_chars, SUM(y) AS true_total FROM d),
pi AS (
  SELECT doc_id, y,
    LEAST(CAST(1.0 AS DOUBLE),
          {_PPS_EXPECT} * CAST(n_chars AS DOUBLE) / t.tot_chars) AS p,
    {_unit_sql("doc_id", _PPS_SEED)} AS u,
    t.true_total
  FROM d CROSS JOIN t
),
s AS (
  SELECT true_total,
    COUNT(CASE WHEN u < p THEN 1 END) AS n_sampled,
    SUM(CASE WHEN u < p
        THEN CAST(CAST(y AS DOUBLE) / p AS DECIMAL(38,12)) END) AS ht,
    SUM(CASE WHEN u < p
        THEN CAST((1 - p) * (CAST(y AS DOUBLE) / p)
                  * (CAST(y AS DOUBLE) / p) AS DECIMAL(38,12)) END)
      AS vht
  FROM pi GROUP BY true_total
)
SELECT CAST(n_sampled AS BIGINT) AS n_sampled,
  CAST(true_total AS BIGINT) AS true_total_tokens,
  ROUND(CAST(ht AS DOUBLE), 6) AS ht_estimate_tokens,
  ROUND(ABS(CAST(ht AS DOUBLE) - true_total) / true_total, 9)
    AS rel_error,
  ROUND(SQRT(CAST(vht AS DOUBLE)), 6) AS ht_se,
  ABS(CAST(ht AS DOUBLE) - true_total)
    <= 2 * SQRT(CAST(vht AS DOUBLE)) AS within_2se
FROM s
""",
    doc=f"Probability-proportional-to-size Poisson sampling with the "
    "Horvitz-Thompson total estimator — the survey-sampling operator "
    "behind every 'estimate corpus statistics from a tiny audited "
    "sample' workflow: inclusion probability pi_i = min(1, "
    f"{_PPS_EXPECT} * n_chars_i / sum(n_chars)) (size measure = "
    "chars), selection keyed on the engine-portable unit hash (never "
    "rand() — partition-layout-independent, mirrored VERBATIM by the "
    "oracle), and the HT estimate sum(y_i/pi_i) of TOTAL WHITESPACE "
    "TOKENS over the sample, reported against the exact truth with "
    "its realized relative error AND the Poisson-design HT variance "
    "estimate sum((1-pi)(y/pi)^2) with a within-2-SE flag — "
    "unbiasedness and calibration are auditable numbers, not "
    "claims.  pi attaches via one "
    "broadcast 1-row aggregate; everything else is scan-local.  "
    "Scale: two scans (totals + selection), no shuffle beyond the "
    "1-row epilogue.",
    tags=("sampling", "survey", "estimation", "extension", "headline"),
)
def corpus_pps_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sampling import portable_unit_hash

    docs = load_table(spark, sf_dir, "documents").filter(
        F.expr("LENGTH(text) > 0")
    )
    d = docs.select(
        "doc_id",
        "n_chars",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("y"),
    )
    t = d.agg(
        F.sum("n_chars").alias("tot_chars"),
        F.sum("y").alias("true_total"),
    )
    pi = d.crossJoin(F.broadcast(t)).select(
        "y",
        "true_total",
        F.least(
            F.lit(1.0),
            F.lit(_PPS_EXPECT)
            * F.col("n_chars").cast("double")
            / F.col("tot_chars"),
        ).alias("p"),
        portable_unit_hash(F.col("doc_id"), _PPS_SEED).alias("u"),
    )
    s = pi.groupBy("true_total").agg(
        F.count(F.when(F.col("u") < F.col("p"), 1)).alias("n_sampled"),
        # each HT term quantizes to DECIMAL(38,12) so the fold is
        # EXACT and order-independent (a raw double sum drifts ~1e-8
        # with partition order — enough to flip the 1e-6 rounding)
        F.sum(
            F.when(
                F.col("u") < F.col("p"),
                (F.col("y").cast("double") / F.col("p")).cast(
                    "decimal(38,12)"
                ),
            )
        ).alias("ht"),
        # Poisson-design HT variance estimator sum((1-pi)(y/pi)^2)
        # over the sample — same exact order-independent fold
        F.sum(
            F.when(
                F.col("u") < F.col("p"),
                (
                    (1 - F.col("p"))
                    * (F.col("y").cast("double") / F.col("p"))
                    * (F.col("y").cast("double") / F.col("p"))
                ).cast("decimal(38,12)"),
            )
        ).alias("vht"),
    )
    return s.select(
        F.col("n_sampled").cast("long").alias("n_sampled"),
        F.col("true_total").cast("long").alias("true_total_tokens"),
        F.round(F.col("ht").cast("double"), 6).alias(
            "ht_estimate_tokens"
        ),
        F.round(
            F.abs(F.col("ht").cast("double") - F.col("true_total"))
            / F.col("true_total"),
            9,
        ).alias("rel_error"),
        F.round(F.sqrt(F.col("vht").cast("double")), 6).alias("ht_se"),
        (
            F.abs(F.col("ht").cast("double") - F.col("true_total"))
            <= 2 * F.sqrt(F.col("vht").cast("double"))
        ).alias("within_2se"),
    )


# -- Leakage-guarded train/val/test split (round 13) --------------------------

# 10 md5 buckets on the CLUSTER label: 0-7 train, 8 val, 9 test.  The
# unit of assignment is the near-dup cluster, never the document — the
# standard evaluation-leakage guard (a near-duplicate of a training doc
# landing in the test split silently inflates every downstream eval).
_SPLIT_BUCKETS = 10


def corpus_leakage_guarded_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-coherent 80/10/10 split: near-dup connected components
    (the dedup_components labeling) are the assignment unit; every
    member of a cluster inherits the md5 bucket of its min-id label,
    so no near-dup pair can straddle train/test by construction.
    Output is the split manifest a training pipeline audits: per
    (split, lang) document, cluster, and token counts.

    Scale shape: the component labeling is the dedup_components plan
    (LSH-blocked edges, O(diameter) min-label rounds); everything
    after is one broadcast-joinable label attach + one map-side-
    combinable grouped pass; the manifest is O(splits x langs).
    """
    from diabetes_etl_spark.operators.text import token_count
    from diabetes_etl_spark.plans.dedupplans import dedup_components

    docs = load_table(spark, sf_dir, "documents")
    comp = dedup_components(spark, sf_dir).select("doc_id", "component")
    labeled = docs.join(comp, "doc_id", "left").select(
        "lang",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("cluster").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % _SPLIT_BUCKETS
    )
    split = (
        F.when(bucket < _SPLIT_BUCKETS - 2, "train")
        .when(bucket == _SPLIT_BUCKETS - 2, "val")
        .otherwise("test")
    )
    return (
        labeled.select(split.alias("split"), "lang", "cluster", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


def _split_oracle() -> str:
    from diabetes_etl_spark.plans.dedupplans import _COMPONENTS_CLOSURE_SQL

    return rf"""
{_COMPONENTS_CLOSURE_SQL},
labeled AS (
  SELECT d.lang,
    COALESCE(l.component, d.doc_id) AS cluster,
    len(regexp_split_to_array(trim(d.text), '\s+')) AS n_tokens
  FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
),
b AS (
  SELECT lang, n_tokens, cluster,
    ('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 8))::BIGINT
      % {_SPLIT_BUCKETS} AS bucket
  FROM labeled
)
SELECT CASE WHEN bucket < {_SPLIT_BUCKETS - 2} THEN 'train'
            WHEN bucket = {_SPLIT_BUCKETS - 2} THEN 'val'
            ELSE 'test' END AS split,
  lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM b GROUP BY 1, 2 ORDER BY 1, 2
"""


register(
    "corpus_leakage_guarded_split",
    oracle=_split_oracle(),
    doc="Leakage-guarded 80/10/10 train/val/test split: the assignment "
    "unit is the NEAR-DUP CLUSTER (dedup_components min-label), hashed "
    "once per cluster into 10 md5 buckets, so a near-duplicate of a "
    "training document can never land in val/test — the evaluation-"
    "contamination guard document-level hash splits miss.  Composes "
    "three gate-covered families (near-dup pairs -> connected "
    "components -> portable hash bucketing) into the split manifest a "
    "training pipeline audits (per split x lang: docs, clusters, "
    "tokens).  The oracle replays the full composition: recursive-CTE "
    "closure of the exact Jaccard pair relation, the same md5 bucket "
    "arithmetic, the same rollup.",
    tags=("sampling", "split", "leakage", "composite", "extension"),
    extended=True,
)(corpus_leakage_guarded_split)


# -- survey raking / iterative proportional fitting (round 13) ---------------

_RAKE_ROUNDS = 3


def _rake_step_sql(prev: str, out: str, part: str, tgt: str) -> str:
    """One IPF scaling step as mirrored SQL: the margin's current
    weighted mass folds as DECIMAL(28,6) of 6dp-rounded cell terms
    (order-independent), the factor and the updated weight each
    round to 9dp where born."""
    return f"""
{out} AS (
  SELECT c_nationkey, c_mktsegment, c, target_n, target_s,
    ROUND(w * ROUND({tgt} / CAST(
      SUM(CAST(ROUND(w * c, 6) AS DECIMAL(28,6)))
        OVER (PARTITION BY {part}) AS DOUBLE), 9), 9) AS w
  FROM {prev}
)"""


def _rake_oracle() -> str:
    steps, prev = [], "w0"
    k = 0
    for _ in range(_RAKE_ROUNDS):
        for part, tgt in (
            ("c_nationkey", "target_n"),
            ("c_mktsegment", "target_s"),
        ):
            k += 1
            steps.append(_rake_step_sql(prev, f"w{k}", part, tgt))
            prev = f"w{k}"
    return (
        """
WITH samp AS (
  SELECT c_custkey, c_nationkey, c_mktsegment FROM customer
  WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
        % 10 < CASE WHEN c_mktsegment = 'BUILDING' THEN 6 ELSE 3 END
),
cells AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS c
  FROM samp GROUP BY 1, 2
),
mn AS (SELECT c_nationkey, COUNT(*) AS target_n FROM customer
       GROUP BY 1),
ms AS (SELECT c_mktsegment, COUNT(*) AS target_s FROM customer
       GROUP BY 1),
w0 AS (
  SELECT cells.c_nationkey, cells.c_mktsegment, c, target_n, target_s,
    CAST(1.0 AS DOUBLE) AS w
  FROM cells
  JOIN mn ON mn.c_nationkey = cells.c_nationkey
  JOIN ms ON ms.c_mktsegment = cells.c_mktsegment
),"""
        + ",".join(steps)
        + f"""
SELECT c_nationkey, c_mktsegment,
  CAST(c AS BIGINT) AS n_sample,
  CAST(target_n AS BIGINT) AS nation_target,
  CAST(target_s AS BIGINT) AS segment_target,
  w AS weight,
  ROUND(w * c, 6) AS est_count
FROM {prev}
ORDER BY c_nationkey, c_mktsegment
"""
    )


@register(
    "sample_raking_ipf",
    oracle=_rake_oracle(),
    doc=f"Survey raking / iterative proportional fitting (Deming & "
    "Stephan 1940): a deliberately BIASED customer subsample (the "
    "md5 inclusion threshold doubles for the BUILDING segment) is "
    "calibrated back to the FULL table's nation and segment margins "
    f"by {_RAKE_ROUNDS} rounds of alternating margin scaling on the "
    "(nation x segment) cell grid — the post-stratification "
    "workhorse when only marginal totals are known.  Each step's "
    "current margin mass folds as DECIMAL(28,6) of 6dp cell terms "
    "(order-independent), factors and weights round to 9dp where "
    "born, and the oracle UNROLLS all "
    f"{2 * _RAKE_ROUNDS} scaling steps as CTE layers — every "
    "intermediate weight hash-pinned (the PageRank/LPA discipline "
    "for iterative algorithms).  Margins restrict to cells observed "
    "in the sample (standard raking practice).  Scale: two "
    "map-side-combined grouped passes (sample cells, full margins); "
    "all scaling work is windows over the O(nations x segments) "
    "cell grid.",
    tags=(
        "sampling", "weighting", "iterative", "statistics", "extension",
        "headline",
    ),
)
def sample_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    h = (
        F.conv(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 10
    )
    thresh = F.when(F.col("c_mktsegment") == "BUILDING", 6).otherwise(3)
    samp = cust.where(h < thresh)
    cells = samp.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("c")
    )
    mn = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("target_n")
    )
    ms = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("target_s")
    )
    df = (
        cells.join(F.broadcast(mn), "c_nationkey")
        .join(F.broadcast(ms), "c_mktsegment")
        .withColumn("w", F.lit(1.0))
    )
    for _ in range(_RAKE_ROUNDS):
        for part, tgt in (
            ("c_nationkey", "target_n"),
            ("c_mktsegment", "target_s"),
        ):
            cur = F.sum(
                F.round(F.col("w") * F.col("c"), 6).cast("decimal(28,6)")
            ).over(Window.partitionBy(part))
            df = df.withColumn(
                "w",
                F.round(
                    F.col("w")
                    * F.round(F.col(tgt) / cur.cast("double"), 9),
                    9,
                ),
            )
    return df.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("c").cast("long").alias("n_sample"),
        F.col("target_n").cast("long").alias("nation_target"),
        F.col("target_s").cast("long").alias("segment_target"),
        F.col("w").alias("weight"),
        F.round(F.col("w") * F.col("c"), 6).alias("est_count"),
    ).orderBy("c_nationkey", "c_mktsegment")
