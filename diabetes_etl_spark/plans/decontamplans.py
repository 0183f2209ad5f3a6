"""Registered decontamination query: documents from ``source='src0'``
act as the benchmark/eval set, everything else is the training corpus;
any corpus doc sharing a 5-token shingle with the benchmark is flagged
(operators/decontam.py).  The fixture corpus draws from a shared
vocabulary, so organic 5-gram collisions give the query real
positives and real negatives at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.decontam import decontaminate
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

_N = 5
_BENCH_SRC = "src0"

_D_TOKENS = r"regexp_split_to_array(trim(text), '\s+')"
_D_SHINGLES = (
    f"list_distinct(list_transform("
    f"generate_series(1, greatest(len({_D_TOKENS}) - {_N - 1}, 1)), "
    f"i -> array_to_string({_D_TOKENS}[i:i+{_N - 1}], ' ')))"
)


@register(
    "decontam_overlap_stats",
    oracle=f"""
WITH bench AS (
  SELECT DISTINCT unnest({_D_SHINGLES}) AS g
  FROM documents WHERE source = '{_BENCH_SRC}'
),
corp_grams AS (
  SELECT doc_id, unnest({_D_SHINGLES}) AS g
  FROM documents WHERE source <> '{_BENCH_SRC}'
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_hit_grams
  FROM corp_grams JOIN bench USING (g)
  GROUP BY doc_id
)
SELECT d.lang,
  COUNT(*) AS docs_total,
  CAST(SUM(CASE WHEN h.n_hit_grams IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_contaminated,
  CAST(COALESCE(SUM(h.n_hit_grams), 0) AS BIGINT) AS total_hit_grams
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.source <> '{_BENCH_SRC}'
GROUP BY d.lang ORDER BY d.lang
""",
    doc="Benchmark decontamination: corpus docs sharing any 5-token "
    "shingle with the src0 eval set, counted per language.  The "
    "benchmark shingle dictionary broadcasts (the corpus never "
    "shuffles its text); post-join volume is proportional to "
    "contamination; the oracle replays the same shingling and join "
    "in DuckDB.",
    tags=("decontam", "dedup", "text", "extension", "headline"),
)
def decontam_overlap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == _BENCH_SRC)
    corpus = docs.filter(F.col("source") != _BENCH_SRC)
    flagged = decontaminate(corpus, bench, n=_N)
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("docs_total"),
            F.sum(F.col("contaminated").cast("int")).alias("docs_contaminated"),
            F.sum("n_hit_grams").alias("total_hit_grams"),
        )
        .orderBy("lang")
    )


# -- Bloom-filter blocklist probe (operators/sketch.py, round-7) ------------

_BLOOM_M, _BLOOM_K, _BLOOM_SEED = 65536, 4, 23

_D_FINGERPRINT_G = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(g, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
    "(acc, x) -> (acc * 131 + x) % 1000000007)"
)


def _bloom_sql_bit(f_expr: str, j_expr: str) -> str:
    """DuckDB replay of operators/sketch.py:_bloom_bit — the same
    Python-computed pairwise-independent (a_j, b_j) literals as CASE
    branches (the CMS-oracle recipe)."""
    from diabetes_etl_spark.operators.sampling import _MOD
    from diabetes_etl_spark.operators.sketch import _cms_row_params

    params = [_cms_row_params(j, _BLOOM_SEED) for j in range(_BLOOM_K)]
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
        f" % {_MOD}) % {_BLOOM_M} AS INT)"
    )


_BLOOM_ORACLE = f"""
WITH bench AS (
  SELECT DISTINCT unnest({_D_SHINGLES}) AS g
  FROM documents WHERE source = '{_BENCH_SRC}'
),
bfp AS (SELECT g, {_D_FINGERPRINT_G} AS f FROM bench),
js AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j),
bits AS (
  SELECT DISTINCT {_bloom_sql_bit('f', 'j')} AS bit
  FROM bfp CROSS JOIN js
),
corp AS (
  SELECT doc_id, lang, unnest({_D_SHINGLES}) AS g
  FROM documents WHERE source <> '{_BENCH_SRC}'
),
cfp AS (SELECT doc_id, lang, g, {_D_FINGERPRINT_G} AS f FROM corp),
probed AS (
  SELECT doc_id, lang, g, f,
         SUM(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END)
           = {_BLOOM_K} AS bloom_hit
  FROM (SELECT cfp.*, {_bloom_sql_bit('f', 'j')} AS pb
        FROM cfp CROSS JOIN js) p
  LEFT JOIN bits ON p.pb = bits.bit
  GROUP BY doc_id, lang, g, f
),
graded AS (
  SELECT p.doc_id, p.lang, p.bloom_hit,
         (bench.g IS NOT NULL) AS true_hit
  FROM probed p LEFT JOIN bench ON p.g = bench.g
)
SELECT lang,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_total,
  CAST(COUNT(DISTINCT CASE WHEN bloom_hit THEN doc_id END) AS BIGINT)
    AS docs_bloom_flagged,
  CAST(COUNT(DISTINCT CASE WHEN true_hit THEN doc_id END) AS BIGINT)
    AS docs_truly_contaminated,
  CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
    AS grams_bloom_hits,
  CAST(SUM(CASE WHEN true_hit THEN 1 ELSE 0 END) AS BIGINT)
    AS grams_true_hits,
  CAST(SUM(CASE WHEN bloom_hit AND NOT true_hit THEN 1 ELSE 0 END)
    AS BIGINT) AS grams_false_positives
FROM graded GROUP BY lang ORDER BY lang
"""


@register(
    "decontam_bloom_probe",
    oracle=_BLOOM_ORACLE,
    doc=f"Bloom-filter blocklist probe (operators/sketch.py:bloom_*): "
    f"the benchmark shingle set compresses into a {_BLOOM_M}-bit / "
    f"{_BLOOM_K}-probe Bloom filter whose bit table broadcasts, so the "
    "corpus probe is scan-local — the constant-memory pre-filter for "
    "decontamination when the blocklist outgrows a broadcast string "
    "dictionary (bits are ints, not grams; per-day filters merge by "
    "bit union).  No false negatives by construction; the query "
    "accounts bloom hits vs exact membership per language, so the "
    "false-positive rate is itself an output.  Deterministic "
    "pairwise-independent integer hashing (the CMS family) makes even "
    "this approximate structure bit-exactly oracle-paired.",
    tags=("decontam", "sketch", "approximate", "extension", "headline"),
    extended=True,
)
def decontam_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.decontam import benchmark_shingles
    from diabetes_etl_spark.operators.dedup import shingle_frame
    from diabetes_etl_spark.operators.sketch import (
        bloom_bits,
        bloom_hit_mask_fp,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == _BENCH_SRC)
    corpus = docs.filter(F.col("source") != _BENCH_SRC)

    bench_grams = benchmark_shingles(bench, n=_N)
    bits = bloom_bits(
        bench_grams, "g", m=_BLOOM_M, k=_BLOOM_K, seed=_BLOOM_SEED
    )
    from diabetes_etl_spark.operators.util import widen

    # widen BEFORE the per-row shingling + fingerprint work: the sf0.1
    # fixture arrives as one input split, which would pin the whole
    # CPU-bound gram stage on a single core (no-op on a wide scan).
    # Shingles AND their polynomial fingerprints come from the Arrow
    # kernel in one pass (round-14, verdict-r13 #1): the Column form
    # ran an interpreted transform(slice+concat_ws) per position PLUS
    # an interpreted aggregate-over-split rolling hash per gram — the
    # two measured cost centers of this plan; parity with
    # text.fingerprint/word_shingles is pinned by the kernel tests.
    corp_grams = shingle_frame(
        widen(corpus), "doc_id", "text", _N,
        keep_cols=("lang",), with_fp=True,
    ).select(
        "doc_id",
        "lang",
        F.explode(F.arrays_zip("sh", "fp")).alias("z"),
    )
    # SCAN-LOCAL probe (bloom_hit_mask): the <= m-row bit table folds
    # into a literal bitmask, so the corpus side tests membership
    # inside codegen — no explode-by-probe, no join, no gram strings
    # in any shuffle (the join-based bloom_probe grouped per gram and
    # measured 1.8x slower at sf0.1; equivalence is pinned in
    # tests/test_sketch.py)
    probed = corp_grams.select(
        "doc_id",
        "lang",
        F.col("z.sh").alias("g"),
        F.col("z.fp").alias("__fp"),
    ).select(
        "doc_id",
        "lang",
        "g",
        bloom_hit_mask_fp(
            bits, F.col("__fp"), m=_BLOOM_M, k=_BLOOM_K, seed=_BLOOM_SEED
        ).alias("bloom_hit"),
    )
    graded = probed.join(
        F.broadcast(bench_grams.withColumn("__true", F.lit(1))), "g", "left"
    ).select(
        "doc_id",
        "lang",
        "bloom_hit",
        F.col("__true").isNotNull().alias("true_hit"),
    )
    # two-level aggregate: per-doc partials first, then per-lang — the
    # one-level form needed THREE countDistincts, whose expand node
    # triples every gram row before the shuffle (measured 1.6x slower)
    per_doc = graded.groupBy("doc_id", "lang").agg(
        F.sum(F.col("bloom_hit").cast("int")).alias("__bloom"),
        F.sum(F.col("true_hit").cast("int")).alias("__true"),
        F.sum(
            (F.col("bloom_hit") & ~F.col("true_hit")).cast("int")
        ).alias("__fp"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("docs_total"),
            F.sum((F.col("__bloom") > 0).cast("int")).cast("long").alias(
                "docs_bloom_flagged"
            ),
            F.sum((F.col("__true") > 0).cast("int")).cast("long").alias(
                "docs_truly_contaminated"
            ),
            F.sum("__bloom").alias("grams_bloom_hits"),
            F.sum("__true").alias("grams_true_hits"),
            F.sum("__fp").alias("grams_false_positives"),
        )
        .orderBy("lang")
    )


# -- span-level decontamination (excision) -----------------------------------

_DX_K = 8

_DX_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, source, i AS start,
         array_to_string(list_slice(t, i + 1, i + {_DX_K}), ' ') AS s
  FROM toks, unnest(generate_series(0, len(t) - {_DX_K})) AS u(i)
  WHERE len(t) >= {_DX_K}
),
bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
marked AS (
  SELECT sh.doc_id, sh.start FROM sh JOIN bench ON sh.s = bench.s
  WHERE sh.source != 'src0'
),
isl AS (
  SELECT doc_id, start,
         CASE WHEN start > coalesce(max(start + {_DX_K}) OVER (
                PARTITION BY doc_id ORDER BY start
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_isl
  FROM marked
),
grp AS (
  SELECT doc_id, start,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY start
                            ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
),
iv AS (
  SELECT doc_id, island, min(start) AS s, max(start) + {_DX_K} AS e
  FROM grp GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_spans_removed,
         CAST(sum(e - s) AS BIGINT) AS n_tokens_removed
  FROM iv GROUP BY doc_id
),
rebuilt AS (
  SELECT tk.doc_id,
         string_agg(tk.tok, ' ' ORDER BY tk.pos) AS cleaned_text
  FROM (
    SELECT doc_id, unnest(t) AS tok,
           unnest(generate_series(0, len(t) - 1)) AS pos
    FROM toks WHERE source != 'src0'
  ) tk
  WHERE NOT EXISTS (
    SELECT 1 FROM iv
    WHERE iv.doc_id = tk.doc_id AND tk.pos >= iv.s AND tk.pos < iv.e
  )
  GROUP BY tk.doc_id
)
SELECT toks.doc_id,
       CAST(len(toks.t) AS BIGINT) AS n_tokens,
       coalesce(p.n_spans_removed, 0) AS n_spans_removed,
       coalesce(p.n_tokens_removed, 0) AS n_tokens_removed,
       coalesce(r.cleaned_text, '') AS cleaned_text
FROM toks
LEFT JOIN per_doc p ON toks.doc_id = p.doc_id
LEFT JOIN rebuilt r ON toks.doc_id = r.doc_id
WHERE toks.source != 'src0'
"""


@register(
    "decontam_span_excision",
    oracle=_DX_ORACLE,
    doc="SPAN-level benchmark decontamination (operators/dedup.py:"
    "excise_contaminated_spans): the src0 slice plays the eval set; "
    f"every {_DX_K}-token span of a training doc that occurs verbatim "
    "in the benchmark is cut (overlapping cuts merge into maximal "
    "intervals via the span-dedup island machinery) and the document "
    "re-emits its surviving tokens — the surgical alternative to the "
    "whole-doc drop in decontam_overlap_stats, preserving the "
    "uncontaminated 99% of a page with one leaked passage.  The "
    "benchmark's distinct shingle hashes BROADCAST, so the corpus "
    "never shuffles for matching; marked positions and interval "
    "arrays are ∝ contamination.  Oracle replays the policy "
    "including the rebuilt text.",
    tags=("decontam", "excision", "extension"),
    extended=True,
)
def decontam_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.dedup import excise_contaminated_spans

    docs = load_table(spark, sf_dir, "documents")
    return excise_contaminated_spans(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        k=_DX_K,
    )
