"""PII scan / redaction queries over the documents fixture.

The synthetic corpus contains no organic PII, so each query first
ENRICHES a deterministic subset of documents with synthetic
identifiers derived from ``doc_id`` (emails for ``doc_id % 7 == 0``,
phones for ``% 11``, IPv4 for ``% 13``, SSN-shaped ids for ``% 17``) —
the same arithmetic on both the Spark side and the DuckDB oracle, so
detection runs against real positives AND real negatives while inputs
stay fixture-only.  The oracle recomputes detection with
``regexp_extract_all`` and redaction with ``regexp_replace(..., 'g')``
(DuckDB replaces only the first match without the flag — the one
dialect difference worth a comment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.pii import (
    PII_PATTERNS,
    redact_pii,
    with_pii_counts,
)
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

# -- shared enrichment (Spark + SQL twins, same arithmetic) -----------------


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    text = F.col("text")
    text = F.when(
        did % 7 == 0,
        F.concat(text, F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
    ).otherwise(text)
    text = F.when(
        did % 11 == 0,
        F.concat(
            text,
            F.lit(" call 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(text)
    text = F.when(
        did % 13 == 0,
        F.concat(
            text,
            F.lit(" from 10."),
            (did % 256).cast("string"),
            F.lit(".0."),
            ((did * 7) % 256).cast("string"),
        ),
    ).otherwise(text)
    text = F.when(
        did % 17 == 0,
        F.concat(
            text,
            F.lit(" ssn 123-45-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(text)
    return docs.withColumn("text", text)


_ENRICH_SQL = """
SELECT doc_id, lang,
  text
  || CASE WHEN doc_id % 7 = 0
          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
          ELSE '' END
  || CASE WHEN doc_id % 11 = 0
          THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
               || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE '' END
  || CASE WHEN doc_id % 13 = 0
          THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
               || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
          ELSE '' END
  || CASE WHEN doc_id % 17 = 0
          THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE '' END
  AS text
FROM documents
"""

# NOTE the append-order difference is deliberate: the Spark side
# appends via chained WHEN/OTHERWISE in the same email→phone→ip→ssn
# order as the SQL's concatenated CASE arms, so a doc_id divisible by
# several moduli gets the same final string on both sides.


def _duck_count(cls: str) -> str:
    pat = PII_PATTERNS[cls].replace("'", "''")
    return f"len(regexp_extract_all(text, '{pat}'))"


@register(
    "pii_scan_stats",
    oracle=f"""
WITH enriched AS ({_ENRICH_SQL}),
scored AS (
  SELECT lang,
    {_duck_count('email')} AS n_email,
    {_duck_count('ssn')} AS n_ssn,
    {_duck_count('phone')} AS n_phone,
    {_duck_count('ipv4')} AS n_ipv4
  FROM enriched
)
SELECT lang, COUNT(*) AS docs_scanned,
  CAST(SUM(CASE WHEN n_email + n_ssn + n_phone + n_ipv4 > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
  CAST(SUM(n_email) AS BIGINT) AS total_email,
  CAST(SUM(n_ssn) AS BIGINT) AS total_ssn,
  CAST(SUM(n_phone) AS BIGINT) AS total_phone,
  CAST(SUM(n_ipv4) AS BIGINT) AS total_ipv4
FROM scored GROUP BY lang ORDER BY lang
""",
    doc="PII scan: per-language document and match counts for "
    "email/SSN/phone/IPv4 patterns (operators/pii.py — native "
    "regexp_count, zero shuffle before the 5-group aggregate).  The "
    "deterministic doc_id-derived enrichment gives every pattern real "
    "positives; the oracle recounts with regexp_extract_all.",
    tags=("pii", "text", "extension", "headline"),
)
def pii_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = with_pii_counts(_enriched(spark, sf_dir))
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("docs_scanned"),
            F.sum(F.col("has_pii").cast("int")).alias("docs_with_pii"),
            F.sum("n_email").alias("total_email"),
            F.sum("n_ssn").alias("total_ssn"),
            F.sum("n_phone").alias("total_phone"),
            F.sum("n_ipv4").alias("total_ipv4"),
        )
        .orderBy("lang")
    )


def _duck_redact() -> str:
    out = "text"
    from diabetes_etl_spark.operators.pii import REDACTION_TOKENS

    for name, pat in PII_PATTERNS.items():
        esc = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{esc}', '{REDACTION_TOKENS[name]}', 'g')"
    return out


@register(
    "pii_redaction_stats",
    oracle=f"""
WITH enriched AS ({_ENRICH_SQL}),
red AS (
  SELECT lang, text, {_duck_redact()} AS redacted FROM enriched
)
SELECT lang,
  CAST(SUM(CASE WHEN redacted <> text THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_redacted,
  CAST(SUM(length(text) - length(redacted)) AS BIGINT) AS chars_delta,
  CAST(SUM({_duck_count('email')
           .replace('(text,', '(redacted,')}) AS BIGINT)
    AS residual_email
FROM red GROUP BY lang ORDER BY lang
""",
    doc="PII redaction round trip: every match replaced with its class "
    "token (chained regexp_replace — one codegen projection), then "
    "per-language counts of altered docs, net length change, and "
    "residual email matches (zero by construction: the oracle "
    "recomputes all three from its own 'g'-flagged replacements, so "
    "an under-redaction on either engine breaks the hash).",
    tags=("pii", "text", "extension"),
    extended=True,
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    enriched = _enriched(spark, sf_dir)
    red = enriched.withColumn("redacted", redact_pii(F.col("text")))
    residual = F.regexp_count(F.col("redacted"), F.lit(PII_PATTERNS["email"]))
    return (
        red.groupBy("lang")
        .agg(
            F.sum((F.col("redacted") != F.col("text")).cast("int")).alias(
                "docs_redacted"
            ),
            F.sum(F.length("text") - F.length("redacted")).alias("chars_delta"),
            F.sum(residual).alias("residual_email"),
        )
        .orderBy("lang")
    )


_KANON_K = 5

_KANON_ORACLE = f"""
SELECT c_nationkey, c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(DISTINCT c_acctbal < 0) AS BIGINT) AS l_diversity,
  COUNT(*) < {_KANON_K} AS is_risky,
  COUNT(DISTINCT c_acctbal < 0) <= 1 AS is_homogeneous
FROM (SELECT c_nationkey, c_mktsegment, c_acctbal FROM customer)
GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""


@register(
    "pii_kanonymity_customer",
    oracle=_KANON_ORACLE,
    doc=f"k-anonymity / l-diversity release-gate profile "
    "(operators/pii.py:kanonymity_profile): customer rows grouped by "
    "the quasi-identifier pair (nation, market segment) — groups "
    f"under k={_KANON_K} rows are re-identifiable by join with any "
    "public table carrying the same attributes, and groups where "
    "every member shares the sensitive in-debt flag leak it outright "
    "even when k-anonymous (the homogeneity attack).  One "
    "map-side-combined groupBy; suppression is the caller's policy "
    "filter on the emitted flags.",
    tags=("privacy", "governance", "extension"),
    extended=True,
)
def pii_kanonymity_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.pii import kanonymity_profile

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_acctbal") < 0).alias("in_debt"),
    )
    return kanonymity_profile(
        cust, ["c_nationkey", "c_mktsegment"], _KANON_K,
        sensitive_col="in_debt",
    ).orderBy("c_nationkey", "c_mktsegment")


# -- differential privacy: seeded Laplace counts (round 9) ---------------------

_DP_EPS = 1.0  # budget per release; sensitivity of a count is 1


@register(
    "pii_dp_noisy_counts",
    oracle=f"""
WITH g AS (
  SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY c_nationkey
),
u AS (
  SELECT c_nationkey, n,
    CAST(('0x' || substr(md5('dp#' || CAST(c_nationkey AS VARCHAR)),
      1, 8))::BIGINT AS DOUBLE) / 4294967296.0 AS uu
  FROM g
)
SELECT c_nationkey,
  ROUND(n + (CASE WHEN uu < 0.5 THEN 1 ELSE -1 END)
    * (CAST(1 AS DOUBLE) / {_DP_EPS!r})
    * ROUND(LN(CASE WHEN uu < 0.5 THEN 2 * uu
                    ELSE 2 * (1 - uu) END), 9), 6) AS noisy_count
FROM u
ORDER BY c_nationkey
""",
    doc="Differentially-private count release (Laplace mechanism, "
    "eps=1, count sensitivity 1): per-nation customer counts plus "
    "Laplace(1/eps) noise drawn by INVERSE CDF from a SEEDED "
    "md5-prefix uniform — the reproducible-DP pattern production "
    "pipelines use so a re-run releases the SAME noisy values "
    "instead of leaking extra budget through fresh randomness "
    "(each release key gets one fixed draw; a new release must "
    "change the seed string and spend new budget).  The one libm "
    "call (ln) quantizes to 9 decimals (the BM25 precedent) so both "
    "engines emit identical noise; sign and magnitude derive from "
    "the same u.  Scale: the noise attaches to the GROUPED table — "
    "one aggregate pass, O(groups) epilogue.",
    tags=("pii", "privacy", "dp", "extension"),
    extended=True,
)
def pii_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n"))
    uu = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp#"),
                        F.col("c_nationkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    w = g.withColumn("uu", uu)
    sign = F.when(F.col("uu") < 0.5, F.lit(1)).otherwise(F.lit(-1))
    mag = F.round(
        F.log(
            F.when(F.col("uu") < 0.5, 2 * F.col("uu")).otherwise(
                2 * (F.lit(1.0) - F.col("uu"))
            )
        ),
        9,
    )
    return w.select(
        "c_nationkey",
        F.round(
            F.col("n") + sign * (F.lit(1.0) / F.lit(_DP_EPS)) * mag, 6
        ).alias("noisy_count"),
    ).orderBy("c_nationkey")


# -- t-closeness release gate (round 13) -------------------------------------

_TCLOSE_BINS = 10
_TCLOSE_T = 0.2


@register(
    "pii_tcloseness_customer",
    oracle=f"""
WITH bounds AS (
  SELECT MIN(c_acctbal) AS mn, MAX(c_acctbal) AS mx,
    COUNT(*) AS n_tot
  FROM customer
),
binned AS (
  SELECT c_nationkey, c_mktsegment, n_tot,
    CAST(CASE WHEN mx > mn THEN
      LEAST({_TCLOSE_BINS - 1},
            CAST(floor((c_acctbal - mn) / (mx - mn)
                       * {_TCLOSE_BINS}) AS BIGINT))
      ELSE 0 END AS INT) AS b
  FROM customer, bounds
),
spine AS (SELECT CAST(unnest(range(0, {_TCLOSE_BINS})) AS INT) AS b),
gdist AS (
  SELECT s.b, CAST(COALESCE(g.g, 0) AS BIGINT) AS g
  FROM spine s LEFT JOIN
    (SELECT b, COUNT(*) AS g FROM binned GROUP BY b) g ON g.b = s.b
),
grp_tot AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_grp
  FROM binned GROUP BY 1, 2
),
cnts AS (
  SELECT c_nationkey, c_mktsegment, b, COUNT(*) AS c
  FROM binned GROUP BY 1, 2, 3
),
dense AS (
  SELECT gt.c_nationkey, gt.c_mktsegment, gt.n_grp, s.b,
    CAST(COALESCE(c.c, 0) AS BIGINT) AS c, gl.g, bo.n_tot
  FROM grp_tot gt
  CROSS JOIN spine s
  LEFT JOIN cnts c ON c.c_nationkey = gt.c_nationkey
    AND c.c_mktsegment = gt.c_mktsegment AND c.b = s.b
  JOIN gdist gl ON gl.b = s.b
  CROSS JOIN bounds bo
),
cum AS (
  SELECT c_nationkey, c_mktsegment, n_grp, n_tot, b,
    SUM(CAST(c AS HUGEINT) * n_tot - CAST(g AS HUGEINT) * n_grp)
      OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY b
            ROWS UNBOUNDED PRECEDING) AS cum
  FROM dense
),
emd AS (
  SELECT c_nationkey, c_mktsegment, n_grp, n_tot,
    SUM(ABS(cum)) AS emd_num
  FROM cum GROUP BY 1, 2, 3, 4
)
SELECT c_nationkey, c_mktsegment,
  CAST(n_grp AS BIGINT) AS n_rows,
  ROUND(CAST(emd_num AS DOUBLE) / n_grp / n_tot
        / {_TCLOSE_BINS - 1}, 9) AS t_closeness,
  ROUND(CAST(emd_num AS DOUBLE) / n_grp / n_tot
        / {_TCLOSE_BINS - 1}, 9) > {_TCLOSE_T} AS is_violating
FROM emd
ORDER BY c_nationkey, c_mktsegment
""",
    doc="t-closeness release-gate profile (Li, Li & "
    "Venkatasubramanian 2007; operators/pii.py:tcloseness_profile): "
    "per (nation, market segment) QI group, the Earth-Mover's "
    "Distance between the group's account-balance decile "
    "distribution and the global one on the ordered 10-bucket "
    "domain — the skew/similarity attack k-anonymity and "
    "l-diversity miss.  Cumulative differences cross-multiply to "
    "exact DECIMAL(38,0)/HUGEINT integers (the last bucket's "
    "cumulative is identically zero — a built-in fold checksum), so "
    f"t is ONE pinned division chain; flag at t > {_TCLOSE_T}.  "
    "Completes the privacy family: PII scan/redaction, k-anonymity, "
    "l-diversity, DP counts, t-closeness.  Scale: two map-side-"
    "combined aggregates, a broadcast 10-row bucket spine, windows "
    "per group over 10 rows.",
    tags=("privacy", "governance", "statistics", "extension"),
    extended=True,
)
def pii_tcloseness_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from diabetes_etl_spark.operators.pii import tcloseness_profile

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    bounds = cust.agg(
        F.min("c_acctbal").alias("mn"), F.max("c_acctbal").alias("mx")
    )
    binned = cust.crossJoin(F.broadcast(bounds)).select(
        "c_nationkey",
        "c_mktsegment",
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.lit(_TCLOSE_BINS - 1),
                F.floor(
                    (F.col("c_acctbal") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * F.lit(_TCLOSE_BINS)
                ),
            ),
        )
        .otherwise(0)
        .cast("int")
        .alias("bucket"),
    )
    return tcloseness_profile(
        binned,
        ["c_nationkey", "c_mktsegment"],
        m=_TCLOSE_BINS,
        t_threshold=_TCLOSE_T,
    ).orderBy("c_nationkey", "c_mktsegment")
