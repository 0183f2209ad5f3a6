"""PII detection and redaction over text columns — all native
``pyspark.sql.functions`` regexp expressions (JVM-side, whole-stage
codegen; no Python in the hot path).

A training-data pipeline scrubs personally identifying strings before
anything ships to a tokenizer; the operators here are the standard
regex tier (emails, phone numbers, IPv4 addresses, US-SSN-shaped ids).
Patterns are deliberately written in the common subset of Java regex
(Spark) and RE2 (DuckDB/Go scanners) so one pattern string serves the
engine, the oracle, and any sidecar scanner:

- no backreferences, no lookaround (RE2 has neither);
- character classes / bounded repetition / non-capturing groups only.

Scale notes: detection and redaction are row-local ``regexp_count`` /
``regexp_replace`` projections — no shuffle, no UDF, fully pipelined
into whatever scan feeds them.  At 100 TB the cost is one pass over
the text bytes; the regex NFA is compiled once per task, not per row.

Reference: the reference pipeline has no PII surface (its input is a
768-row clinical CSV with no free text); this module is part of the
LLM-pipeline extension tier (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Pattern order matters for redaction: SSN before phone (both are
# digit-dash shapes; SSN's 3-2-4 grouping must not be half-eaten by a
# phone match), email before ipv4 (dotted hostnames contain
# digit-dot runs).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\+?\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}

REDACTION_TOKENS: dict[str, str] = {
    "email": "<EMAIL>",
    "ssn": "<SSN>",
    "phone": "<PHONE>",
    "ipv4": "<IP>",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-class match-count columns for ``text`` (regexp_count —
    one pass per pattern, zero shuffle)."""
    return {
        f"n_{name}": F.regexp_count(text, F.lit(pat))
        for name, pat in PII_PATTERNS.items()
    }


def with_pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` + ``n_email/n_ssn/n_phone/n_ipv4`` + ``has_pii``."""
    counts = pii_counts(F.col(text_col))
    out = df.withColumns(counts)
    any_pii = None
    for c in counts:
        term = F.col(c) > 0
        any_pii = term if any_pii is None else (any_pii | term)
    return out.withColumn("has_pii", any_pii)


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its class token, in the documented
    pattern order.  Chained regexp_replace stays a single projection
    (Catalyst collapses the chain into one codegen stage)."""
    out = text
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, REDACTION_TOKENS[name])
    return out


def kanonymity_profile(
    df: DataFrame,
    quasi_cols: list[str],
    k: int,
    sensitive_col: str | None = None,
) -> DataFrame:
    """Per-quasi-identifier-combination re-identification risk profile
    — the release-gate check for sharing a "de-identified" table
    (Sweeney's k-anonymity): a QI combination matching fewer than
    ``k`` rows singles its members out by join with any public
    dataset carrying the same attributes.

    Output per QI group: ``n_rows``, ``is_risky`` (n < k), and — when
    ``sensitive_col`` is given — ``l_diversity`` (distinct sensitive
    values in the group) with ``is_homogeneous`` (l = 1): a group can
    be k-anonymous yet still leak the sensitive attribute outright
    when every member shares it (the homogeneity attack l-diversity
    exists to catch).

    Scale shape: ONE map-side-combined groupBy on the QI columns
    (count + conditional distinct) — the same single exchange any
    release-audit aggregation needs; no self-joins, no driver state.
    Suppression/generalization is the caller's policy decision —
    filter on the flags this emits.
    """
    aggs = [F.count("*").alias("n_rows")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col)).alias("l_diversity")
        )
    out = df.groupBy(*quasi_cols).agg(*aggs)
    out = out.withColumn("is_risky", F.col("n_rows") < k)
    if sensitive_col is not None:
        out = out.withColumn("is_homogeneous", F.col("l_diversity") <= 1)
    return out


def tcloseness_profile(
    df: DataFrame,
    quasi_cols: list[str],
    bucket_col: str = "bucket",
    m: int = 10,
    t_threshold: float = 0.2,
) -> DataFrame:
    """Per-QI-group t-closeness over an ORDERED sensitive attribute
    (Li, Li & Venkatasubramanian 2007): the Earth-Mover's Distance
    between the group's sensitive-value distribution and the global
    one, on an ordinal domain of ``m`` buckets with unit spacing —
    EMD = sum_b |cum_b(p - q)| / (m-1).  The privacy property
    k-anonymity and l-diversity still miss: a group can be diverse
    yet SKEWED (all its salaries in the top buckets), and proximity
    on an ordered domain leaks (the similarity attack).

    Exactness: with group size n_g and table size N, every
    cumulative difference cross-multiplies to the exact integer
    cum_b = sum_{j<=b} (c_j*N - g_j*n_g) folded in DECIMAL(38,0)
    (headroom: c*N <= 1e24 at 1e12 rows), so EMD's numerator is
    exact and t = EMD needs ONE final division chain, 9dp-rounded.
    The last bucket's cumulative difference is identically zero —
    a built-in checksum of the fold.

    Scale shape: two map-side-combined aggregates (global buckets,
    group x bucket counts), a dense group x m grid from a broadcast
    m-row spine, and windows partitioned per group over those m
    rows.  No self-joins, no corpus windows."""
    spine = df.sparkSession.range(m).select(
        F.col("id").cast("int").alias("b")
    )
    tot = df.agg(F.count(F.lit(1)).alias("n_tot"))
    glob = (
        spine.join(
            df.groupBy(F.col(bucket_col).alias("b")).agg(
                F.count(F.lit(1)).alias("g")
            ),
            "b",
            "left",
        )
        .select("b", F.coalesce("g", F.lit(0)).alias("g"))
    )
    grp_tot = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("n_grp")
    )
    cnts = df.groupBy(
        *quasi_cols, F.col(bucket_col).alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))
    dense = (
        grp_tot.crossJoin(F.broadcast(spine))
        .join(cnts, [*quasi_cols, "b"], "left")
        .select(
            *quasi_cols,
            "n_grp",
            "b",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
        .join(F.broadcast(glob), "b")
        .crossJoin(F.broadcast(tot))
    )
    dq = "decimal(38,0)"
    term = F.col("c").cast(dq) * F.col("n_tot").cast(dq) - F.col(
        "g"
    ).cast(dq) * F.col("n_grp").cast(dq)
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*quasi_cols)
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dense.select(
        *quasi_cols,
        "n_grp",
        "n_tot",
        "b",
        F.sum(term).over(w).alias("cum"),
    )
    emd = cum.groupBy(*quasi_cols, "n_grp", "n_tot").agg(
        F.sum(F.abs(F.col("cum"))).alias("emd_num")
    )
    t = F.round(
        F.col("emd_num").cast("double")
        / F.col("n_grp")
        / F.col("n_tot")
        / F.lit(m - 1),
        9,
    )
    return emd.select(
        *quasi_cols,
        F.col("n_grp").cast("long").alias("n_rows"),
        t.alias("t_closeness"),
        (t > F.lit(t_threshold)).alias("is_violating"),
    )
