"""Inference classes the A/B battery lacked (round 11): multiplicity
control (Benjamini-Hochberg FDR across the per-event-type tests),
always-valid sequential monitoring (mixture SPRT over the daily
accumulation path), and observational causal effect estimation
(stratified + inverse-propensity-weighted ATE when assignment is NOT
randomized).

Determinism notes shared by all three:

- Exact integer counts / decimal folds up to a pinned-order double
  epilogue (the house convention).
- The normal TAIL probability needed by BH uses the Abramowitz &
  Stegun 7.1.26 polynomial (max abs error 1.5e-7) instead of libm
  erf — pure arithmetic plus ONE exp call whose input and output are
  9/7-decimal quantized (the sigmoid_q precedent in
  operators/classifier.py), so both engines see identical doubles.
- The mSPRT statistic is reported as ln(Lambda) — no exp at all; ln's
  argument and result are 9-decimal quantized (the bigram-LM
  ln-quantization precedent).

Everything runs on bounded spines: the 5-row event-type grid, the
O(days) daily path, the fixed 4-bucket activity strata.  Events are
touched once per query.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diabetes_etl_spark.functions.stats import exact_var, sql_exact_var
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

_SQRT2 = 1.4142135623730951
_BH_ALPHA = 0.05
# mSPRT mixture prior variance (rate-difference units) — fixed tuning
# constant, part of the test's definition
_MSPRT_TAU2 = 0.0001
_MSPRT_ALPHA = 0.05
_MSPRT_LN_BOUND = math.log(1.0 / _MSPRT_ALPHA)


def _variant_col(c, mod: int = 2):
    """Portable md5-prefix hash bucketing — the ONE assignment hash
    every randomized design in this module shares (mod=2 variants,
    mod=4 campaign arms), so a hash fix cannot decorrelate them."""
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % mod
    )


def _phi_tail_spark(absz):
    """Two-sided normal p-value 2*(1 - Phi(|z|)) = 1 - erf(|z|/sqrt 2)
    via A&S 7.1.26 — identical Horner chain and quantization as the
    oracle SQL."""
    x = F.round(absz / _SQRT2, 9)
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = (
        (
            (
                (1.061405429 * t - 1.453152027) * t + 1.421413741
            )
            * t
            - 0.284496736
        )
        * t
        + 0.254829592
    ) * t
    return F.round(poly * F.exp(F.round(-(x * x), 9)), 7)


_PHI_TAIL_SQL = """ROUND(
  ((((((1.061405429 * {t} - 1.453152027) * {t} + 1.421413741) * {t}
      - 0.284496736) * {t} + 0.254829592) * {t}))
  * EXP(ROUND(-({x} * {x}), 9)), 7)"""


def _phi_tail_sql(absz_expr: str) -> str:
    x = f"ROUND(({absz_expr}) / {_SQRT2}, 9)"
    t = f"(CAST(1.0 AS DOUBLE) / (1.0 + 0.3275911 * {x}))"
    return _PHI_TAIL_SQL.format(t=t, x=x)


# -- Benjamini-Hochberg FDR across the per-event-type engagement tests ---------


def _fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # per-user per-type event counts; users WITHOUT a type contribute
    # zero to the sums and enter only through the variant user total —
    # the implicit-zero trick that avoids a users x types grid
    pu = ev.groupBy(
        _variant_col(F.col("user_id")).alias("variant"),
        "user_id",
        "event_type",
    ).agg(F.count(F.lit(1)).alias("c"))
    per = pu.groupBy("event_type", "variant").agg(
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    tot = (
        ev.select(
            _variant_col(F.col("user_id")).alias("variant"), "user_id"
        )
        .distinct()
        .groupBy("variant")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        per.join(F.broadcast(tot), "variant")
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("variant") == 0, F.col("s1"))).alias("s1_a"),
            F.max(F.when(F.col("variant") == 0, F.col("s2"))).alias("s2_a"),
            F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
            F.max(F.when(F.col("variant") == 1, F.col("s1"))).alias("s1_b"),
            F.max(F.when(F.col("variant") == 1, F.col("s2"))).alias("s2_b"),
            F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        )
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    m_a = F.col("s1_a").cast("double") / n_a
    m_b = F.col("s1_b").cast("double") / n_b
    # cancellation-proof fold (round-11 VERDICT "What's wrong #2"):
    # numerator n*s2 - s1^2 exact in DECIMAL(38,0)/HUGEINT, one
    # double cast — functions/stats.py, mirrored in the oracle
    var_a = exact_var(F.col("s1_a"), F.col("s2_a"), n_a)
    var_b = exact_var(F.col("s1_b"), F.col("s2_b"), n_b)
    se2 = var_a / n_a + var_b / n_b
    ok = (n_a > 1) & (n_b > 1) & (se2 > 0)
    z = F.when(ok, F.round((m_b - m_a) / F.sqrt(se2), 9))
    scored = w.select(
        "event_type",
        F.col("s1_a").cast("long").alias("events_a"),
        F.col("s1_b").cast("long").alias("events_b"),
        z.alias("z_rate"),
        F.when(ok, _phi_tail_spark(F.abs(z))).alias("p_two"),
    )
    wr = Window.orderBy(F.col("p_two").asc_nulls_last(), "event_type")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = scored.select(
        "*",
        F.row_number().over(wr).alias("rank"),
        F.count(F.lit(1)).over(wall).alias("m"),
    ).select(
        "*",
        F.round(
            F.col("rank") * _BH_ALPHA / F.col("m"), 9
        ).alias("bh_threshold"),
    )
    kstar = ranked.select(
        "*",
        F.max(
            F.when(
                F.col("p_two") <= F.col("bh_threshold"), F.col("rank")
            )
        )
        .over(wall)
        .alias("k_star"),
    )
    return kstar.select(
        "event_type",
        "events_a",
        "events_b",
        "z_rate",
        "p_two",
        F.col("rank").cast("int").alias("rank"),
        "bh_threshold",
        F.coalesce(
            F.col("rank") <= F.col("k_star"), F.lit(False)
        ).alias("rejected"),
    ).orderBy("rank")


register(
    "events_ab_fdr_bh",
    oracle=f"""
WITH pu AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      ::BIGINT % 2 AS INT) AS variant,
    user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2, 3
),
per AS (
  SELECT event_type, variant, SUM(c) AS s1, SUM(c * c) AS s2
  FROM pu GROUP BY event_type, variant
),
tot AS (
  SELECT variant, COUNT(*) AS n FROM (
    SELECT DISTINCT
      CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
        ::BIGINT % 2 AS INT) AS variant, user_id
    FROM events
  ) GROUP BY variant
),
w AS (
  SELECT p.event_type,
    MAX(CASE WHEN p.variant = 0 THEN p.s1 END) AS s1_a,
    MAX(CASE WHEN p.variant = 0 THEN p.s2 END) AS s2_a,
    MAX(CASE WHEN p.variant = 0 THEN t.n END) AS n_a,
    MAX(CASE WHEN p.variant = 1 THEN p.s1 END) AS s1_b,
    MAX(CASE WHEN p.variant = 1 THEN p.s2 END) AS s2_b,
    MAX(CASE WHEN p.variant = 1 THEN t.n END) AS n_b
  FROM per p JOIN tot t ON p.variant = t.variant
  GROUP BY p.event_type
),
d AS (
  SELECT event_type, s1_a, s1_b, n_a, n_b,
    CAST(s1_a AS DOUBLE) / n_a AS m_a,
    CAST(s1_b AS DOUBLE) / n_b AS m_b,
    {sql_exact_var("s1_a", "s2_a", "n_a")} / n_a
    + {sql_exact_var("s1_b", "s2_b", "n_b")} / n_b AS se2
  FROM w
),
scored AS (
  SELECT event_type,
    CAST(s1_a AS BIGINT) AS events_a, CAST(s1_b AS BIGINT) AS events_b,
    CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0
      THEN ROUND((m_b - m_a) / SQRT(se2), 9) END AS z_rate
  FROM d
),
pd AS (
  SELECT event_type, events_a, events_b, z_rate,
    CASE WHEN z_rate IS NOT NULL
      THEN {_phi_tail_sql("ABS(z_rate)")} END AS p_two
  FROM scored
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (ORDER BY p_two ASC NULLS LAST, event_type)
      AS rank,
    COUNT(*) OVER () AS m
  FROM pd
),
thr AS (
  SELECT *, ROUND(rank * {_BH_ALPHA} / m, 9) AS bh_threshold FROM ranked
),
ks AS (
  SELECT *, MAX(CASE WHEN p_two <= bh_threshold THEN rank END) OVER ()
    AS k_star
  FROM thr
)
SELECT event_type, events_a, events_b, z_rate, p_two,
  CAST(rank AS INT) AS rank, bh_threshold,
  COALESCE(rank <= k_star, FALSE) AS rejected
FROM ks ORDER BY rank
""",
    doc="Benjamini-Hochberg FDR control across the per-event-type "
    "engagement tests — the MULTIPLICITY layer every real experiment "
    "readout needs once it reports more than one metric (5 "
    "event-type engagement rates here; naive per-metric 5% testing "
    "inflates the family-wise false-positive rate): a two-sample z "
    "per type on per-user event-count MEANS with unpooled per-arm "
    "s^2/n variance (users without the type contribute implicit "
    "zeros through the variant user total), the variances through "
    "the cancellation-proof exact-numerator fold "
    "(functions/stats.py:exact_var — n*s2 - s1^2 in DECIMAL(38,0)/"
    "HUGEINT, one double cast), two-sided p-values from the A&S "
    "7.1.26 normal-tail POLYNOMIAL (no libm erf — pure Horner "
    "arithmetic + one input/output-quantized exp, mirrored literally "
    "in the oracle), then the BH step-up rule p_(k) <= k*alpha/m via "
    "two windows over the 5-row metric table.  Scale: one distinct + "
    "two grouped passes over events; every window rides the "
    "event-type grid (bounded by the type vocabulary, not the "
    "corpus).",
    tags=(
        "events", "ab-testing", "statistics", "multiplicity", "extension",
        "headline",
    ),
)(_fdr_bh)


# -- always-valid sequential monitoring: mixture SPRT over the daily path ------


def _msprt_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (d, variant, n, x) daily trial grid — ONE definition
    shared by the batch mSPRT and the confidence-sequence inversion
    (the _PER_USER_SQL precedent: a change to the trial/metric
    definition cannot silently skew one monitor against the other;
    the streaming twin maintains the same grid as a streaming
    aggregate in _stream_msprt_monitor)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
        _variant_col(F.col("user_id")).alias("variant"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x"),
    )


def _msprt_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _msprt_epilogue(_msprt_daily(spark, sf_dir))


def _msprt_cum(daily: DataFrame) -> DataFrame:
    """The cumulative (day, cn_a, cx_a, cn_b, cx_b) accumulation path
    from a (d, variant, n, x) daily grid — shared by the mSPRT test,
    the streaming monitor, and the confidence-sequence inversion."""
    g = daily.groupBy("d").agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("x"))).alias("x_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("x"))).alias("x_b"),
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        "d",
        F.sum(F.coalesce(F.col("n_a"), F.lit(0))).over(wc).alias("cn_a"),
        F.sum(F.coalesce(F.col("x_a"), F.lit(0))).over(wc).alias("cx_a"),
        F.sum(F.coalesce(F.col("n_b"), F.lit(0))).over(wc).alias("cn_b"),
        F.sum(F.coalesce(F.col("x_b"), F.lit(0))).over(wc).alias("cx_b"),
    ).where((F.col("cn_a") > 0) & (F.col("cn_b") > 0))


def _msprt_epilogue(daily: DataFrame) -> DataFrame:
    """The mSPRT path from a (d, variant, n, x) daily grid — shared
    by the batch query and the streaming monitor (whose grid arrives
    from a streaming aggregate snapshot)."""
    cum = _msprt_cum(daily)
    p_a = F.col("cx_a").cast("double") / F.col("cn_a")
    p_b = F.col("cx_b").cast("double") / F.col("cn_b")
    pool = (F.col("cx_a") + F.col("cx_b")).cast("double") / (
        F.col("cn_a") + F.col("cn_b")
    )
    var_d = pool * (1 - pool) * (
        1.0 / F.col("cn_a") + 1.0 / F.col("cn_b")
    )
    # information V = 1/Var(diff); mixture-likelihood ratio in LOG
    # form (no exp): lnLam = -0.5*ln(1+V*tau2) + z^2/2 *
    # V*tau2/(1+V*tau2).  The 1+V*tau2 argument GROWS with V, so the
    # 9-decimal ln quantization never rounds it to zero (the inverted
    # form 1/(1+V*tau2) would underflow the quantization once V*tau2
    # > ~2e9 — Spark ln(0) = NULL, DuckDB LN(0) errors); a
    # zero-variance day (no purchases yet in either arm) NULLs the
    # whole row's statistics via the ok guard, never fabricates.
    ok = var_d > 0
    v = 1.0 / var_d
    z = F.when(ok, F.round((p_b - p_a) / F.sqrt(var_d), 9))
    rho = v * _MSPRT_TAU2 / (1.0 + v * _MSPRT_TAU2)
    lnlam = F.when(
        ok,
        F.round(
            -0.5 * F.log(F.round(1.0 + v * _MSPRT_TAU2, 9))
            + z * z / 2 * rho,
            9,
        ),
    )
    # a zero-information day (no trials/conversions yet) cannot
    # cross: FALSE, not NULL (mirrored in the oracle epilogue)
    crossed = F.coalesce(
        F.when(ok, lnlam > F.lit(_MSPRT_LN_BOUND)), F.lit(False)
    )
    out = cum.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("cn_a").cast("long").alias("cum_n_a"),
        F.col("cn_b").cast("long").alias("cum_n_b"),
        F.col("cx_a").cast("long").alias("cum_purch_a"),
        F.col("cx_b").cast("long").alias("cum_purch_b"),
        z.alias("z_t"),
        lnlam.alias("ln_lambda"),
        crossed.alias("crossed"),
    )
    wmono = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return out.select(
        "*",
        F.max(
            F.coalesce(F.col("crossed").cast("int"), F.lit(0))
        )
        .over(wmono)
        .cast("boolean")
        .alias("decided_by_day"),
    )


# The daily/g/cum accumulation-path CTEs — ONE SQL fragment shared by
# the mSPRT oracle and the confidence-sequence oracle (mirrors the
# _msprt_daily/_msprt_cum sharing on the Spark side).  The g/cum
# suffix is further shared with the USER-GRAIN grid builders (round
# 13), which swap only the daily CTE.
_MSPRT_GCUM_SQL = """g AS (
  SELECT d,
    SUM(CASE WHEN variant = 0 THEN n END) AS n_a,
    SUM(CASE WHEN variant = 0 THEN x END) AS x_a,
    SUM(CASE WHEN variant = 1 THEN n END) AS n_b,
    SUM(CASE WHEN variant = 1 THEN x END) AS x_b
  FROM daily GROUP BY d
),
cum AS (
  SELECT d,
    SUM(COALESCE(n_a, 0)) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
      AS cn_a,
    SUM(COALESCE(x_a, 0)) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
      AS cx_a,
    SUM(COALESCE(n_b, 0)) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
      AS cn_b,
    SUM(COALESCE(x_b, 0)) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
      AS cx_b
  FROM g
),"""

_MSPRT_CUM_SQL = f"""WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      ::BIGINT % 2 AS INT) AS variant,
    COUNT(*) AS n,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY 1, 2
),
{_MSPRT_GCUM_SQL}"""

# USER-GRAIN daily increment grid (round 13): n = users whose FIRST
# event lands on d (entry into the experiment), x = users whose first
# BIG purchase (value > 90 — the RMST/uplift conversion clock) lands
# on d.  Cumulated through the shared g/cum suffix this yields
# (cumulative distinct users exposed, cumulative users converted) by
# day — one Bernoulli trial per USER, the randomization unit.
_MSPRT_USER_CUM_SQL = f"""WITH fu AS (
  SELECT
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      ::BIGINT % 2 AS INT) AS variant,
    MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_day,
    MIN(CASE WHEN event_type = 'purchase' AND value > 90
        THEN CAST(date_trunc('day', ts) AS DATE) END) AS conv_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT d, variant, SUM(n) AS n, SUM(x) AS x FROM (
    SELECT first_day AS d, variant, 1 AS n, 0 AS x FROM fu
    UNION ALL
    SELECT conv_day AS d, variant, 0 AS n, 1 AS x FROM fu
    WHERE conv_day IS NOT NULL
  ) u GROUP BY d, variant
),
{_MSPRT_GCUM_SQL}"""


# The st/lam epilogue — shared verbatim by the event-grain and the
# user-grain mSPRT oracles (only the cum-building prefix differs).
_MSPRT_EPILOGUE_SQL = f"""st AS (
  SELECT d, cn_a, cn_b, cx_a, cx_b,
    CASE WHEN (CAST(cx_a AS DOUBLE) + cx_b) / (cn_a + cn_b)
             * (1 - (CAST(cx_a AS DOUBLE) + cx_b) / (cn_a + cn_b))
             * (CAST(1.0 AS DOUBLE) / cn_a
                + CAST(1.0 AS DOUBLE) / cn_b) > 0 THEN
    ROUND((CAST(cx_b AS DOUBLE) / cn_b - CAST(cx_a AS DOUBLE) / cn_a)
      / SQRT((CAST(cx_a AS DOUBLE) + cx_b) / (cn_a + cn_b)
             * (1 - (CAST(cx_a AS DOUBLE) + cx_b) / (cn_a + cn_b))
             * (CAST(1.0 AS DOUBLE) / cn_a
                + CAST(1.0 AS DOUBLE) / cn_b)), 9) END AS z_t,
    CASE WHEN (CAST(cx_a AS DOUBLE) + cx_b) / (cn_a + cn_b)
         * (1 - (CAST(cx_a AS DOUBLE) + cx_b) / (cn_a + cn_b))
         * (CAST(1.0 AS DOUBLE) / cn_a + CAST(1.0 AS DOUBLE) / cn_b)
         > 0 THEN
    CAST(1.0 AS DOUBLE)
      / ((CAST(cx_a AS DOUBLE) + cx_b) / (cn_a + cn_b)
         * (1 - (CAST(cx_a AS DOUBLE) + cx_b) / (cn_a + cn_b))
         * (CAST(1.0 AS DOUBLE) / cn_a + CAST(1.0 AS DOUBLE) / cn_b))
    END AS v
  FROM cum WHERE cn_a > 0 AND cn_b > 0
),
lam AS (
  SELECT strftime(d, '%Y-%m-%d') AS day,
    CAST(cn_a AS BIGINT) AS cum_n_a, CAST(cn_b AS BIGINT) AS cum_n_b,
    CAST(cx_a AS BIGINT) AS cum_purch_a,
    CAST(cx_b AS BIGINT) AS cum_purch_b,
    z_t,
    CASE WHEN z_t IS NOT NULL THEN
    ROUND(-0.5 * LN(ROUND(1.0 + v * {_MSPRT_TAU2}, 9))
          + z_t * z_t / 2
            * (v * {_MSPRT_TAU2} / (1.0 + v * {_MSPRT_TAU2})), 9)
    END AS ln_lambda
  FROM st
)
SELECT day, cum_n_a, cum_n_b, cum_purch_a, cum_purch_b, z_t,
  ln_lambda,
  COALESCE(CASE WHEN ln_lambda IS NOT NULL
    THEN ln_lambda > LN(CAST(1.0 AS DOUBLE) / {_MSPRT_ALPHA}) END,
    FALSE) AS crossed,
  CAST(MAX(CASE WHEN ln_lambda
        > LN(CAST(1.0 AS DOUBLE) / {_MSPRT_ALPHA}) THEN 1 ELSE 0 END)
    OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BOOLEAN)
    AS decided_by_day
FROM lam ORDER BY day
"""

_MSPRT_ORACLE = f"""\n{_MSPRT_CUM_SQL}\n{_MSPRT_EPILOGUE_SQL}"""

register(
    "events_ab_sequential_msprt",
    oracle=_MSPRT_ORACLE,
    doc="Always-valid sequential A/B monitoring — the mixture "
    "sequential probability ratio test (mSPRT; Johari/Pekelis/"
    "Walsh's always-valid inference, Deng et al.'s continuous "
    "monitoring form) over the DAILY accumulation path of the "
    "purchase-rate difference: fixed-horizon z-tests are invalid "
    "under daily peeking (the universal practice), the mSPRT's "
    "likelihood-ratio boundary ln(Lambda_t) > ln(1/alpha) holds "
    "type-I error at alpha for ALL stopping times.  Lambda has the "
    "closed normal-mixture form sqrt(1/(1+V tau^2)) * "
    "exp(z^2/2 * V tau^2/(1+V tau^2)) with V the cumulative Fisher "
    "information of the pooled two-proportion variance; reported in "
    "LOG form (no exp anywhere; ln input/output 9-decimal quantized "
    "— the bigram-LM precedent), with the monotone decided-by-day "
    "flag as a cumulative-max window.  GRAIN: the trial unit here is "
    "the EVENT row while randomization is per user, so this form is "
    "the documented event-level-iid FIXTURE TWIN; the production "
    "monitor is events_ab_msprt_users / stream_msprt_monitor_users "
    "(round 13), which feeds the SAME epilogue a per-USER trial grid "
    "so the randomization unit is the analysis unit and the "
    "always-valid guarantee needs no iid caveat.  Scale: one grouped "
    "pass to the (day x variant) grid; every window rides the "
    "O(days) spine.",
    tags=("events", "ab-testing", "sequential", "statistics", "extension"),
    extended=True,
)(_msprt_path)


# -- user-grain mSPRT: the production monitor (round 13) ------------------------
#
# Round-12 VERDICT "What's wrong #1": the event-grain monitor counts
# EVENT rows as trials while randomization is per user, so its
# always-valid guarantee held only under a documented event-level-iid
# reading (within-user correlation makes the nominal variance
# optimistic).  The production form aggregates trials at USER grain —
# a user ENTERS the experiment on the day of their first event
# (cumulative n = distinct users exposed) and CONVERTS on the day of
# their first big purchase (value > 90, the RMST/uplift conversion
# clock; plain "ever purchased" saturates at p = 1 under the
# fixture's every-user-purchases degeneracy).  Each user is one
# Bernoulli trial whose outcome flips 0 -> 1 at conversion — exactly
# the cumulative visitors-vs-conversions grid of Johari et al.'s
# always-valid inference — so the randomization unit IS the analysis
# unit and no validity caveat is needed.  Grid rows exist on days
# where a count changes; by the decided-by-day monotone flag the
# decision on any intermediate day is the previous row's.


def _msprt_user_per_user(ev: DataFrame) -> DataFrame:
    """(variant, first_day, conv_day) per user — the first-touch
    relation (batch form; the streaming twin maintains the same
    min-aggregate as streaming state)."""
    day = F.date_trunc("day", F.col("ts")).cast("date")
    return ev.groupBy("user_id").agg(
        F.min(day).alias("first_day"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 90),
                day,
            )
        ).alias("conv_day"),
    ).select(
        _variant_col(F.col("user_id")).alias("variant"),
        "first_day",
        "conv_day",
    )


def _msprt_user_daily(per_user: DataFrame) -> DataFrame:
    """The (d, variant, n, x) USER-GRAIN daily increment grid from
    the first-touch relation: n counts users entering on d, x counts
    users converting on d.  Cumulating through _msprt_cum yields
    (distinct users exposed, users converted) by day."""
    entries = per_user.select(
        F.col("first_day").alias("d"),
        "variant",
        F.lit(1).alias("n"),
        F.lit(0).alias("x"),
    )
    convs = per_user.where(F.col("conv_day").isNotNull()).select(
        F.col("conv_day").alias("d"),
        "variant",
        F.lit(0).alias("n"),
        F.lit(1).alias("x"),
    )
    return (
        entries.unionByName(convs)
        .groupBy("d", "variant")
        .agg(F.sum("n").alias("n"), F.sum("x").alias("x"))
    )


def _msprt_users_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return _msprt_epilogue(_msprt_user_daily(_msprt_user_per_user(ev)))


_MSPRT_USERS_ORACLE = f"""
{_MSPRT_USER_CUM_SQL}
{_MSPRT_EPILOGUE_SQL}"""

register(
    "events_ab_msprt_users",
    oracle=_MSPRT_USERS_ORACLE,
    doc="USER-GRAIN mSPRT — the production always-valid monitor "
    "(round-12 verdict #2): cumulative distinct users exposed vs "
    "users converted (first big purchase, value > 90) by day, one "
    "Bernoulli trial per USER so the randomization unit is the "
    "analysis unit and the mSPRT's anytime guarantee applies with "
    "no iid caveat (Johari/Pekelis/Walsh's visitors-vs-conversions "
    "grid).  Shares the st/lam epilogue VERBATIM with the "
    "event-grain fixture twin (_msprt_epilogue / "
    "_MSPRT_EPILOGUE_SQL) and the same tau^2/alpha tuning — only "
    "the trial grid differs (first-touch min-aggregate instead of "
    "row counts).  cum_n_* here read as users, cum_purch_* as "
    "converters.  Scale: one user-grain grouped pass (map-side "
    "combinable min), a union of two O(users)->O(days) projections, "
    "then everything rides the O(days) spine.",
    tags=("events", "ab-testing", "sequential", "statistics", "extension"),
    extended=True,
)(_msprt_users_path)


# -- observational causal: stratified + IPW ATE --------------------------------

# fixed activity-stratum cuts (determinism: never quantile-derived;
# chosen around the stable ~66-events-per-user fixture center so all
# four strata are populated at every sf)
_STRATA_SQL = (
    "CASE WHEN y <= 60 THEN 0 WHEN y <= 66 THEN 1 "
    "WHEN y <= 72 THEN 2 ELSE 3 END"
)
# fixed treatment cut: a "heavy clicker" did >= this many click events
_TREAT_CLICKS = 14

# ONE per-user activity relation shared by the observational designs
# (IPW strata, RDD, IV) — Spark builder and oracle CTE side by side so
# a change to the treatment definition cannot silently skew one
# estimator relative to its siblings (round-11 review finding).
_PER_USER_SQL = """
  SELECT user_id, COUNT(*) AS y_events,
    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_clicks,
    SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
        ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(38,6))) AS revenue
  FROM events GROUP BY user_id
"""


def _per_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, y_events, n_clicks, revenue) — the exact mirror of
    ``_PER_USER_SQL``."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("y_events"),
        F.sum(
            (F.col("event_type") == "click").cast("int")
        ).alias("n_clicks"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value")
            ).otherwise(0.0).cast("decimal(38,6)")
        ).alias("revenue"),
    )


def _ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = _per_user_activity(spark, sf_dir).withColumnRenamed(
        "revenue", "outcome"
    )
    strata = per_user.select(
        (F.col("n_clicks") >= _TREAT_CLICKS).cast("int").alias("treated"),
        "outcome",
        F.expr(
            _STRATA_SQL.replace("y", "y_events")
        ).alias("stratum"),
    )
    per_s = strata.groupBy("stratum").agg(
        F.sum("treated").alias("nt"),
        F.sum(1 - F.col("treated")).alias("nc"),
        F.sum(
            F.when(F.col("treated") == 1, F.col("outcome")).otherwise(
                F.lit(0).cast("decimal(38,6)")
            )
        ).alias("syt"),
        F.sum(
            F.when(F.col("treated") == 0, F.col("outcome")).otherwise(
                F.lit(0).cast("decimal(38,6)")
            )
        ).alias("syc"),
    )
    nt, nc = F.col("nt"), F.col("nc")
    syt = F.col("syt").cast("double")
    syc = F.col("syc").cast("double")
    ns = nt + nc
    e = nt.cast("double") / ns
    ok = (nt > 0) & (nc > 0)
    agg = per_s.agg(
        F.sum(nt).alias("n_treat"),
        F.sum(nc).alias("n_ctrl"),
        F.sum(syt).alias("sy_treat"),
        F.sum(syc).alias("sy_ctrl"),
        F.sum(F.when(ok, ns)).alias("n_ok"),
        F.sum(
            F.when(ok, ns.cast("double") * (syt / nt - syc / nc))
        ).alias("strat_num"),
        F.sum(F.when(ok, syt / e - syc / (1 - e))).alias("ipw_num"),
    )
    naive = (
        F.col("sy_treat") / F.col("n_treat")
        - F.col("sy_ctrl") / F.col("n_ctrl")
    )
    return agg.select(
        F.col("n_treat").cast("long").alias("n_treat"),
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        F.round(naive, 9).alias("ate_naive"),
        F.round(F.col("strat_num") / F.col("n_ok"), 9).alias(
            "ate_stratified"
        ),
        F.round(F.col("ipw_num") / F.col("n_ok"), 9).alias("ate_ipw"),
    )


register(
    "events_ipw_stratified_ate",
    oracle=f"""
WITH per_user AS ({_PER_USER_SQL}),
strata AS (
  SELECT CASE WHEN n_clicks >= {_TREAT_CLICKS} THEN 1 ELSE 0 END
    AS treated,
    revenue AS outcome,
    {_STRATA_SQL.replace("y", "y_events")} AS stratum
  FROM per_user
),
per_s AS (
  SELECT stratum,
    SUM(treated) AS nt, SUM(1 - treated) AS nc,
    SUM(CASE WHEN treated = 1 THEN outcome
        ELSE CAST(0 AS DECIMAL(38,6)) END) AS syt,
    SUM(CASE WHEN treated = 0 THEN outcome
        ELSE CAST(0 AS DECIMAL(38,6)) END) AS syc
  FROM strata GROUP BY stratum
),
agg AS (
  SELECT SUM(nt) AS n_treat, SUM(nc) AS n_ctrl,
    SUM(CAST(syt AS DOUBLE)) AS sy_treat,
    SUM(CAST(syc AS DOUBLE)) AS sy_ctrl,
    SUM(CASE WHEN nt > 0 AND nc > 0 THEN nt + nc END) AS n_ok,
    SUM(CASE WHEN nt > 0 AND nc > 0 THEN
      CAST(nt + nc AS DOUBLE)
      * (CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / nc) END)
      AS strat_num,
    SUM(CASE WHEN nt > 0 AND nc > 0 THEN
      CAST(syt AS DOUBLE) / (CAST(nt AS DOUBLE) / (nt + nc))
      - CAST(syc AS DOUBLE)
        / (1 - CAST(nt AS DOUBLE) / (nt + nc)) END) AS ipw_num
  FROM per_s
)
SELECT CAST(n_treat AS BIGINT) AS n_treat,
  CAST(n_ctrl AS BIGINT) AS n_ctrl,
  ROUND(sy_treat / n_treat - sy_ctrl / n_ctrl, 9) AS ate_naive,
  ROUND(strat_num / n_ok, 9) AS ate_stratified,
  ROUND(ipw_num / n_ok, 9) AS ate_ipw
FROM agg
""",
    doc="Observational causal effect of heavy clicking on purchase "
    "revenue — the estimator class for when assignment is NOT "
    "randomized (every product question outside an A/B test): "
    "treatment = user made >= 14 click events (a fixed cut), outcome "
    "= per-user purchase revenue, confounder = total activity volume "
    "in FIXED strata (cuts 60/66/72 — never "
    "quantile-derived, so the stratification is a pure function of "
    "the row).  Reports the confounded naive difference, the "
    "stratified (blocked) ATE sum_s (n_s/N)(ybar_ts - ybar_cs), and "
    "the equivalent stratum-propensity IPW form sum_s (Syt/e_s - "
    "Syc/(1-e_s))/N — with e_s the exact within-stratum treatment "
    "share; strata missing a side drop from both estimators "
    "(positivity violation, the honest convention) while staying in "
    "the naive one.  DECIMAL-folded outcomes, exact integer counts, "
    "pinned double epilogue.  Scale: one user-grain pass, then the "
    "4-row stratum grid.",
    tags=("events", "causal", "statistics", "extension", "headline"),
    extended=True,
)(_ipw_ate)


# -- distributional effects: exact quantile treatment effects ------------------

_QTE_QS = (0.25, 0.5, 0.75, 0.9)


def _quantile_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    tagged = ev.select(
        _variant_col(F.col("user_id")).alias("variant"),
        F.col("value").alias("v"),
    )
    pts = tagged.groupBy("v").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("na_v"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("nb_v"),
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    spine = pts.select(
        "v",
        F.sum("na_v").over(wc).alias("ca"),
        F.sum("nb_v").over(wc).alias("cb"),
    )
    tot = pts.agg(
        F.sum("na_v").alias("n_a"), F.sum("nb_v").alias("n_b")
    )
    j = spine.crossJoin(F.broadcast(tot)).select(
        "*",
        F.explode(
            F.array(*[F.lit(q) for q in _QTE_QS])
        ).alias("q"),
    )
    # type-1 (inverse-CDF) quantile: the k-th smallest with
    # k = ceil(q*n) — an EXACT order statistic off the cum-count spine
    k_a = F.ceil(F.col("q") * F.col("n_a"))
    k_b = F.ceil(F.col("q") * F.col("n_b"))
    out = j.groupBy("q").agg(
        F.max(F.col("n_a")).cast("long").alias("n_a"),
        F.max(F.col("n_b")).cast("long").alias("n_b"),
        F.min(F.when(F.col("ca") >= k_a, F.col("v"))).alias("q_a"),
        F.min(F.when(F.col("cb") >= k_b, F.col("v"))).alias("q_b"),
    )
    return out.select(
        "q",
        "n_a",
        "n_b",
        "q_a",
        "q_b",
        F.round(F.col("q_b") - F.col("q_a"), 9).alias("qte"),
    ).orderBy("q")


register(
    "events_ab_quantile_effects",
    oracle="""
WITH s AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      ::BIGINT % 2 AS INT) AS variant, value AS v
  FROM events WHERE event_type = 'purchase'
),
pts AS (
  SELECT v,
    SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS na_v,
    SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS nb_v
  FROM s GROUP BY v
),
spine AS (
  SELECT v,
    SUM(na_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
    SUM(nb_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
  FROM pts
),
tot AS (SELECT SUM(na_v) AS n_a, SUM(nb_v) AS n_b FROM pts),
qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q),
j AS (SELECT * FROM spine CROSS JOIN tot CROSS JOIN qs)
SELECT q,
  CAST(MAX(n_a) AS BIGINT) AS n_a,
  CAST(MAX(n_b) AS BIGINT) AS n_b,
  MIN(CASE WHEN ca >= CEIL(q * n_a) THEN v END) AS q_a,
  MIN(CASE WHEN cb >= CEIL(q * n_b) THEN v END) AS q_b,
  ROUND(MIN(CASE WHEN cb >= CEIL(q * n_b) THEN v END)
        - MIN(CASE WHEN ca >= CEIL(q * n_a) THEN v END), 9) AS qte
FROM j GROUP BY q ORDER BY q
""",
    doc="Quantile treatment effects between the hash-bucketed "
    "variants' purchase values at q in {0.25, 0.5, 0.75, 0.9} — the "
    "DISTRIBUTIONAL readout that completes the A/B battery (means "
    "can be flat while the tails move; QTE shows WHERE the "
    "distribution shifted).  Both variants' quantiles are EXACT "
    "type-1 order statistics (k = ceil(q*n)-th smallest) read off "
    "one shared money-grain cum-count spine — the "
    "events_ab_mann_whitney machinery pointed at quantiles instead "
    "of ranks; no per-row sort, no percentile_approx error bars.  "
    "Exact integer cum-counts; values pass through untouched, so "
    "q_a/q_b hash bit-exact.  Scale: one grouped pass to the "
    "bounded value support, one window over it, a 4-way quantile "
    "fan-out on the spine only.",
    tags=(
        "events", "ab-testing", "statistics", "quantile", "extension",
        "headline",
    ),
    extended=True,
)(_quantile_effects)


# -- uplift evaluation: per-decile uplift + Qini curve -------------------------


def _uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("score"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > 90)
            ).cast("int")
        ).alias("conv"),
    )
    users = per_user.select(
        "user_id",
        "score",
        "conv",
        _variant_col(F.col("user_id")).alias("t"),
    )
    wr = Window.orderBy(F.col("score").desc(), F.col("user_id"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = users.select(
        "t",
        "conv",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    d = ranked.groupBy(
        F.expr("CAST(((rk - 1) * 10) div n + 1 AS INT)").alias("decile")
    ).agg(
        F.sum(F.col("t")).alias("n_t"),
        F.sum(1 - F.col("t")).alias("n_c"),
        F.sum(F.col("t") * F.col("conv")).alias("x_t"),
        F.sum((1 - F.col("t")) * F.col("conv")).alias("x_c"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = d.select(
        "decile",
        "n_t",
        "n_c",
        "x_t",
        "x_c",
        F.sum("n_t").over(wc).alias("cn_t"),
        F.sum("n_c").over(wc).alias("cn_c"),
        F.sum("x_t").over(wc).alias("cx_t"),
        F.sum("x_c").over(wc).alias("cx_c"),
    )
    return c.select(
        "decile",
        F.col("n_t").cast("long").alias("n_treated"),
        F.col("n_c").cast("long").alias("n_ctrl"),
        F.col("x_t").cast("long").alias("conv_treated"),
        F.col("x_c").cast("long").alias("conv_ctrl"),
        F.when(
            (F.col("n_t") > 0) & (F.col("n_c") > 0),
            F.round(
                F.col("x_t").cast("double") / F.col("n_t")
                - F.col("x_c").cast("double") / F.col("n_c"),
                9,
            ),
        ).alias("uplift_rate"),
        F.when(
            F.col("cn_c") > 0,
            F.round(
                F.col("cx_t").cast("double")
                - F.col("cx_c").cast("double")
                * F.col("cn_t")
                / F.col("cn_c"),
                6,
            ),
        ).alias("qini"),
    ).orderBy("decile")


register(
    "events_uplift_qini",
    oracle="""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS score,
    MAX(CASE WHEN event_type = 'purchase' AND value > 90
        THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
users AS (
  SELECT user_id, score, conv,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      ::BIGINT % 2 AS INT) AS t
  FROM per_user
),
ranked AS (
  SELECT t, conv,
    ROW_NUMBER() OVER (ORDER BY score DESC, user_id) AS rk,
    COUNT(*) OVER () AS n
  FROM users
),
d AS (
  SELECT CAST(((rk - 1) * 10) // n + 1 AS INT) AS decile,
    SUM(t) AS n_t, SUM(1 - t) AS n_c,
    SUM(t * conv) AS x_t, SUM((1 - t) * conv) AS x_c
  FROM ranked GROUP BY 1
),
c AS (
  SELECT decile, n_t, n_c, x_t, x_c,
    SUM(n_t) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cn_t,
    SUM(n_c) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cn_c,
    SUM(x_t) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cx_t,
    SUM(x_c) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cx_c
  FROM d
)
SELECT decile,
  CAST(n_t AS BIGINT) AS n_treated,
  CAST(n_c AS BIGINT) AS n_ctrl,
  CAST(x_t AS BIGINT) AS conv_treated,
  CAST(x_c AS BIGINT) AS conv_ctrl,
  CASE WHEN n_t > 0 AND n_c > 0 THEN
    ROUND(CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c, 9)
  END AS uplift_rate,
  CASE WHEN cn_c > 0 THEN
    ROUND(CAST(cx_t AS DOUBLE)
          - CAST(cx_c AS DOUBLE) * cn_t / cn_c, 6)
  END AS qini
FROM c ORDER BY decile
""",
    doc="Uplift-model evaluation: per-decile uplift and the Qini "
    "curve — the targeting-policy readout that says WHO to treat, "
    "not just whether treatment works on average.  Users rank by a "
    "targeting score (activity volume here; any model score slots "
    "in) under the deterministic (score DESC, user_id) total order, "
    "rank-cut into deciles (the orders_rfm_segments integer-cut "
    "pattern — never ntile), and each prefix depth k reports "
    "Qini(k) = cum_conv_t - cum_conv_c * cum_n_t/cum_n_c (Radcliffe) "
    "— the incremental conversions vs treating a random same-size "
    "group; randomization comes from the variant hash, so "
    "within-decile treated/control are exchangeable.  Exact integer "
    "counts until the final divisions.  Scale: user-grain pass; the "
    "fixture form ranks with one total-order pass at user grain and "
    "is the FIXTURE ORACLE BASELINE — the production twin "
    "events_uplift_qini_cutpoints (below) buckets by the score-grain "
    "cum-count spine with no per-user window at all (the "
    "classifier_lift_cutpoints pattern, which this score's integer "
    "grain makes exact).",
    tags=("events", "uplift", "causal", "ab-testing", "extension"),
    extended=True,
)(_uplift_qini)


def _uplift_qini_cutpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("score"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > 90)
            ).cast("int")
        ).alias("conv"),
    )
    users = per_user.select(
        "score", "conv", _variant_col(F.col("user_id")).alias("t")
    )
    # collapse the user table to the bounded integer score support —
    # after this aggregate nothing is per-user; the only window in the
    # plan rides the O(support) spine
    g = users.groupBy("score").agg(
        F.count(F.lit(1)).alias("nu"),
        F.sum(F.col("t")).alias("n_t"),
        F.sum(1 - F.col("t")).alias("n_c"),
        F.sum(F.col("t") * F.col("conv")).alias("x_t"),
        F.sum((1 - F.col("t")) * F.col("conv")).alias("x_c"),
    )
    tot = g.agg(F.sum("nu").alias("n_tot"))
    w_before = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    spine = g.crossJoin(F.broadcast(tot)).select(
        "*",
        F.coalesce(F.sum("nu").over(w_before), F.lit(0)).alias(
            "cum_before"
        ),
    )
    d = spine.groupBy(
        F.expr(
            "CAST(LEAST(9, (10 * cum_before) div n_tot) + 1 AS INT)"
        ).alias("decile")
    ).agg(
        F.sum("n_t").alias("n_t"),
        F.sum("n_c").alias("n_c"),
        F.sum("x_t").alias("x_t"),
        F.sum("x_c").alias("x_c"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = d.select(
        "decile",
        "n_t",
        "n_c",
        "x_t",
        "x_c",
        F.sum("n_t").over(wc).alias("cn_t"),
        F.sum("n_c").over(wc).alias("cn_c"),
        F.sum("x_t").over(wc).alias("cx_t"),
        F.sum("x_c").over(wc).alias("cx_c"),
    )
    return c.select(
        "decile",
        F.col("n_t").cast("long").alias("n_treated"),
        F.col("n_c").cast("long").alias("n_ctrl"),
        F.col("x_t").cast("long").alias("conv_treated"),
        F.col("x_c").cast("long").alias("conv_ctrl"),
        F.when(
            (F.col("n_t") > 0) & (F.col("n_c") > 0),
            F.round(
                F.col("x_t").cast("double") / F.col("n_t")
                - F.col("x_c").cast("double") / F.col("n_c"),
                9,
            ),
        ).alias("uplift_rate"),
        F.when(
            F.col("cn_c") > 0,
            F.round(
                F.col("cx_t").cast("double")
                - F.col("cx_c").cast("double")
                * F.col("cn_t")
                / F.col("cn_c"),
                6,
            ),
        ).alias("qini"),
    ).orderBy("decile")


register(
    "events_uplift_qini_cutpoints",
    oracle="""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS score,
    MAX(CASE WHEN event_type = 'purchase' AND value > 90
        THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
users AS (
  SELECT score, conv,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      ::BIGINT % 2 AS INT) AS t
  FROM per_user
),
g AS (
  SELECT score, COUNT(*) AS nu,
    SUM(t) AS n_t, SUM(1 - t) AS n_c,
    SUM(t * conv) AS x_t, SUM((1 - t) * conv) AS x_c
  FROM users GROUP BY score
),
tot AS (SELECT SUM(nu) AS n_tot FROM g),
spine AS (
  SELECT g.*, tot.n_tot,
    COALESCE(SUM(nu) OVER (ORDER BY score DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS cum_before
  FROM g CROSS JOIN tot
),
d AS (
  SELECT CAST(LEAST(9, (10 * cum_before) // n_tot) + 1 AS INT)
    AS decile,
    SUM(n_t) AS n_t, SUM(n_c) AS n_c,
    SUM(x_t) AS x_t, SUM(x_c) AS x_c
  FROM spine GROUP BY 1
),
c AS (
  SELECT decile, n_t, n_c, x_t, x_c,
    SUM(n_t) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cn_t,
    SUM(n_c) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cn_c,
    SUM(x_t) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cx_t,
    SUM(x_c) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cx_c
  FROM d
)
SELECT decile,
  CAST(n_t AS BIGINT) AS n_treated,
  CAST(n_c AS BIGINT) AS n_ctrl,
  CAST(x_t AS BIGINT) AS conv_treated,
  CAST(x_c AS BIGINT) AS conv_ctrl,
  CASE WHEN n_t > 0 AND n_c > 0 THEN
    ROUND(CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c, 9)
  END AS uplift_rate,
  CASE WHEN cn_c > 0 THEN
    ROUND(CAST(cx_t AS DOUBLE)
          - CAST(cx_c AS DOUBLE) * cn_t / cn_c, 6)
  END AS qini
FROM c ORDER BY decile
""",
    doc="The Qini/uplift table WITHOUT a per-user window — the 100 TB "
    "twin of events_uplift_qini (round-11 VERDICT 'What's wrong #1', "
    "the classifier_lift_cutpoints precedent): the targeting score is "
    "integer-grain (per-user event count), so one grouped pass "
    "collapses the user table to its bounded score support carrying "
    "per-score (users, treated, control, conversions-by-arm); a "
    "cum-count spine over that support yields each score's rank "
    "interval and decile(score) = least(9, 10*cum_before div N) + 1 — "
    "exact integer arithmetic, every score tie-group lands WHOLE in "
    "one decile (score-coherent deciles: the production semantics, "
    "where splitting a tie across deciles by user_id is the "
    "artifact).  Decile 10's cumulative row is IDENTICAL to the rank "
    "form's (the full prefix is tie-split-invariant — pinned in "
    "tests/test_round12.py); interior deciles differ only by tie "
    "placement.  Scale: one user-grain aggregate, then everything "
    "rides the O(score-support) spine — no row_number, no ntile, no "
    "per-user window anywhere in the plan (plan-asserted).",
    tags=("events", "uplift", "causal", "scale", "extension", "headline"),
)(_uplift_qini_cutpoints)


# -- regression discontinuity at the heavy-clicker cutoff ----------------------

_RDD_CUT = 14
_RDD_BW = 6
# bandwidth-sensitivity grid (round-11 VERDICT #4): the headline
# effect at _RDD_BW plus the +/-2 neighbours, all from the SAME pass
_RDD_BWS = (4, 6, 8)


def _rdd_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = _per_user_activity(spark, sf_dir).select(
        F.col("n_clicks").alias("x"), F.col("revenue").alias("y")
    )
    d6 = lambda c: c.cast("decimal(38,6)")
    xc = (F.col("x") - _RDD_CUT).cast("long")
    wide = max(_RDD_BWS)
    win = per_user.where(
        (F.col("x") >= _RDD_CUT - wide)
        & (F.col("x") <= _RDD_CUT + wide - 1)
    ).select(
        (F.col("x") >= _RDD_CUT).cast("int").alias("side"),
        xc.alias("xc"),
        "y",
    )
    aggs = []
    for bw in _RDD_BWS:
        inw = (F.col("xc") >= -bw) & (F.col("xc") <= bw - 1)
        aggs += [
            F.sum(F.when(inw, 1)).alias(f"n{bw}"),
            F.sum(F.when(inw, d6(F.col("xc")))).alias(f"sx{bw}"),
            F.sum(F.when(inw, F.col("y"))).alias(f"sy{bw}"),
            F.sum(
                F.when(inw, d6(F.col("xc") * F.col("xc")))
            ).alias(f"sxx{bw}"),
            F.sum(
                F.when(inw, d6(F.col("xc")) * F.col("y"))
            ).alias(f"sxy{bw}"),
        ]
    s = win.groupBy("side").agg(*aggs)

    def fit(tag, v):
        return [
            F.max(F.when(F.col("side") == v, F.col(c))).alias(
                f"{c}_{tag}"
            )
            for bw in _RDD_BWS
            for c in (f"n{bw}", f"sx{bw}", f"sy{bw}", f"sxx{bw}",
                      f"sxy{bw}")
        ]

    w = s.agg(*(fit("l", 0) + fit("r", 1)))

    def intercept(tag, bw):
        # slope as a ratio of exact_cov_num numerators (the common
        # n*1e12 scale cancels) — the cancellation-proof fold this
        # round applied to every sibling estimator; the one-sided
        # xc means make the naive double form exactly the
        # round-11 "What's wrong #2" hazard here
        from diabetes_etl_spark.functions.stats import exact_cov_num

        n = F.col(f"n{bw}_{tag}")
        sx_raw = F.col(f"sx{bw}_{tag}")
        sy_raw = F.col(f"sy{bw}_{tag}")
        sx = sx_raw.cast("double")
        sy = sy_raw.cast("double")
        covn = exact_cov_num(
            sx_raw, sy_raw, F.col(f"sxy{bw}_{tag}"), n, frac_digits=6
        ).cast("double")
        varn = exact_cov_num(
            sx_raw, sx_raw, F.col(f"sxx{bw}_{tag}"), n, frac_digits=6
        ).cast("double")
        slope = covn / varn
        return sy / n - slope * (sx / n), slope, n

    a_l, b_l, n_l = intercept("l", _RDD_BW)
    a_r, b_r, n_r = intercept("r", _RDD_BW)
    ok = (n_l > 2) & (n_r > 2)
    cols = [
        n_l.cast("long").alias("n_left"),
        n_r.cast("long").alias("n_right"),
        F.when(ok, F.round(a_l, 9)).alias("intercept_left"),
        F.when(ok, F.round(a_r, 9)).alias("intercept_right"),
        F.when(ok, F.round(b_l, 9)).alias("slope_left"),
        F.when(ok, F.round(b_r, 9)).alias("slope_right"),
        F.when(ok, F.round(a_r - a_l, 9)).alias("rdd_effect"),
    ]
    for bw in _RDD_BWS:
        if bw == _RDD_BW:
            continue
        al, _, nl = intercept("l", bw)
        ar, _, nr = intercept("r", bw)
        okb = (nl > 2) & (nr > 2)
        cols.append(
            F.when(okb, F.round(ar - al, 9)).alias(
                f"rdd_effect_bw{bw}"
            )
        )
    return w.select(*cols)


def _rdd_sql() -> str:
    """The oracle, generated from the same bandwidth grid so the two
    sides cannot drift."""
    wide = max(_RDD_BWS)
    s_cols = []
    for bw in _RDD_BWS:
        c = f"xc >= -{bw} AND xc <= {bw} - 1"
        s_cols += [
            f"SUM(CASE WHEN {c} THEN 1 END) AS n{bw}",
            f"SUM(CASE WHEN {c} THEN CAST(xc AS DECIMAL(38,6)) END)"
            f" AS sx{bw}",
            f"SUM(CASE WHEN {c} THEN y END) AS sy{bw}",
            f"SUM(CASE WHEN {c} THEN CAST(xc * xc AS DECIMAL(38,6))"
            f" END) AS sxx{bw}",
            f"SUM(CASE WHEN {c} THEN CAST(xc AS DECIMAL(38,6)) * y"
            f" END) AS sxy{bw}",
        ]
    w_cols = []
    for tag, v in (("l", 0), ("r", 1)):
        for bw in _RDD_BWS:
            for c in (f"n{bw}", f"sx{bw}", f"sy{bw}", f"sxx{bw}",
                      f"sxy{bw}"):
                w_cols.append(
                    f"MAX(CASE WHEN side = {v} THEN {c} END)"
                    f" AS {c}_{tag}"
                )

    def a_expr(tag, bw):
        from diabetes_etl_spark.functions.stats import (
            sql_exact_cov_num,
        )

        n = f"n{bw}_{tag}"
        sx = f"CAST(sx{bw}_{tag} AS DOUBLE)"
        sy = f"CAST(sy{bw}_{tag} AS DOUBLE)"
        covn = sql_exact_cov_num(
            f"sx{bw}_{tag}", f"sy{bw}_{tag}", f"sxy{bw}_{tag}", n, 6
        )
        varn = sql_exact_cov_num(
            f"sx{bw}_{tag}", f"sx{bw}_{tag}", f"sxx{bw}_{tag}", n, 6
        )
        slope = (
            f"CAST({covn} AS DOUBLE)"
            f" / CAST({varn} AS DOUBLE)"
        )
        return f"{sy} / {n} - {slope} * ({sx} / {n})", slope

    d_cols, out_cols = [], []
    for bw in _RDD_BWS:
        a_l, b_l = a_expr("l", bw)
        a_r, b_r = a_expr("r", bw)
        d_cols += [
            f"{a_l} AS a_l{bw}", f"{a_r} AS a_r{bw}",
            f"{b_l} AS b_l{bw}", f"{b_r} AS b_r{bw}",
        ]
    ok = f"n{_RDD_BW}_l > 2 AND n{_RDD_BW}_r > 2"
    out_cols = [
        f"CAST(n{_RDD_BW}_l AS BIGINT) AS n_left",
        f"CAST(n{_RDD_BW}_r AS BIGINT) AS n_right",
        f"CASE WHEN {ok} THEN ROUND(a_l{_RDD_BW}, 9) END"
        " AS intercept_left",
        f"CASE WHEN {ok} THEN ROUND(a_r{_RDD_BW}, 9) END"
        " AS intercept_right",
        f"CASE WHEN {ok} THEN ROUND(b_l{_RDD_BW}, 9) END"
        " AS slope_left",
        f"CASE WHEN {ok} THEN ROUND(b_r{_RDD_BW}, 9) END"
        " AS slope_right",
        f"CASE WHEN {ok} THEN ROUND(a_r{_RDD_BW} - a_l{_RDD_BW}, 9)"
        " END AS rdd_effect",
    ]
    for bw in _RDD_BWS:
        if bw == _RDD_BW:
            continue
        okb = f"n{bw}_l > 2 AND n{bw}_r > 2"
        out_cols.append(
            f"CASE WHEN {okb} THEN ROUND(a_r{bw} - a_l{bw}, 9) END"
            f" AS rdd_effect_bw{bw}"
        )
    nl = ",\n    ".join
    return f"""
WITH per_user AS ({_PER_USER_SQL}),
win AS (
  SELECT CASE WHEN n_clicks >= {_RDD_CUT} THEN 1 ELSE 0 END AS side,
    CAST(n_clicks - {_RDD_CUT} AS BIGINT) AS xc, revenue AS y
  FROM per_user
  WHERE n_clicks >= {_RDD_CUT - wide}
    AND n_clicks <= {_RDD_CUT + wide - 1}
),
s AS (
  SELECT side,
    {nl(s_cols)}
  FROM win GROUP BY side
),
w AS (
  SELECT
    {nl(w_cols)}
  FROM s
),
d AS (
  SELECT *,
    {nl(d_cols)}
  FROM w
)
SELECT
  {nl(out_cols)}
FROM d
"""


register(
    "events_rdd_estimate",
    oracle=_rdd_sql(),
    doc="Sharp regression discontinuity at the heavy-clicker cutoff "
    f"(running variable = per-user click count, cutoff {_RDD_CUT}, "
    f"headline bandwidth +/-{_RDD_BW}): local linear fits on each "
    "side of the cutoff via the closed-form OLS on exact DECIMAL "
    "sufficient statistics (the ml_grouped_ols_slopes machinery, "
    "centered at the cutoff so each intercept IS the boundary "
    "value), RD effect = right-limit minus left-limit.  Real RD "
    "practice never reports one bandwidth: the same single pass "
    "carries conditional sums for the +/-2 neighbours "
    f"(bandwidths {_RDD_BWS}) and reports rdd_effect_bw4/"
    "rdd_effect_bw8 sensitivity columns next to the headline "
    "(round-11 VERDICT #4; stability on the fixture pinned in "
    "tests/test_round12.py).  The third leg of the causal suite: "
    "randomized A/B (hash variants), observational strata/IPW, and "
    "the discontinuity design for threshold-assigned treatments "
    "(promotions, eligibility rules).  Degenerate windows (< 3 "
    "points a side) NULL out per bandwidth.  Scale: one user-grain "
    "pass with the widest-bandwidth filter pushed to the aggregate, "
    "then a 2-row epilogue.",
    tags=("events", "causal", "statistics", "extension"),
    extended=True,
)(_rdd_estimate)


# -- instrumental-variable (Wald) estimator ------------------------------------


def _iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = _per_user_activity(spark, sf_dir).withColumnRenamed(
        "revenue", "y"
    )
    users = per_user.select(
        _variant_col(F.col("user_id")).alias("z"),
        (F.col("n_clicks") >= _TREAT_CLICKS).cast("int").alias("t"),
        "y",
    )
    per = users.groupBy("z").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
    )
    w = per.agg(
        F.max(F.when(F.col("z") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("z") == 0, F.col("st"))).alias("st0"),
        F.max(F.when(F.col("z") == 0, F.col("sy"))).alias("sy0"),
        F.max(F.when(F.col("z") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("z") == 1, F.col("st"))).alias("st1"),
        F.max(F.when(F.col("z") == 1, F.col("sy"))).alias("sy1"),
    )
    itt_y = F.col("sy1").cast("double") / F.col("n1") - F.col(
        "sy0"
    ).cast("double") / F.col("n0")
    itt_t = F.col("st1").cast("double") / F.col("n1") - F.col(
        "st0"
    ).cast("double") / F.col("n0")
    ok = (F.col("n0") > 0) & (F.col("n1") > 0) & (itt_t != 0)
    return w.select(
        F.col("n0").cast("long").alias("n_z0"),
        F.col("n1").cast("long").alias("n_z1"),
        F.round(itt_y, 9).alias("itt_outcome"),
        F.round(itt_t, 9).alias("itt_takeup"),
        F.when(ok, F.round(itt_y / itt_t, 9)).alias("late_wald"),
    )


register(
    "events_iv_wald",
    oracle=f"""
WITH per_user AS ({_PER_USER_SQL}),
users AS (
  SELECT
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      ::BIGINT % 2 AS INT) AS z,
    CASE WHEN n_clicks >= {_TREAT_CLICKS} THEN 1 ELSE 0 END AS t,
    revenue AS y
  FROM per_user
),
per AS (
  SELECT z, COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy
  FROM users GROUP BY z
),
w AS (
  SELECT
    MAX(CASE WHEN z = 0 THEN n END) AS n0,
    MAX(CASE WHEN z = 0 THEN st END) AS st0,
    MAX(CASE WHEN z = 0 THEN sy END) AS sy0,
    MAX(CASE WHEN z = 1 THEN n END) AS n1,
    MAX(CASE WHEN z = 1 THEN st END) AS st1,
    MAX(CASE WHEN z = 1 THEN sy END) AS sy1
  FROM per
),
d AS (
  SELECT n0, n1,
    CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0 AS itt_y,
    CAST(st1 AS DOUBLE) / n1 - CAST(st0 AS DOUBLE) / n0 AS itt_t
  FROM w
)
SELECT CAST(n0 AS BIGINT) AS n_z0, CAST(n1 AS BIGINT) AS n_z1,
  ROUND(itt_y, 9) AS itt_outcome,
  ROUND(itt_t, 9) AS itt_takeup,
  CASE WHEN n0 > 0 AND n1 > 0 AND itt_t <> 0
    THEN ROUND(itt_y / itt_t, 9) END AS late_wald
FROM d
""",
    doc="Instrumental-variable (Wald) estimator: the randomized hash "
    "bucket is the INSTRUMENT (z), heavy-clicker status the "
    "endogenous treatment (t), purchase revenue the outcome — "
    "LATE = ITT_outcome / ITT_takeup, the estimator for encouragement "
    "designs where assignment is random but uptake is not (the "
    "standard way to read an A/B test whose feature users must opt "
    "into).  Both ITTs are exact-integer/DECIMAL group means; one "
    "division at the end, NULL when the first stage is empty (no "
    "takeup difference — a weak-instrument guard, not a fabricated "
    "zero).  Completes the causal-design suite: randomized, "
    "stratified/IPW observational, discontinuity, instrument.  "
    "Scale: one user-grain pass to a 2-row table.",
    tags=("events", "causal", "statistics", "extension"),
    extended=True,
)(_iv_wald)


# -- streaming mSPRT monitor ---------------------------------------------------


def _stream_msprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.sources.tables import load_events_stream
    from diabetes_etl_spark.streaming.ingest import stream_snapshot

    ev = load_events_stream(spark, sf_dir)
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
        _variant_col(F.col("user_id")).alias("variant"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x"),
    )
    snap = stream_snapshot(spark, daily, output_mode="complete")
    return _msprt_epilogue(snap)


register(
    "stream_msprt_monitor",
    oracle=_MSPRT_ORACLE,
    doc="The mSPRT always-valid monitor fed by a REAL streaming source "
    "— the deployment shape of continuous experiment monitoring: the "
    "(day x variant) count grid maintains as a streaming aggregate "
    "(availableNow through readStream, complete mode; at 100 TB this "
    "state is O(days x 2), trivially bounded), and each refresh "
    "recomputes the whole decision path from the grid — so the "
    "monitor's output after any prefix of data is exactly the batch "
    "path on that prefix, and on bounded input it equals "
    "events_ab_sequential_msprt row for row (SAME oracle, the "
    "stream_tumbling_hourly equality pattern).  Epilogue shared "
    "verbatim with the batch query (_msprt_epilogue).  GRAIN: "
    "event-grain FIXTURE TWIN — the production monitor is "
    "stream_msprt_monitor_users (user-grain trials, no iid caveat; "
    "see events_ab_msprt_users).",
    tags=("streaming", "ab-testing", "sequential", "extension", "headline"),
    extended=True,
)(_stream_msprt_monitor)


def _stream_msprt_monitor_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from diabetes_etl_spark.sources.tables import load_events_stream
    from diabetes_etl_spark.streaming.ingest import stream_snapshot

    ev = load_events_stream(spark, sf_dir)
    snap = stream_snapshot(
        spark, _msprt_user_per_user(ev), output_mode="complete"
    )
    return _msprt_epilogue(_msprt_user_daily(snap))


register(
    "stream_msprt_monitor_users",
    oracle=_MSPRT_USERS_ORACLE,
    doc="The USER-GRAIN mSPRT monitor fed by a REAL streaming source "
    "— the production deployment shape (round-12 verdict #2): the "
    "per-user first-touch relation (first event day, first "
    "big-purchase day) maintains as a streaming min-aggregate "
    "(availableNow through readStream, complete mode — first-touch "
    "state is the price of user-grain monitoring and is O(users) "
    "keys x 2 dates, the same state any conversion-dedup keeps; at "
    "cluster scale this state partitions by user_id and each "
    "microbatch touches only the users it saw), and each refresh "
    "recomputes the O(days) decision path from the snapshot — so "
    "the monitor's output after any prefix of data equals the batch "
    "events_ab_msprt_users on that prefix (SAME oracle, the "
    "stream_tumbling_hourly equality pattern), and because both "
    "grids count each user once, the randomization unit is the "
    "analysis unit: no event-level-iid caveat.  Epilogue shared "
    "verbatim with the batch query (_msprt_epilogue).",
    tags=("streaming", "ab-testing", "sequential", "extension", "headline"),
)(_stream_msprt_monitor_users)


# -- AIPW doubly-robust ATE (round 12) ------------------------------------------
#
# The estimator practitioners actually ship when neither the
# propensity model nor the outcome model is trusted alone: AIPW
# (augmented IPW / doubly robust; Robins, Rotnitzky & Zhao 1994) is
# consistent if EITHER is right.  Here the two models are genuinely
# different functions — propensity = exact within-stratum treatment
# share (the events_ipw_stratified_ate machinery), outcome = per-arm
# LINEAR-in-activity OLS fit globally (closed form on exact decimal
# sufficient statistics) — so the augmentation terms do NOT vanish
# the way they would with saturated stratum-mean outcome models, and
# the query demonstrates the actual bias-correction algebra.


def _aipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.functions.stats import exact_cov_num

    per_user = _per_user_activity(spark, sf_dir)
    base = per_user.select(
        (F.col("n_clicks") >= _TREAT_CLICKS).cast("int").alias("treated"),
        F.col("y_events").alias("x"),
        F.col("revenue").alias("y"),
        F.expr(_STRATA_SQL.replace("y", "y_events")).alias("stratum"),
    )
    grid = base.groupBy("stratum", "treated").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias(
            "sxx"
        ),
        F.sum(
            (F.col("x") * F.col("y")).cast("decimal(38,6)")
        ).alias("sxy"),
        # y is 2-decimal money, so y^2 is exact at grain 4; the
        # (19,2) operand casts make the multiply land on an exact
        # (38,4) in BOTH engines (width 19 forces DuckDB onto the
        # int128 path — an 18-wide operand overflows its int64
        # multiply) before the (38,6) fold
        F.sum(
            (
                F.col("y").cast("decimal(19,2)")
                * F.col("y").cast("decimal(19,2)")
            ).cast("decimal(38,6)")
        ).alias("syy"),
    )

    def cell(c, v):
        return F.max(
            F.when(F.col("treated") == v, F.col(c))
        ).alias(f"{c}{'t' if v else 'c'}")

    strat = grid.groupBy("stratum").agg(
        *[cell(c, v) for v in (1, 0)
          for c in ("n", "sx", "sy", "sxx", "sxy", "syy")]
    )

    def arm(tag):
        # arm-level sufficient statistics (decimal sums over strata
        # cells are exact regardless of grouping), then the OLS
        # slope as a ratio of exact_cov_num numerators (the common
        # n*(n-1)*1e12 scale cancels) and the pinned intercept
        z = F.lit(0).cast("decimal(38,0)")
        z6 = F.lit(0).cast("decimal(38,6)")
        n = F.sum(F.coalesce(F.col(f"n{tag}"), F.lit(0)))
        sx = F.sum(F.coalesce(F.col(f"sx{tag}"), z))
        sy = F.sum(F.coalesce(F.col(f"sy{tag}"), z6))
        sxx = F.sum(F.coalesce(F.col(f"sxx{tag}"), z))
        sxy = F.sum(F.coalesce(F.col(f"sxy{tag}"), z6))
        return [
            n.alias(f"n_{tag}"), sx.alias(f"sx_{tag}"),
            sy.alias(f"sy_{tag}"), sxx.alias(f"sxx_{tag}"),
            sxy.alias(f"sxy_{tag}"),
        ]

    arms = strat.agg(*(arm("t") + arm("c")))

    def coefs(tag):
        # per-factor grains: x (activity count) is integer-grain,
        # y (revenue) money-grain — covn carries a leftover 1e6
        # scale vs the grain-0 varn, compensated by one division
        n = F.col(f"n_{tag}")
        covn = exact_cov_num(
            F.col(f"sx_{tag}"), F.col(f"sy_{tag}"),
            F.col(f"sxy_{tag}"), n, frac_digits=0, frac_y=6,
        )
        varn = exact_cov_num(
            F.col(f"sx_{tag}"), F.col(f"sx_{tag}"),
            F.col(f"sxx_{tag}"), n, frac_digits=0,
        )
        b = F.round(
            covn.cast("double") / varn.cast("double") / 1000000.0, 9
        )
        a = F.round(
            F.col(f"sy_{tag}").cast("double") / n
            - b * (F.col(f"sx_{tag}").cast("double") / n),
            9,
        )
        return a, b

    a1, b1 = coefs("t")
    a0, b0 = coefs("c")
    coef = arms.select(
        F.col("n_t").alias("n_treat"),
        F.col("n_c").alias("n_ctrl"),
        a1.alias("a1"), b1.alias("b1"),
        a0.alias("a0"), b0.alias("b0"),
    )

    j = strat.crossJoin(F.broadcast(coef))
    nt = F.coalesce(F.col("nt"), F.lit(0))
    nc = F.coalesce(F.col("nc"), F.lit(0))
    ns = nt + nc
    ok = (nt > 0) & (nc > 0)
    e = nt.cast("double") / ns
    sxt = F.coalesce(F.col("sxt"), F.lit(0).cast("decimal(38,0)"))
    sxc = F.coalesce(F.col("sxc"), F.lit(0).cast("decimal(38,0)"))
    syt = F.coalesce(F.col("syt"), F.lit(0).cast("decimal(38,6)"))
    syc = F.coalesce(F.col("syc"), F.lit(0).cast("decimal(38,6)"))
    sxxt = F.coalesce(F.col("sxxt"), F.lit(0).cast("decimal(38,0)"))
    sxxc = F.coalesce(F.col("sxxc"), F.lit(0).cast("decimal(38,0)"))
    sxyt = F.coalesce(F.col("sxyt"), F.lit(0).cast("decimal(38,6)"))
    sxyc = F.coalesce(F.col("sxyc"), F.lit(0).cast("decimal(38,6)"))
    syyt = F.coalesce(F.col("syyt"), F.lit(0).cast("decimal(38,6)"))
    syyc = F.coalesce(F.col("syyc"), F.lit(0).cast("decimal(38,6)"))
    gterm = (F.col("a1") - F.col("a0")) * ns + (
        F.col("b1") - F.col("b0")
    ) * (sxt + sxc).cast("double")
    corr1 = (
        syt.cast("double")
        - nt * F.col("a1")
        - F.col("b1") * sxt.cast("double")
    ) / e
    corr0 = (
        syc.cast("double")
        - nc * F.col("a0")
        - F.col("b0") * sxc.cast("double")
    ) / (1 - e)
    # Influence-function second moment (round 13, verdict-r12 #6):
    # within a (stratum, arm) cell the AIPW influence contribution is
    # LINEAR in (1, x, y) — treated: psi = kt + lt*x + mt*y with
    # kt = (a1-a0) - a1/e, lt = (b1-b0) - b1/e, mt = 1/e; control:
    # kc = (a1-a0) + a0/(1-e), lc = (b1-b0) + b0/(1-e),
    # mc = -1/(1-e) — so sum(psi^2) over the cell is the closed form
    # n*k^2 + l^2*sxx + m^2*syy + 2kl*sx + 2km*sy + 2lm*sxy on the
    # moments the grid already folds (plus the new syy).  Standard
    # AIPW variance: Var = sum(psi - psibar)^2 / n^2.
    ad = F.col("a1") - F.col("a0")
    bd = F.col("b1") - F.col("b0")
    kt = ad - F.col("a1") / e
    lt = bd - F.col("b1") / e
    mt = F.lit(1.0) / e
    kc = ad + F.col("a0") / (1 - e)
    lc = bd + F.col("b0") / (1 - e)
    mc = -(F.lit(1.0) / (1 - e))

    def psi2(n_, k, l_, m, sx_, sy_, sxx_, sxy_, syy_):
        return (
            n_ * k * k
            + l_ * l_ * sxx_.cast("double")
            + m * m * syy_.cast("double")
            + 2 * k * l_ * sx_.cast("double")
            + 2 * k * m * sy_.cast("double")
            + 2 * l_ * m * sxy_.cast("double")
        )

    psis = psi2(nt, kt, lt, mt, sxt, syt, sxxt, sxyt, syyt) + psi2(
        nc, kc, lc, mc, sxc, syc, sxxc, sxyc, syyc
    )
    d12 = "decimal(38,12)"
    out = j.agg(
        F.max("n_treat").alias("n_treat"),
        F.max("n_ctrl").alias("n_ctrl"),
        F.max("b1").alias("slope_treat"),
        F.max("b0").alias("slope_ctrl"),
        F.sum(F.when(ok, ns)).alias("n_ok"),
        F.sum(
            F.when(ok, F.round(gterm, 9).cast(d12))
        ).alias("g_sum"),
        F.sum(
            F.when(
                ok, F.round(gterm + corr1 - corr0, 9).cast(d12)
            )
        ).alias("aipw_sum"),
        F.sum(
            F.when(ok, F.round(psis, 6).cast(d12))
        ).alias("psi2_sum"),
    )
    se = F.round(
        F.sqrt(
            F.greatest(
                F.col("psi2_sum").cast("double")
                - F.col("aipw_sum").cast("double")
                * F.col("aipw_sum").cast("double")
                / F.col("n_ok"),
                F.lit(0.0),
            )
        )
        / F.col("n_ok"),
        9,
    )
    return out.select(
        F.col("n_treat").cast("long").alias("n_treat"),
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        F.col("n_ok").cast("long").alias("n_ok"),
        "slope_treat",
        "slope_ctrl",
        F.round(
            F.col("g_sum").cast("double") / F.col("n_ok"), 9
        ).alias("ate_gcomp"),
        F.round(
            F.col("aipw_sum").cast("double") / F.col("n_ok"), 9
        ).alias("ate_aipw"),
        se.alias("ate_aipw_se"),
    ).select(
        "*",
        F.round(
            F.col("ate_aipw") - F.lit(1.96) * F.col("ate_aipw_se"), 9
        ).alias("ate_aipw_lo"),
        F.round(
            F.col("ate_aipw") + F.lit(1.96) * F.col("ate_aipw_se"), 9
        ).alias("ate_aipw_hi"),
    )


def _aipw_sql() -> str:
    from diabetes_etl_spark.functions.stats import sql_exact_cov_num

    def psi2(n, k, l, m, sx, sy, sxx, sxy, syy):
        # literal mirror of the Spark psi2 closed form (see _aipw_ate)
        def cd(col, dec):
            return (
                f"CAST(COALESCE({col}, CAST(0 AS DECIMAL(38,{dec})))"
                " AS DOUBLE)"
            )

        return (
            f"({n} * {k} * {k}"
            f" + {l} * {l} * {cd(sxx, 0)}"
            f" + {m} * {m} * {cd(syy, 6)}"
            f" + 2 * {k} * {l} * {cd(sx, 0)}"
            f" + 2 * {k} * {m} * {cd(sy, 6)}"
            f" + 2 * {l} * {m} * {cd(sxy, 6)})"
        )

    def coefs(tag):
        n = f"n_{tag}"
        covn = sql_exact_cov_num(
            f"sx_{tag}", f"sy_{tag}", f"sxy_{tag}", n, 0, 6
        )
        varn = sql_exact_cov_num(
            f"sx_{tag}", f"sx_{tag}", f"sxx_{tag}", n, 0
        )
        b = (
            f"ROUND(CAST({covn} AS DOUBLE)"
            f" / CAST({varn} AS DOUBLE)"
            f" / CAST(1000000 AS DOUBLE), 9)"
        )
        a = (
            f"ROUND(CAST(sy_{tag} AS DOUBLE) / {n}"
            f" - b{1 if tag == 't' else 0}"
            f" * (CAST(sx_{tag} AS DOUBLE) / {n}), 9)"
        )
        return a, b

    a1, b1 = coefs("t")
    a0, b0 = coefs("c")
    return f"""
WITH per_user AS ({_PER_USER_SQL}),
base AS (
  SELECT CASE WHEN n_clicks >= {_TREAT_CLICKS} THEN 1 ELSE 0 END
      AS treated,
    y_events AS x, revenue AS y,
    {_STRATA_SQL.replace("y", "y_events")} AS stratum
  FROM per_user
),
grid AS (
  SELECT stratum, treated, COUNT(*) AS n,
    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
    SUM(y) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(x * y AS DECIMAL(38,6))) AS sxy,
    SUM(CAST(CAST(y AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2))
        AS DECIMAL(38,6))) AS syy
  FROM base GROUP BY stratum, treated
),
strat AS (
  SELECT stratum,
    MAX(CASE WHEN treated = 1 THEN n END) AS nt,
    MAX(CASE WHEN treated = 1 THEN sx END) AS sxt,
    MAX(CASE WHEN treated = 1 THEN sy END) AS syt,
    MAX(CASE WHEN treated = 1 THEN sxx END) AS sxxt,
    MAX(CASE WHEN treated = 1 THEN sxy END) AS sxyt,
    MAX(CASE WHEN treated = 1 THEN syy END) AS syyt,
    MAX(CASE WHEN treated = 0 THEN n END) AS nc,
    MAX(CASE WHEN treated = 0 THEN sx END) AS sxc,
    MAX(CASE WHEN treated = 0 THEN sy END) AS syc,
    MAX(CASE WHEN treated = 0 THEN sxx END) AS sxxc,
    MAX(CASE WHEN treated = 0 THEN sxy END) AS sxyc,
    MAX(CASE WHEN treated = 0 THEN syy END) AS syyc
  FROM grid GROUP BY stratum
),
arms AS (
  SELECT
    SUM(COALESCE(nt, 0)) AS n_t,
    SUM(COALESCE(sxt, CAST(0 AS DECIMAL(38,0)))) AS sx_t,
    SUM(COALESCE(syt, CAST(0 AS DECIMAL(38,6)))) AS sy_t,
    SUM(COALESCE(sxxt, CAST(0 AS DECIMAL(38,0)))) AS sxx_t,
    SUM(COALESCE(sxyt, CAST(0 AS DECIMAL(38,6)))) AS sxy_t,
    SUM(COALESCE(nc, 0)) AS n_c,
    SUM(COALESCE(sxc, CAST(0 AS DECIMAL(38,0)))) AS sx_c,
    SUM(COALESCE(syc, CAST(0 AS DECIMAL(38,6)))) AS sy_c,
    SUM(COALESCE(sxxc, CAST(0 AS DECIMAL(38,0)))) AS sxx_c,
    SUM(COALESCE(sxyc, CAST(0 AS DECIMAL(38,6)))) AS sxy_c
  FROM strat
),
slopes AS (
  SELECT n_t AS n_treat, n_c AS n_ctrl, n_t, n_c,
    sx_t, sy_t, sx_c, sy_c,
    {b1} AS b1, {b0} AS b0
  FROM arms
),
coef AS (
  SELECT n_treat, n_ctrl, b1, b0, {a1} AS a1, {a0} AS a0
  FROM slopes
),
terms AS (
  SELECT s.*, c.*,
    COALESCE(s.nt, 0) + COALESCE(s.nc, 0) AS ns,
    COALESCE(s.nt, 0) > 0 AND COALESCE(s.nc, 0) > 0 AS ok,
    CAST(COALESCE(s.nt, 0) AS DOUBLE)
      / (COALESCE(s.nt, 0) + COALESCE(s.nc, 0)) AS e
  FROM strat s CROSS JOIN coef c
),
contrib AS (
  SELECT *,
    (a1 - a0) * ns
      + (b1 - b0) * CAST(COALESCE(sxt, CAST(0 AS DECIMAL(38,0)))
          + COALESCE(sxc, CAST(0 AS DECIMAL(38,0))) AS DOUBLE)
      AS gterm,
    (CAST(COALESCE(syt, CAST(0 AS DECIMAL(38,6))) AS DOUBLE)
      - COALESCE(nt, 0) * a1
      - b1 * CAST(COALESCE(sxt, CAST(0 AS DECIMAL(38,0))) AS DOUBLE))
      / e AS corr1,
    (CAST(COALESCE(syc, CAST(0 AS DECIMAL(38,6))) AS DOUBLE)
      - COALESCE(nc, 0) * a0
      - b0 * CAST(COALESCE(sxc, CAST(0 AS DECIMAL(38,0))) AS DOUBLE))
      / (1 - e) AS corr0,
    {psi2('COALESCE(nt, 0)',
          '((a1 - a0) - a1 / e)',
          '((b1 - b0) - b1 / e)',
          '(CAST(1.0 AS DOUBLE) / e)',
          'sxt', 'syt', 'sxxt', 'sxyt', 'syyt')}
      + {psi2('COALESCE(nc, 0)',
              '((a1 - a0) + a0 / (1 - e))',
              '((b1 - b0) + b0 / (1 - e))',
              '(-(CAST(1.0 AS DOUBLE) / (1 - e)))',
              'sxc', 'syc', 'sxxc', 'sxyc', 'syyc')}
      AS psis
  FROM terms
),
aggr AS (
  SELECT CAST(MAX(n_treat) AS BIGINT) AS n_treat,
    CAST(MAX(n_ctrl) AS BIGINT) AS n_ctrl,
    CAST(SUM(CASE WHEN ok THEN ns END) AS BIGINT) AS n_ok,
    MAX(b1) AS slope_treat,
    MAX(b0) AS slope_ctrl,
    ROUND(CAST(SUM(CASE WHEN ok
        THEN CAST(ROUND(gterm, 9) AS DECIMAL(38,12)) END) AS DOUBLE)
      / SUM(CASE WHEN ok THEN ns END), 9) AS ate_gcomp,
    ROUND(CAST(SUM(CASE WHEN ok
        THEN CAST(ROUND(gterm + corr1 - corr0, 9) AS DECIMAL(38,12))
        END) AS DOUBLE)
      / SUM(CASE WHEN ok THEN ns END), 9) AS ate_aipw,
    ROUND(SQRT(GREATEST(
        CAST(SUM(CASE WHEN ok
          THEN CAST(ROUND(psis, 6) AS DECIMAL(38,12)) END) AS DOUBLE)
        - CAST(SUM(CASE WHEN ok
            THEN CAST(ROUND(gterm + corr1 - corr0, 9)
                 AS DECIMAL(38,12)) END) AS DOUBLE)
          * CAST(SUM(CASE WHEN ok
              THEN CAST(ROUND(gterm + corr1 - corr0, 9)
                   AS DECIMAL(38,12)) END) AS DOUBLE)
          / SUM(CASE WHEN ok THEN ns END),
        CAST(0.0 AS DOUBLE)))
      / SUM(CASE WHEN ok THEN ns END), 9) AS ate_aipw_se
  FROM contrib
)
SELECT *,
  ROUND(ate_aipw - CAST(1.96 AS DOUBLE) * ate_aipw_se, 9)
    AS ate_aipw_lo,
  ROUND(ate_aipw + CAST(1.96 AS DOUBLE) * ate_aipw_se, 9)
    AS ate_aipw_hi
FROM aggr
"""


register(
    "events_aipw_doubly_robust",
    oracle=_aipw_sql(),
    doc="AIPW doubly-robust ATE (Robins/Rotnitzky/Zhao 1994) of heavy "
    "clicking on purchase revenue — the estimator that stays "
    "consistent if EITHER the propensity model or the outcome model "
    "is right: propensity = exact within-stratum treatment share "
    "(the events_ipw_stratified_ate strata), outcome = per-arm "
    "linear-in-activity OLS fit in closed form on exact decimal "
    "sufficient statistics (slope = ratio of exact_cov_num "
    "numerators — the cancellation-proof fold, common scale "
    "cancels).  The two models are genuinely different functions, "
    "so the augmentation residual terms (sum_s residual_t/e_s - "
    "residual_c/(1-e_s)) do not vanish and the g-computation column "
    "(ate_gcomp, pure outcome model) sits next to the corrected "
    "ate_aipw.  Strata missing a side drop from both (positivity), "
    "per-stratum double terms quantize to DECIMAL(38,12) before the "
    "order-independent fold.  Completes the observational suite: "
    "naive / stratified / IPW / AIPW / RDD / IV.  Scale: ONE "
    "user-grain pass to an (4 strata x 2 arms) grid; everything "
    "after is a bounded epilogue.",
    tags=("events", "causal", "statistics", "extension", "headline"),
)(_aipw_ate)


# -- off-policy evaluation: IPS / SNIPS / clipped IPS (round 12) ----------------

_POLICY_ARMS = 4
_IPS_CLIP = 2.0


def _policy_col(c):
    return _variant_col(c, mod=_POLICY_ARMS)


def _ops_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = _per_user_activity(spark, sf_dir)
    scored = per_user.select(
        _policy_col(F.col("user_id")).alias("a_logged"),
        F.expr(_STRATA_SQL.replace("y", "y_events")).alias("a_target"),
        F.col("revenue").alias("r"),
    )
    m = (F.col("a_logged") == F.col("a_target")).cast("int")
    z6 = F.lit(0).cast("decimal(38,6)")
    agg = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(m).alias("k"),
        F.sum("r").alias("sr_all"),
        F.sum(F.when(m == 1, F.col("r")).otherwise(z6)).alias("sr_m"),
    )
    n, k = F.col("n"), F.col("k")
    sr_all = F.col("sr_all").cast("double")
    sr_m = F.col("sr_m").cast("double")
    w = float(_POLICY_ARMS)
    return agg.select(
        n.cast("long").alias("n_users"),
        k.cast("long").alias("n_matched"),
        F.round(k.cast("double") / n, 9).alias("match_rate"),
        F.round(sr_all / n, 9).alias("value_logged"),
        F.round(sr_m * w / n, 9).alias("value_ips"),
        F.when(k > 0, F.round(sr_m * w / (w * k), 9)).alias(
            "value_snips"
        ),
        F.round(sr_m * _IPS_CLIP / n, 9).alias("value_ips_clipped"),
        F.when(
            k > 0,
            F.round(
                ((w * k) * (w * k)).cast("double") / (w * w * k), 9
            ),
        ).alias("ess"),
    )


register(
    "events_policy_ips_snips",
    oracle=f"""
WITH per_user AS ({_PER_USER_SQL}),
scored AS (
  SELECT
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      ::BIGINT % {_POLICY_ARMS} AS INT) AS a_logged,
    {_STRATA_SQL.replace("y", "y_events")} AS a_target,
    revenue AS r
  FROM per_user
),
agg AS (
  SELECT COUNT(*) AS n,
    SUM(CASE WHEN a_logged = a_target THEN 1 ELSE 0 END) AS k,
    SUM(r) AS sr_all,
    SUM(CASE WHEN a_logged = a_target THEN r
        ELSE CAST(0 AS DECIMAL(38,6)) END) AS sr_m
  FROM scored
)
SELECT CAST(n AS BIGINT) AS n_users,
  CAST(k AS BIGINT) AS n_matched,
  ROUND(CAST(k AS DOUBLE) / n, 9) AS match_rate,
  ROUND(CAST(sr_all AS DOUBLE) / n, 9) AS value_logged,
  ROUND(CAST(sr_m AS DOUBLE) * {float(_POLICY_ARMS)} / n, 9)
    AS value_ips,
  CASE WHEN k > 0 THEN
    ROUND(CAST(sr_m AS DOUBLE) * {float(_POLICY_ARMS)}
      / ({float(_POLICY_ARMS)} * k), 9) END AS value_snips,
  ROUND(CAST(sr_m AS DOUBLE) * {_IPS_CLIP} / n, 9)
    AS value_ips_clipped,
  CASE WHEN k > 0 THEN
    ROUND(CAST(({float(_POLICY_ARMS)} * k)
        * ({float(_POLICY_ARMS)} * k) AS DOUBLE)
      / ({float(_POLICY_ARMS)} * {float(_POLICY_ARMS)} * k), 9)
    END AS ess
FROM agg
""",
    doc="Off-policy evaluation of a deterministic targeting policy "
    "from randomized logs — the counterfactual readout every "
    "recommendation/campaign system needs BEFORE shipping a policy: "
    "the logged policy assigns each user one of 4 campaign arms "
    "uniformly by md5 hash (so the behavior propensity is KNOWN "
    "exactly: 1/4 — the clean-logging case IPS theory assumes), the "
    "target policy assigns the activity-tiered arm (the fixed "
    "stratum cuts), and the estimators are the standard triad: IPS "
    "= sum(w r)/N with w = 4 x match-indicator (unbiased, "
    "high-variance), SNIPS = sum(w r)/sum(w) (self-normalized, "
    "biased-but-consistent, variance-damped), clipped IPS at w <= "
    f"{_IPS_CLIP} (the bias-variance knob), plus the effective-"
    "sample-size diagnostic ESS = (sum w)^2 / sum(w^2) and the "
    "on-policy logged value for reference.  Exact integer/DECIMAL "
    "folds until the final divisions; NULL (never fabricated) when "
    "no user matches the target policy.  Scale: ONE user-grain "
    "grouped pass to a 1-row epilogue.",
    tags=("events", "causal", "policy", "statistics", "extension", "headline"),
)(_ops_ips)


# -- doubly-robust off-policy value (round 13) -----------------------------------
#
# IPS is unbiased but rides only the matched users; the DIRECT METHOD
# (score every user with an outcome model at the target action) is
# low-variance but inherits the model's bias.  The doubly-robust
# estimator (Dudik, Langford & Li 2011) pays the model's prediction
# everywhere and IPS-corrects it on the matched logs:
#   V_DR = (1/n) sum_i [ q(pi(x_i)) + 1{a_i = pi(x_i)} * w * (r_i - q(a_i)) ]
# — unbiased if EITHER the propensity (exact here: 1/4 by design) or
# the model is right, with variance between the two.  The outcome
# model is the per-logged-arm mean reward (the honest baseline a DM
# would use); because the target policy is deterministic and the
# model is arm-level, the per-user influence contribution is LINEAR
# in r within each (target-arm, matched) cell:
#   psi = qv(t)*(1 - w*m) + w*m*r
# so the value, its influence-function SE (sqrt(sum(psi - psibar)^2)/n)
# and the CI all fold from an 8-cell (4 target arms x matched) grid of
# (count, sum r, sum r^2) — one user-grain pass, O(arms) epilogue.


def _ops_dr(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = _per_user_activity(spark, sf_dir)
    scored = per_user.select(
        _policy_col(F.col("user_id")).alias("a_logged"),
        F.expr(_STRATA_SQL.replace("y", "y_events")).alias("a_target"),
        F.col("revenue").alias("r"),
    )
    q = (
        scored.groupBy("a_logged")
        .agg(F.count(F.lit(1)).alias("n_a"), F.sum("r").alias("sr_a"))
        .select(
            F.col("a_logged").alias("arm"),
            F.round(
                F.col("sr_a").cast("double") / F.col("n_a"), 9
            ).alias("qv"),
        )
    )
    cells = (
        scored.select(
            F.col("a_target").alias("t"),
            (F.col("a_logged") == F.col("a_target"))
            .cast("int")
            .alias("m"),
            "r",
        )
        .groupBy("t", "m")
        .agg(
            F.count(F.lit(1)).alias("n_c"),
            F.sum("r").alias("sr"),
            # r is 2-decimal money: the (19,2) operand casts keep the
            # square exact at (38,4) in both engines (the AIPW syy
            # precedent)
            F.sum(
                (
                    F.col("r").cast("decimal(19,2)")
                    * F.col("r").cast("decimal(19,2)")
                ).cast("decimal(38,6)")
            ).alias("srr"),
        )
    )
    j = cells.join(F.broadcast(q), F.col("t") == F.col("arm"), "left")
    w = float(_POLICY_ARMS)
    c0 = F.col("qv") * (1 - F.lit(w) * F.col("m"))
    c1 = F.lit(w) * F.col("m")
    sr_d = F.col("sr").cast("double")
    srr_d = F.col("srr").cast("double")
    psi = F.col("n_c") * c0 + c1 * sr_d
    psi2 = (
        F.col("n_c") * c0 * c0
        + 2 * c0 * c1 * sr_d
        + c1 * c1 * srr_d
    )
    d12 = "decimal(38,12)"
    agg = j.agg(
        F.sum("n_c").alias("n"),
        F.sum(
            F.when(F.col("m") == 1, F.col("n_c")).otherwise(0)
        ).alias("k"),
        F.sum(
            F.when(F.col("qv").isNull(), F.col("n_c")).otherwise(0)
        ).alias("n_unmodeled"),
        F.sum(
            F.round(F.col("n_c") * F.col("qv"), 9).cast(d12)
        ).alias("dm_sum"),
        F.sum(F.round(psi, 9).cast(d12)).alias("psi_sum"),
        F.sum(F.round(psi2, 6).cast(d12)).alias("psi2_sum"),
    )
    n = F.col("n")
    ok = F.col("n_unmodeled") == 0
    v_dm = F.round(F.col("dm_sum").cast("double") / n, 9)
    v_dr = F.round(F.col("psi_sum").cast("double") / n, 9)
    se = F.round(
        F.sqrt(
            F.greatest(
                F.col("psi2_sum").cast("double")
                - F.col("psi_sum").cast("double")
                * F.col("psi_sum").cast("double")
                / n,
                F.lit(0.0),
            )
        )
        / n,
        9,
    )
    base = agg.select(
        n.cast("long").alias("n_users"),
        F.col("k").cast("long").alias("n_matched"),
        F.when(ok, v_dm).alias("value_dm"),
        F.when(ok, v_dr).alias("value_dr"),
        F.when(ok, se).alias("value_dr_se"),
    )
    return base.select(
        "*",
        F.round(
            F.col("value_dr") - F.lit(1.96) * F.col("value_dr_se"), 9
        ).alias("value_dr_lo"),
        F.round(
            F.col("value_dr") + F.lit(1.96) * F.col("value_dr_se"), 9
        ).alias("value_dr_hi"),
    )


register(
    "events_policy_dr",
    oracle=f"""
WITH per_user AS ({_PER_USER_SQL}),
scored AS (
  SELECT
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      ::BIGINT % {_POLICY_ARMS} AS INT) AS a_logged,
    {_STRATA_SQL.replace("y", "y_events")} AS a_target,
    revenue AS r
  FROM per_user
),
q AS (
  SELECT a_logged AS arm,
    ROUND(CAST(SUM(r) AS DOUBLE) / COUNT(*), 9) AS qv
  FROM scored GROUP BY a_logged
),
cells AS (
  SELECT a_target AS t,
    CASE WHEN a_logged = a_target THEN 1 ELSE 0 END AS m,
    COUNT(*) AS n_c,
    SUM(r) AS sr,
    SUM(CAST(CAST(r AS DECIMAL(19,2)) * CAST(r AS DECIMAL(19,2))
        AS DECIMAL(38,6))) AS srr
  FROM scored GROUP BY 1, 2
),
jn AS (
  SELECT c.*, q.qv,
    q.qv * (1 - CAST({float(_POLICY_ARMS)} AS DOUBLE) * c.m) AS c0,
    CAST({float(_POLICY_ARMS)} AS DOUBLE) * c.m AS c1
  FROM cells c LEFT JOIN q ON q.arm = c.t
),
terms AS (
  SELECT *,
    n_c * c0 + c1 * CAST(sr AS DOUBLE) AS psi,
    n_c * c0 * c0 + 2 * c0 * c1 * CAST(sr AS DOUBLE)
      + c1 * c1 * CAST(srr AS DOUBLE) AS psi2
  FROM jn
),
aggr AS (
  SELECT
    CAST(SUM(n_c) AS BIGINT) AS n_users,
    CAST(SUM(CASE WHEN m = 1 THEN n_c ELSE 0 END) AS BIGINT)
      AS n_matched,
    SUM(CASE WHEN qv IS NULL THEN n_c ELSE 0 END) AS n_unmodeled,
    CAST(SUM(CAST(ROUND(n_c * qv, 9) AS DECIMAL(38,12)))
      AS DOUBLE) AS dm_sum,
    CAST(SUM(CAST(ROUND(psi, 9) AS DECIMAL(38,12)))
      AS DOUBLE) AS psi_sum,
    CAST(SUM(CAST(ROUND(psi2, 6) AS DECIMAL(38,12)))
      AS DOUBLE) AS psi2_sum
  FROM terms
),
fin AS (
  SELECT n_users, n_matched,
    CASE WHEN n_unmodeled = 0
      THEN ROUND(dm_sum / n_users, 9) END AS value_dm,
    CASE WHEN n_unmodeled = 0
      THEN ROUND(psi_sum / n_users, 9) END AS value_dr,
    CASE WHEN n_unmodeled = 0
      THEN ROUND(SQRT(GREATEST(psi2_sum
          - psi_sum * psi_sum / n_users,
          CAST(0.0 AS DOUBLE))) / n_users, 9) END AS value_dr_se
  FROM aggr
)
SELECT *,
  ROUND(value_dr - CAST(1.96 AS DOUBLE) * value_dr_se, 9)
    AS value_dr_lo,
  ROUND(value_dr + CAST(1.96 AS DOUBLE) * value_dr_se, 9)
    AS value_dr_hi
FROM fin
""",
    doc="Doubly-robust off-policy value (Dudik/Langford/Li 2011) of "
    "the same deterministic targeting policy events_policy_ips_snips "
    "evaluates: the DIRECT METHOD scores every user with an "
    "arm-level outcome model (per-logged-arm mean reward) at the "
    "target action, and the IPS term corrects the model's residual "
    "on the matched logs at the exact known propensity (1/4 by "
    "hash design) — unbiased if EITHER nuisance is right, variance "
    "between the two (completes the policy triad next to IPS/SNIPS "
    "and the AIPW ATE, which is the same algebra at 2 arms).  "
    "Because the target policy is deterministic and the model "
    "arm-level, the influence contribution is linear in r within "
    "each (target-arm x matched) cell, so value_dr, its "
    "influence-function SE sqrt(sum(psi - psibar)^2)/n and the "
    "1.96-z CI fold from an 8-cell grid of (count, sum r, sum r^2) "
    "— exact decimal moments (squares via the (19,2) cast, the "
    "AIPW syy precedent), psi/psi^2 quantized at 9/6 decimals "
    "before order-independent DECIMAL(38,12) folds, NULL (never "
    "fabricated) if any target arm lacks logged users to model.  "
    "Scale: ONE user-grain grouped pass, then everything rides the "
    "O(arms) epilogue.",
    tags=("events", "causal", "policy", "statistics", "extension"),
    extended=True,
)(_ops_dr)


# -- restricted mean survival time between arms (round 12) ----------------------

_RMST_TAU = 14  # days: the restriction horizon (fixture spans ~0-30d)


def _rmst_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.min(day).alias("f"),
        F.max(day).alias("l"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 90),
                day,
            )
        ).alias("cday"),
    )
    users = per_user.select(
        _variant_col(F.col("user_id")).alias("variant"),
        F.when(
            F.col("cday").isNotNull(),
            F.datediff("cday", "f"),
        ).otherwise(F.datediff("l", "f")).alias("t"),
        F.col("cday").isNotNull().cast("int").alias("dead"),
    )
    grp = users.groupBy("variant", "t").agg(
        F.count("*").cast("long").alias("m"),
        F.sum("dead").cast("long").alias("d"),
    )
    wcum = Window.partitionBy("variant").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("variant").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    word = Window.partitionBy("variant").orderBy("t")
    risk = grp.select(
        "variant",
        "t",
        "m",
        "d",
        (
            F.sum("m").over(wall) - F.sum("m").over(wcum) + F.col("m")
        ).alias("n_risk"),
    )
    # the KM log-space machinery (events_km_survival), per arm; S is
    # materialized through ONE input/output-quantized exp per spine
    # row (the sigmoid_q convention) because RMST integrates S itself
    terms = risk.select(
        "variant",
        "t",
        "m",
        "d",
        "n_risk",
        F.when(
            F.col("d") < F.col("n_risk"),
            F.round(
                F.log(
                    F.lit(1.0)
                    - F.col("d").cast("double") / F.col("n_risk")
                ),
                9,
            ),
        ).alias("lnterm"),
        F.max(
            F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
        ).over(wcum).alias("zeroed"),
    )
    spine = terms.select(
        "variant",
        "t",
        "m",
        "d",
        "n_risk",
        F.when(F.col("zeroed") == 1, F.lit(0.0)).otherwise(
            F.round(
                F.exp(
                    F.round(
                        F.sum(
                            F.col("lnterm").cast("decimal(20,12)")
                        ).over(wcum).cast("double"),
                        9,
                    )
                ),
                7,
            )
        ).alias("s"),
        F.lead("t").over(word).alias("nt"),
    )
    tau = F.lit(_RMST_TAU)
    width = F.greatest(
        F.lit(0),
        F.least(F.coalesce(F.col("nt"), tau), tau)
        - F.least(F.col("t"), tau),
    )
    # Greenwood-style RMST variance (round 13, verdict-r12 #5 —
    # survRM2's form): V = sum over event times of
    # A_i^2 * d_i / (n_i (n_i - d_i)) with A_i the REMAINING area
    # under S from t_i to tau — a reverse cumulative sum of the
    # SAME quantized per-row contributions the point estimate folds,
    # so the variance rides the identical O(distinct-t) spine.  The
    # d_i = n_i terminal jump is excluded (S is 0 past it and the
    # Greenwood factor degenerates), matching the standard estimator.
    contrib = spine.select(
        "variant",
        "t",
        "m",
        "d",
        "n_risk",
        F.round(F.col("s") * width.cast("double"), 7)
        .cast("decimal(20,12)")
        .alias("c"),
    )
    wrev = Window.partitionBy("variant").orderBy("t").rowsBetween(
        0, Window.unboundedFollowing
    )
    areas = contrib.select(
        "variant",
        "t",
        "m",
        "d",
        "n_risk",
        "c",
        F.sum("c").over(wrev).cast("double").alias("a"),
    )
    gwterm = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.col("a")
        * F.col("a")
        * F.col("d")
        / (F.col("n_risk") * (F.col("n_risk") - F.col("d"))),
    ).otherwise(F.lit(0.0))
    arm = areas.groupBy("variant").agg(
        F.sum("m").cast("long").alias("n_users"),
        F.sum("d").cast("long").alias("n_deaths"),
        F.round(
            F.least(F.min("t"), tau).cast("double")
            + F.sum(F.col("c")).cast("double"),
            9,
        ).alias("rmst"),
        F.sum(F.round(gwterm, 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("gw_var"),
    )
    w = arm.agg(
        *[
            F.max(
                F.when(F.col("variant") == v, F.col(c))
            ).alias(f"{c}_{tag}")
            for tag, v in (("a", 0), ("b", 1))
            for c in ("n_users", "n_deaths", "rmst", "gw_var")
        ]
    )
    base = w.select(
        F.col("n_users_a").alias("n_users_a"),
        F.col("n_users_b").alias("n_users_b"),
        F.col("n_deaths_a").alias("n_deaths_a"),
        F.col("n_deaths_b").alias("n_deaths_b"),
        F.col("rmst_a").alias("rmst_a"),
        F.col("rmst_b").alias("rmst_b"),
        F.round(F.col("rmst_b") - F.col("rmst_a"), 9).alias(
            "rmst_diff"
        ),
        F.round(F.sqrt(F.col("gw_var_a")), 9).alias("rmst_se_a"),
        F.round(F.sqrt(F.col("gw_var_b")), 9).alias("rmst_se_b"),
        F.round(
            F.sqrt(F.col("gw_var_a") + F.col("gw_var_b")), 9
        ).alias("rmst_diff_se"),
    )
    return base.select(
        "*",
        F.round(
            F.col("rmst_diff")
            - F.lit(1.96) * F.col("rmst_diff_se"),
            9,
        ).alias("rmst_diff_lo"),
        F.round(
            F.col("rmst_diff")
            + F.lit(1.96) * F.col("rmst_diff_se"),
            9,
        ).alias("rmst_diff_hi"),
    )


register(
    "events_ab_rmst",
    oracle=f"""
WITH ed AS (
  SELECT user_id, event_type, value,
    CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
per_user AS (
  SELECT user_id, MIN(day) AS f, MAX(day) AS l,
    MIN(CASE WHEN event_type = 'purchase' AND value > 90
        THEN day END) AS cday
  FROM ed GROUP BY user_id
),
users AS (
  SELECT
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      ::BIGINT % 2 AS INT) AS variant,
    CASE WHEN cday IS NOT NULL THEN datediff('day', f, cday)
      ELSE datediff('day', f, l) END AS t,
    CAST(cday IS NOT NULL AS INT) AS dead
  FROM per_user
),
grp AS (
  SELECT variant, t, CAST(COUNT(*) AS BIGINT) AS m,
    CAST(SUM(dead) AS BIGINT) AS d
  FROM users GROUP BY variant, t
),
risk AS (
  SELECT variant, t, m, d,
    SUM(m) OVER (PARTITION BY variant)
      - SUM(m) OVER (PARTITION BY variant ORDER BY t
                     ROWS UNBOUNDED PRECEDING) + m AS n_risk
  FROM grp
),
terms AS (
  SELECT variant, t, m, d, n_risk,
    CASE WHEN d < n_risk
      THEN ROUND(ln(1 - CAST(d AS DOUBLE) / n_risk), 9) END AS lnterm,
    MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
      OVER (PARTITION BY variant ORDER BY t ROWS UNBOUNDED PRECEDING)
      AS zeroed
  FROM risk
),
spine AS (
  SELECT variant, t, m, d, n_risk,
    CASE WHEN zeroed = 1 THEN CAST(0.0 AS DOUBLE)
      ELSE ROUND(EXP(ROUND(CAST(SUM(CAST(lnterm AS DECIMAL(20,12)))
        OVER (PARTITION BY variant ORDER BY t
              ROWS UNBOUNDED PRECEDING) AS DOUBLE), 9)), 7) END AS s,
    LEAD(t) OVER (PARTITION BY variant ORDER BY t) AS nt
  FROM terms
),
contrib AS (
  SELECT variant, t, m, d, n_risk,
    CAST(ROUND(s * CAST(GREATEST(0,
        LEAST(COALESCE(nt, {_RMST_TAU}), {_RMST_TAU})
        - LEAST(t, {_RMST_TAU})) AS DOUBLE), 7)
      AS DECIMAL(20,12)) AS c
  FROM spine
),
areas AS (
  SELECT variant, t, m, d, n_risk, c,
    CAST(SUM(c) OVER (PARTITION BY variant ORDER BY t
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      AS DOUBLE) AS a
  FROM contrib
),
arm AS (
  SELECT variant,
    CAST(SUM(m) AS BIGINT) AS n_users,
    CAST(SUM(d) AS BIGINT) AS n_deaths,
    ROUND(CAST(LEAST(MIN(t), {_RMST_TAU}) AS DOUBLE)
      + CAST(SUM(c) AS DOUBLE), 9) AS rmst,
    CAST(SUM(CAST(ROUND(CASE WHEN d > 0 AND d < n_risk
        THEN a * a * d / (n_risk * (n_risk - d))
        ELSE CAST(0.0 AS DOUBLE) END, 12) AS DECIMAL(38,12)))
      AS DOUBLE) AS gw_var
  FROM areas GROUP BY variant
),
fin AS (
  SELECT
    MAX(CASE WHEN variant = 0 THEN n_users END) AS n_users_a,
    MAX(CASE WHEN variant = 1 THEN n_users END) AS n_users_b,
    MAX(CASE WHEN variant = 0 THEN n_deaths END) AS n_deaths_a,
    MAX(CASE WHEN variant = 1 THEN n_deaths END) AS n_deaths_b,
    MAX(CASE WHEN variant = 0 THEN rmst END) AS rmst_a,
    MAX(CASE WHEN variant = 1 THEN rmst END) AS rmst_b,
    ROUND(MAX(CASE WHEN variant = 1 THEN rmst END)
      - MAX(CASE WHEN variant = 0 THEN rmst END), 9) AS rmst_diff,
    ROUND(SQRT(MAX(CASE WHEN variant = 0 THEN gw_var END)), 9)
      AS rmst_se_a,
    ROUND(SQRT(MAX(CASE WHEN variant = 1 THEN gw_var END)), 9)
      AS rmst_se_b,
    ROUND(SQRT(MAX(CASE WHEN variant = 0 THEN gw_var END)
      + MAX(CASE WHEN variant = 1 THEN gw_var END)), 9)
      AS rmst_diff_se
  FROM arm
)
SELECT *,
  ROUND(rmst_diff - CAST(1.96 AS DOUBLE) * rmst_diff_se, 9)
    AS rmst_diff_lo,
  ROUND(rmst_diff + CAST(1.96 AS DOUBLE) * rmst_diff_se, 9)
    AS rmst_diff_hi
FROM fin
""",
    doc="Restricted mean survival time (RMST) difference between the "
    f"hash-bucketed arms at tau = {_RMST_TAU} days — the "
    "model-free effect size for censored time-to-event data "
    "(Royston & Parmar 2013): events_ab_logrank answers IS there a "
    "survival difference, RMST answers HOW MANY DAYS (within tau) "
    "the treatment delays or hastens the event — the number a "
    "decision needs.  Event = days from first activity to first "
    "BIG purchase (value > 90); users who never convert are "
    "right-censored at their last active day (the KM churn cut is "
    "degenerate on the fixture — zero silent users — so "
    "time-to-conversion is the honest non-degenerate target).  Per "
    "arm, the Kaplan-Meier step curve on the arm's own event-time "
    "spine (events_km_survival machinery: ln terms quantized at "
    "source, decimal-folded), then "
    "RMST = integral_0^tau S(t) dt as the exact step-function sum "
    "S_i x (clamped interval width) — one input/output-quantized "
    "exp per spine row materializes S (the sigmoid_q convention), "
    "products quantize to 7 decimals before the order-independent "
    "DECIMAL fold.  INFERENCE (round 13, verdict-r12 #5): the "
    "Greenwood-based RMST variance (survRM2's estimator) — "
    "V = sum_i A_i^2 d_i / (n_i (n_i - d_i)) with A_i the remaining "
    "area under S from t_i to tau, a reverse-cumulative DECIMAL "
    "window over the SAME quantized contributions the point "
    "estimate folds — yields rmst_se_a/b, rmst_diff_se and the "
    "1.96-z CI (rmst_diff_lo/hi); terms quantize to 12 decimals "
    "before the order-independent fold, terminal d=n jumps "
    "excluded as in the standard estimator.  Scale: one grouped "
    "scan of events to per-user spans; every window rides the "
    "per-arm O(distinct lifetimes) spine.",
    tags=(
        "events", "survival", "ab-testing", "statistics", "extension",
        "headline",
    ),
)(_rmst_arms)


# -- anytime-valid confidence sequence on the rate difference (round 12) --------
#
# The duality the mSPRT only half-uses: inverting the SAME normal-
# mixture likelihood ratio over all candidate effects theta gives a
# CONFIDENCE SEQUENCE — an interval valid at every look
# simultaneously (Robbins 1970 mixture bound; Howard et al. 2021
# time-uniform CSs; Johari et al.'s always-valid CIs are exactly
# this inversion).  {theta : lnLam_t(theta) < ln(1/alpha)} solves to
#   diff_t +/- sqrt( (1 + V tau^2) / (V^2 tau^2)
#                    * (2 ln(1/alpha) + ln(1 + V tau^2)) )
# with V the cumulative pooled-variance information — so the margin
# needs one quantized ln and one sqrt per day row, and the interval
# NEVER un-covers a value it has excluded (width shrinks ~sqrt(ln V/V)).


def _confseq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _confseq_epilogue(_msprt_cum(_msprt_daily(spark, sf_dir)))


def _confseq_epilogue(cum: DataFrame) -> DataFrame:
    """The confidence-sequence margin/interval columns from a
    cumulative (d, cn_a, cx_a, cn_b, cx_b) path — shared by the
    event-grain fixture twin and the user-grain production form
    (round 13), mirroring the _msprt_epilogue sharing."""
    p_a = F.col("cx_a").cast("double") / F.col("cn_a")
    p_b = F.col("cx_b").cast("double") / F.col("cn_b")
    pool = (F.col("cx_a") + F.col("cx_b")).cast("double") / (
        F.col("cn_a") + F.col("cn_b")
    )
    var_d = pool * (1 - pool) * (
        1.0 / F.col("cn_a") + 1.0 / F.col("cn_b")
    )
    ok = var_d > 0
    v = 1.0 / var_d
    a = 1.0 + v * _MSPRT_TAU2
    ln_a = F.log(F.round(a, 9))
    margin = F.when(
        ok,
        F.round(
            F.sqrt(
                a / (v * _MSPRT_TAU2) / v
                * (2 * _MSPRT_LN_BOUND + ln_a)
            ),
            9,
        ),
    )
    diff = F.when(ok, F.round(p_b - p_a, 9))
    lo = F.when(ok, F.round(diff - margin, 9))
    hi = F.when(ok, F.round(diff + margin, 9))
    return cum.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("cn_a").cast("long").alias("cum_n_a"),
        F.col("cn_b").cast("long").alias("cum_n_b"),
        diff.alias("rate_diff"),
        margin.alias("cs_margin"),
        lo.alias("cs_lo"),
        hi.alias("cs_hi"),
        F.coalesce(
            F.when(ok, (lo > 0) | (hi < 0)), F.lit(False)
        ).alias("excludes_zero"),
    ).orderBy("day")


# The st/m epilogue of the confidence-sequence oracle — shared by the
# event-grain fixture twin and the user-grain production form.
_CONFSEQ_EPILOGUE_SQL = f"""st AS (
  SELECT d, cn_a, cn_b, cx_a, cx_b,
    (CAST(cx_a AS DOUBLE) + cx_b) / (cn_a + cn_b)
      * (1 - (CAST(cx_a AS DOUBLE) + cx_b) / (cn_a + cn_b))
      * (CAST(1.0 AS DOUBLE) / cn_a + CAST(1.0 AS DOUBLE) / cn_b)
      AS var_d
  FROM cum WHERE cn_a > 0 AND cn_b > 0
),
m AS (
  SELECT d, cn_a, cn_b,
    CASE WHEN var_d > 0
      THEN ROUND(CAST(cx_b AS DOUBLE) / cn_b
                 - CAST(cx_a AS DOUBLE) / cn_a, 9) END AS rate_diff,
    CASE WHEN var_d > 0 THEN
      ROUND(SQRT((1.0 + (CAST(1.0 AS DOUBLE) / var_d) * {_MSPRT_TAU2})
        / ((CAST(1.0 AS DOUBLE) / var_d) * {_MSPRT_TAU2})
        / (CAST(1.0 AS DOUBLE) / var_d)
        * (2 * {_MSPRT_LN_BOUND!r}
           + LN(ROUND(1.0 + (CAST(1.0 AS DOUBLE) / var_d)
                      * {_MSPRT_TAU2}, 9)))), 9) END AS cs_margin
  FROM st
)
SELECT strftime(d, '%Y-%m-%d') AS day,
  CAST(cn_a AS BIGINT) AS cum_n_a,
  CAST(cn_b AS BIGINT) AS cum_n_b,
  rate_diff, cs_margin,
  CASE WHEN cs_margin IS NOT NULL
    THEN ROUND(rate_diff - cs_margin, 9) END AS cs_lo,
  CASE WHEN cs_margin IS NOT NULL
    THEN ROUND(rate_diff + cs_margin, 9) END AS cs_hi,
  COALESCE(CASE WHEN cs_margin IS NOT NULL
    THEN ROUND(rate_diff - cs_margin, 9) > 0
      OR ROUND(rate_diff + cs_margin, 9) < 0 END, FALSE)
    AS excludes_zero
FROM m ORDER BY day
"""

register(
    "events_ab_confidence_sequence",
    oracle=f"""\n{_MSPRT_CUM_SQL}\n{_CONFSEQ_EPILOGUE_SQL}""",
    doc="Anytime-valid confidence sequence on the daily purchase-rate "
    "difference — the inversion of the SAME normal-mixture likelihood "
    "ratio the mSPRT thresholds (Robbins 1970; Howard et al. "
    "time-uniform CSs; Johari et al. always-valid CIs): "
    "{theta : lnLam_t(theta) < ln(1/alpha)} solves in closed form "
    "to diff_t +/- sqrt((1 + V tau^2)/(V^2 tau^2) * (2 ln(1/alpha) + "
    "ln(1 + V tau^2))) with V the cumulative pooled-variance "
    "information, so the interval is simultaneously valid at EVERY "
    "look — the number a live experiment dashboard should actually "
    "display instead of a fixed-horizon CI that lies under peeking.  "
    "Shares the accumulation-path machinery (_msprt_cum) and the "
    "tau^2/alpha tuning with events_ab_sequential_msprt; "
    "excludes_zero agrees with the mSPRT's crossing decision up to "
    "the shared boundary algebra (pinned in tests/test_round12.py).  "
    "GRAIN: event-grain trials — the documented fixture twin; the "
    "user-grain production form is "
    "events_ab_confidence_sequence_users (same epilogue, trials at "
    "the randomization unit, no iid caveat).  "
    "One quantized ln + one sqrt per day row.  Scale: one grouped "
    "pass to the (day x variant) grid; every window rides the "
    "O(days) spine.",
    tags=(
        "events", "ab-testing", "sequential", "statistics", "extension",
        "headline",
    ),
)(_confseq)


def _confseq_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return _confseq_epilogue(
        _msprt_cum(_msprt_user_daily(_msprt_user_per_user(ev)))
    )


register(
    "events_ab_confidence_sequence_users",
    oracle=f"""
{_MSPRT_USER_CUM_SQL}
{_CONFSEQ_EPILOGUE_SQL}""",
    doc="USER-GRAIN anytime-valid confidence sequence — the "
    "production form of events_ab_confidence_sequence (round-12 "
    "verdict #2): the SAME mixture-inversion margin "
    "(_confseq_epilogue / _CONFSEQ_EPILOGUE_SQL, shared verbatim) "
    "over the user-grain trial grid of events_ab_msprt_users "
    "(cumulative distinct users exposed vs users with a first big "
    "purchase, value > 90), so each user is one Bernoulli trial, "
    "the randomization unit is the analysis unit, and the "
    "time-uniform coverage guarantee applies with no "
    "event-level-iid caveat — the interval a live experiment "
    "dashboard should display.  rate_diff/cs_lo/cs_hi here read as "
    "conversion-rate differences between arms.  Scale: one "
    "user-grain grouped pass (map-side combinable min), then "
    "everything rides the O(days) spine.",
    tags=("events", "ab-testing", "sequential", "statistics", "extension"),
    extended=True,
)(_confseq_users)


# -- bandit replay: day-batched UCB1 offline evaluation (round 13) -----------
#
# Li et al. (WSDM 2011) replay protocol on uniformly-logged data, at
# DAY granularity (the batch-serving production pattern: the policy's
# arm choice updates once per day, every logged event of the chosen
# arm that day is a matched trial).  Uniform logging means the
# matched subset is an unbiased sample of what the UCB policy would
# have seen online; the estimator is cumulative matched reward over
# cumulative matched pulls.

_UCB_ARMS = 4


def _ucb_sql(n: str, s: str, t: str) -> str:
    """UCB1 index (Auer et al. 2002) mean + sqrt(2 ln t / n) as
    mirrored SQL: the ln is 9dp-quantized at birth (the BM25/A-Res
    libm discipline — the ONE transcendental), sqrt and the
    divisions are correctly-rounded IEEE with identical op order in
    both engines, and the index itself rounds to 9dp where born."""
    return (
        f"round(CAST({s} AS DOUBLE)/{n}"
        f" + sqrt(2*round(ln(CAST({t} AS DOUBLE)),9)/{n}), 9)"
    )


def _ucb_chosen_spark(st: str, var: str) -> str:
    """Deterministic UCB arm choice from state struct ``st`` =
    (n: array<bigint>, s: array<bigint>): lowest-index unexplored
    arm first, else argmax of the UCB index with lowest-index
    tiebreak (array_min over (-index, arm) structs).  ``var`` names
    the lambda variable so nested uses never shadow."""
    t = (
        "("
        + "+".join(
            f"element_at({st}.n, {k})" for k in range(1, _UCB_ARMS + 1)
        )
        + ")"
    )
    u = _ucb_sql(
        f"element_at({st}.n, {var}+1)",
        f"element_at({st}.s, {var}+1)",
        t,
    )
    return (
        f"IF(exists({st}.n, {var}x -> {var}x = 0), "
        f"element_at(filter(sequence(0, {_UCB_ARMS - 1}), "
        f"{var} -> element_at({st}.n, {var}+1) = 0), 1), "
        f"array_min(transform(sequence(0, {_UCB_ARMS - 1}), "
        f"{var} -> struct(-{u} AS a, {var} AS b))).b)"
    )


_UCB_ZERO = (
    "named_struct('n', array("
    + ", ".join(["CAST(0 AS BIGINT)"] * _UCB_ARMS)
    + "), 's', array("
    + ", ".join(["CAST(0 AS BIGINT)"] * _UCB_ARMS)
    + "))"
)


def _ucb_fold_sql(upper: str) -> str:
    """Fold the first ``upper`` day-structs through the batched-UCB
    state update.  The chosen-arm expression (lambda var j) is
    inlined in both transforms; the outer transform index i is the
    arm being updated."""
    ch = _ucb_chosen_spark("st", "j")
    upd = (
        "transform(st.{f}, (v, i) -> v + IF(i = " + ch + ", "
        "element_at(day.{f2}, i+1), CAST(0 AS BIGINT)))"
    )
    return (
        f"aggregate(slice(days, 1, {upper}), {_UCB_ZERO}, "
        "(st, day) -> named_struct("
        "'n', " + upd.format(f="n", f2="n") + ", "
        "'s', " + upd.format(f="s", f2="s") + "))"
    )


def _bandit_ucb_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-batched UCB1 replay over the events log: logged arm =
    uniform md5 hash of event_id over 4 arms (known 1/4 propensity,
    the _ops_ips logging policy at event grain), reward = purchase
    indicator.  Output: one row per day with the policy's chosen
    arm, the four UCB indices it saw, the matched trials, and the
    running replay estimate.

    Scale shape: ONE map-side-combinable grouped pass collapses the
    corpus to the O(days x 4) grid; the sequential replay is a
    native-expression fold over the sorted day array (the
    orders_holt_smoothing pattern) — O(days^2 x arms) scalar ops on
    a ~365-row spine, no UDF, no driver loop, no corpus window.  The
    oracle replays identical steps in a recursive CTE, so every
    intermediate state, index value, and arm choice is hash-pinned.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
        _variant_col(F.col("event_id"), mod=_UCB_ARMS)
        .cast("int")
        .alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("r"),
    )
    g = daily.groupBy("d").agg(
        *[
            F.sum(F.when(F.col("arm") == k, 1).otherwise(0)).alias(f"n{k}")
            for k in range(_UCB_ARMS)
        ],
        *[
            F.sum(F.when(F.col("arm") == k, F.col("r")).otherwise(0)).alias(
                f"s{k}"
            )
            for k in range(_UCB_ARMS)
        ],
    )
    one = g.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("d"),
                    F.array(
                        *[F.col(f"n{k}") for k in range(_UCB_ARMS)]
                    ).alias("n"),
                    F.array(
                        *[F.col(f"s{k}") for k in range(_UCB_ARMS)]
                    ).alias("s"),
                )
            )
        ).alias("days")
    )
    rows = (
        one.select(
            F.explode(F.expr("sequence(1, size(days))")).alias("idx"),
            "days",
        )
        .withColumn("prev", F.expr(_ucb_fold_sql("idx - 1")))
        .withColumn("cur", F.expr(_ucb_fold_sql("idx")))
        .withColumn("day", F.expr("element_at(days, idx)"))
        .withColumn("chosen", F.expr(_ucb_chosen_spark("prev", "i")))
    )
    tb = (
        "("
        + "+".join(
            f"element_at(prev.n, {k})" for k in range(1, _UCB_ARMS + 1)
        )
        + ")"
    )
    cn = (
        "("
        + "+".join(
            f"element_at(cur.n, {k})" for k in range(1, _UCB_ARMS + 1)
        )
        + ")"
    )
    cs = (
        "("
        + "+".join(
            f"element_at(cur.s, {k})" for k in range(1, _UCB_ARMS + 1)
        )
        + ")"
    )
    ucb_cols = [
        F.expr(
            f"IF(element_at(prev.n, {k + 1}) = 0, CAST(NULL AS DOUBLE), "
            + _ucb_sql(
                f"element_at(prev.n, {k + 1})",
                f"element_at(prev.s, {k + 1})",
                tb,
            )
            + ")"
        ).alias(f"ucb{k}")
        for k in range(_UCB_ARMS)
    ]
    return rows.select(
        F.col("day.d").alias("d"),
        F.col("chosen").cast("int").alias("chosen_arm"),
        F.expr(tb).cast("long").alias("t_before"),
        *ucb_cols,
        F.expr("element_at(day.n, chosen + 1)").cast("long").alias(
            "matched_n"
        ),
        F.expr("element_at(day.s, chosen + 1)").cast("long").alias(
            "matched_s"
        ),
        F.expr(cn).cast("long").alias("cum_n"),
        F.expr(cs).cast("long").alias("cum_s"),
        F.expr(
            f"IF({cn} = 0, CAST(NULL AS DOUBLE), "
            f"round(CAST({cs} AS DOUBLE)/{cn}, 9))"
        ).alias("avg_reward"),
    ).orderBy("d")


def _ucb_oracle() -> str:
    arms = range(_UCB_ARMS)
    n_cols = ",\n    ".join(
        f"CAST(COALESCE(SUM(CASE WHEN arm = {k} THEN cnt END), 0) "
        f"AS BIGINT) AS n{k}"
        for k in arms
    )
    s_cols = ",\n    ".join(
        f"CAST(COALESCE(SUM(CASE WHEN arm = {k} THEN r END), 0) "
        f"AS BIGINT) AS s{k}"
        for k in arms
    )
    t_pre = "(rec.a0 + rec.a1 + rec.a2 + rec.a3)"
    u_exprs = ",\n        ".join(
        f"CASE WHEN rec.a{k} = 0 THEN NULL ELSE "
        + _ucb_sql(f"rec.a{k}", f"rec.b{k}", t_pre)
        + f" END AS u{k}"
        for k in arms
    )
    anchor_zero = ", ".join(
        f"CAST(0 AS BIGINT) AS a{k}" for k in arms
    ) + ", " + ", ".join(f"CAST(0 AS BIGINT) AS b{k}" for k in arms)
    anchor_null = (
        "CAST(NULL AS INT) AS chosen, "
        + ", ".join(f"CAST(NULL AS DOUBLE) AS u{k}" for k in arms)
        + ", CAST(NULL AS BIGINT) AS t_before"
        + ", CAST(NULL AS BIGINT) AS matched_n"
        + ", CAST(NULL AS BIGINT) AS matched_s"
    )
    a_upd = ",\n    ".join(
        f"q.a{k} + CASE WHEN q.ch = {k} THEN q.n{k} ELSE 0 END AS a{k}"
        for k in arms
    )
    b_upd = ",\n    ".join(
        f"q.b{k} + CASE WHEN q.ch = {k} THEN q.s{k} ELSE 0 END AS b{k}"
        for k in arms
    )
    pass_nu = ", ".join(
        [f"s.n{k}" for k in arms] + [f"s.s{k}" for k in arms]
    )
    pass_ab = ", ".join(
        [f"rec.a{k}" for k in arms] + [f"rec.b{k}" for k in arms]
    )
    m_case = (
        "CASE q.ch "
        + " ".join(f"WHEN {k} THEN q.n{k}" for k in arms)
        + " END"
    )
    ms_case = (
        "CASE q.ch "
        + " ".join(f"WHEN {k} THEN q.s{k}" for k in arms)
        + " END"
    )
    return f"""
WITH RECURSIVE grid AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
         % {_UCB_ARMS} AS INT) AS arm,
    COUNT(*) AS cnt,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS r
  FROM events GROUP BY 1, 2
),
days AS (
  SELECT d,
    {n_cols},
    {s_cols}
  FROM grid GROUP BY d
),
seq AS (SELECT *, row_number() OVER (ORDER BY d) AS idx FROM days),
rec AS (
  SELECT CAST(0 AS BIGINT) AS idx, CAST(NULL AS DATE) AS d,
    {anchor_zero},
    {anchor_null}
  UNION ALL
  SELECT q.idx, q.d,
    {a_upd},
    {b_upd},
    CAST(q.ch AS INT) AS chosen,
    q.u0, q.u1, q.u2, q.u3,
    q.t_before,
    {m_case} AS matched_n,
    {ms_case} AS matched_s
  FROM (
    SELECT p.*,
      CASE WHEN p.a0 = 0 THEN 0 WHEN p.a1 = 0 THEN 1
           WHEN p.a2 = 0 THEN 2 WHEN p.a3 = 0 THEN 3
        ELSE CASE
          WHEN p.u0 >= p.u1 AND p.u0 >= p.u2 AND p.u0 >= p.u3 THEN 0
          WHEN p.u1 >= p.u2 AND p.u1 >= p.u3 THEN 1
          WHEN p.u2 >= p.u3 THEN 2
          ELSE 3 END
      END AS ch
    FROM (
      SELECT s.idx, s.d, {pass_nu},
        {pass_ab},
        CAST({t_pre} AS BIGINT) AS t_before,
        {u_exprs}
      FROM rec JOIN seq s ON s.idx = rec.idx + 1
    ) p
  ) q
)
SELECT d, chosen AS chosen_arm, t_before,
  u0 AS ucb0, u1 AS ucb1, u2 AS ucb2, u3 AS ucb3,
  matched_n, matched_s,
  CAST(a0 + a1 + a2 + a3 AS BIGINT) AS cum_n,
  CAST(b0 + b1 + b2 + b3 AS BIGINT) AS cum_s,
  CASE WHEN a0 + a1 + a2 + a3 = 0 THEN NULL
    ELSE ROUND(CAST(b0 + b1 + b2 + b3 AS DOUBLE)
               / (a0 + a1 + a2 + a3), 9) END AS avg_reward
FROM rec WHERE idx > 0 ORDER BY d
"""


register(
    "events_bandit_ucb_replay",
    oracle=_ucb_oracle(),
    doc="Offline bandit evaluation: day-batched UCB1 replay (Li et "
    "al. 2011 replay protocol; Auer et al. 2002 index) over "
    "uniformly-logged 4-arm data — the sequential-decision "
    "counterpart to the one-shot IPS/SNIPS/DR estimators: 'what "
    "would the LEARNING policy have earned?', not just a fixed "
    "target policy.  Logged arm = md5(event_id) % 4 (known 1/4 "
    "propensity), reward = purchase indicator; each day the policy "
    "picks lowest-index-unexplored else argmax mean + "
    "sqrt(2 ln t/n) (9dp-quantized ln, lowest-index ties), matched "
    "events update state at the day boundary.  Spark folds the "
    "sorted day array with a native aggregate lambda "
    "(orders_holt_smoothing pattern); the oracle replays identical "
    "steps in a recursive CTE — every UCB index, arm choice, and "
    "state hash-pinned.  Scale: one map-side-combinable pass to the "
    "O(days x 4) grid, then an O(days^2 x arms) scalar epilogue on "
    "the spine.",
    tags=(
        "events", "causal", "policy", "bandit", "sequential", "extension",
        "headline",
    ),
)(_bandit_ucb_replay)
