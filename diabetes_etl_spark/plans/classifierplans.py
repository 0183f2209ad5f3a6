"""Registered queries for the in-plan logistic-regression quality
classifier (operators/classifier.py): fixed-round batch GD training
whose every intermediate weight vector is hash-pinned by an
unrolled-CTE oracle, plus the trained model applied as a scan-local
scoring expression.

Feature/label contract (kept byte-identical between the Spark
expressions and the oracle SQL — the fixed left-to-right IEEE order
is the determinism mechanism):

- f1 = ROUND(LENGTH(text) / 1000.0, 4)           (length, kilochars)
- f2 = ROUND((LENGTH(text) - LENGTH(REPLACE(text,' ','')))
             / LENGTH(text), 4)                   (space ratio)
- y  = 1 if lang = 'en' else 0

Both features quantize to 4 decimals at the source so the
DECIMAL(38,15) gradient fold is exact (see operators/classifier.py's
determinism contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

_LR = 0.5
_ROUNDS = 3

_F1 = "ROUND(LENGTH(text) / CAST(1000 AS DOUBLE), 4)"
_F2 = (
    "ROUND((LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))) "
    "/ CAST(LENGTH(text) AS DOUBLE), 4)"
)
_Y = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"

# one GD round as SQL: margin in fixed term order, z quantized to 9
# decimals before the libm exp and sigma to 7 after it (see
# operators/classifier.py:sigmoid_q), gradient terms folded
# through DECIMAL(38,15) (exact — 11-decimal inputs), update pinned
# through DECIMAL(28,12) with the same (lr*g)/n association the Spark
# driver uses
_SIGMA = (
    "ROUND(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) "
    "+ EXP(-ROUND({z}, 9))), 7)"
)


def _round_sql(prev: str, cur: str) -> str:
    z = f"w.w0 + w.w1 * f.f1 + w.w2 * f.f2"
    sigma = _SIGMA.format(z=z)
    return f"""
g{cur} AS (
  SELECT COUNT(*) AS n,
    SUM(CAST(({sigma} - f.y) AS DECIMAL(38,15))) AS g0,
    SUM(CAST(({sigma} - f.y) * f.f1 AS DECIMAL(38,15))) AS g1,
    SUM(CAST(({sigma} - f.y) * f.f2 AS DECIMAL(38,15))) AS g2
  FROM feat f CROSS JOIN r{prev} w
),
r{cur} AS (
  SELECT
    CAST(CAST(w.w0 - CAST({_LR} AS DOUBLE) * CAST(g.g0 AS DOUBLE) / g.n
              AS DECIMAL(28,12)) AS DOUBLE) AS w0,
    CAST(CAST(w.w1 - CAST({_LR} AS DOUBLE) * CAST(g.g1 AS DOUBLE) / g.n
              AS DECIMAL(28,12)) AS DOUBLE) AS w1,
    CAST(CAST(w.w2 - CAST({_LR} AS DOUBLE) * CAST(g.g2 AS DOUBLE) / g.n
              AS DECIMAL(28,12)) AS DOUBLE) AS w2
  FROM r{prev} w CROSS JOIN g{cur} g
)"""


_TRAIN_CTES = (
    f"""
WITH feat AS (
  SELECT {_F1} AS f1, {_F2} AS f2, {_Y} AS y
  FROM documents WHERE LENGTH(text) > 0
),
r0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
              CAST(0 AS DOUBLE) AS w2)"""
    + ",".join([""] + [_round_sql(i, i + 1) for i in range(_ROUNDS)])
)

_TRAIN_ORACLE = (
    _TRAIN_CTES
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS round, w0, w1, w2 FROM r{i}"
        for i in range(_ROUNDS + 1)
    )
    + "\nORDER BY round"
)

_SCORE_ORACLE = (
    _TRAIN_CTES
    + f""",
scored AS (
  SELECT d.lang,
    {_SIGMA.format(z="w.w0 + w.w1 * " + _F1 + " + w.w2 * " + _F2)} AS score
  FROM documents d CROSS JOIN r{_ROUNDS} w
  WHERE LENGTH(text) > 0
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CAST(score AS DECIMAL(28,9))) AS DOUBLE) AS sum_score,
  CAST(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM scored GROUP BY lang ORDER BY lang
"""
)


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.expr("LENGTH(text) > 0")).select(
        "lang",
        F.expr(_F1).alias("f1"),
        F.expr(_F2).alias("f2"),
        F.expr(_Y).alias("y"),
    )


@register(
    "classifier_logreg_train",
    oracle=_TRAIN_ORACLE,
    doc=f"In-plan logistic-regression training ({_ROUNDS} full-batch "
    f"GD rounds, lr {_LR}) of an is-English quality classifier over "
    "two text features (operators/classifier.py:logistic_train_rounds)"
    ".  Per round: ONE map-side-combined aggregate pass computes the "
    "decimal-folded gradient; driver state is the (dim+1)-scalar "
    "weight vector (the k-means pattern — no row collect, no weight "
    "join).  The sigmoid is the one libm call, quantized on both "
    "sides of exp (9-decimal input, 7-decimal output); updates pin through "
    "DECIMAL(28,12).  The oracle unrolls identical rounds as CTE "
    "layers, so every intermediate weight vector is hash-pinned — "
    "an iterative ML trainer under the exact-hash gate discipline.",
    tags=("classifier", "ml", "iterative", "extension"),
    extended=True,
)
def classifier_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.classifier import logistic_train_rounds

    return logistic_train_rounds(
        _features(spark, sf_dir), ["f1", "f2"], "y",
        iterations=_ROUNDS, lr=_LR,
    ).orderBy("round")


@register(
    "classifier_quality_apply",
    oracle=_SCORE_ORACLE,
    doc="The trained quality model APPLIED: re-derives the round-"
    f"{_ROUNDS} weights (3 aggregate passes) and scores every "
    "document with a scan-local quantized-sigmoid expression "
    "(operators/classifier.py:logistic_score — pure codegen, no UDF, "
    "no join: scoring 100 TB is one pass), aggregating per language "
    "the decimal-folded score mass and the n kept at the 0.5 "
    "threshold — the keep/drop decision a corpus filter actually "
    "makes.  Oracle: the unrolled training CTEs feed the identical "
    "scoring expression.",
    tags=("classifier", "ml", "extension"),
    extended=True,
)
def classifier_quality_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.classifier import (
        logistic_score,
        logistic_train_rounds,
    )

    feats = _features(spark, sf_dir)
    rounds = logistic_train_rounds(
        feats, ["f1", "f2"], "y", iterations=_ROUNDS, lr=_LR
    ).collect()
    final = next(r for r in rounds if r["round"] == _ROUNDS)
    weights = [final["w0"], final["w1"], final["w2"]]
    scored = feats.select(
        "lang", logistic_score(["f1", "f2"], weights).alias("score")
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("score").cast("decimal(28,9)"))
            .cast("double")
            .alias("sum_score"),
            F.sum(
                F.when(F.col("score") >= 0.5, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_kept"),
        )
        .orderBy("lang")
    )

_LOO_ALPHA = 10.0


@register(
    "ml_loo_target_encoding",
    oracle=f"""
WITH per_cat AS (
  SELECT o_orderpriority,
    SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS csum,
    COUNT(*) AS cn
  FROM orders GROUP BY o_orderpriority
),
pr AS (
  SELECT CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
    AS DOUBLE) / COUNT(*) AS DECIMAL(18,12)) AS DOUBLE) AS prior
  FROM orders
),
enc AS (
  SELECT o.o_orderpriority,
    ((CAST(p.csum AS DOUBLE) - o.o_totalprice)
     + CAST({_LOO_ALPHA!r} AS DOUBLE) * pr.prior)
    / (p.cn - 1 + CAST({_LOO_ALPHA!r} AS DOUBLE)) AS e
  FROM orders o JOIN per_cat p USING (o_orderpriority), pr
)
SELECT o_orderpriority, COUNT(*) AS n_rows,
  CAST(SUM(CAST(e AS DECIMAL(38,6))) AS DOUBLE) AS enc_sum,
  ROUND(MIN(e), 4) AS enc_min, ROUND(MAX(e), 4) AS enc_max
FROM enc GROUP BY o_orderpriority
""",
    doc="Leave-one-out target encoding of order priority against "
    "order value (alpha=10 additive smoothing toward the global "
    "prior) — the leakage-safe categorical feature: each row's own "
    "target is excluded from its own encoding "
    "(operators/classifier.py:loo_target_encode).  The 5-row "
    "category table and the 1-row prior broadcast; the fact table "
    "never shuffles.  Output pins every per-row encoding through "
    "per-category decimal sums + extrema.",
    tags=("ml", "feature-engineering", "extension"),
    extended=True,
)
def ml_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.functions.numeric import dec_sum
    from diabetes_etl_spark.operators.classifier import loo_target_encode

    orders = load_table(spark, sf_dir, "orders")
    enc = loo_target_encode(
        orders, "o_orderpriority", "o_totalprice", alpha=_LOO_ALPHA
    )
    return enc.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        dec_sum(F.col("loo_enc_raw"), 6, 38).alias("enc_sum"),
        F.round(F.min("loo_enc_raw"), 4).alias("enc_min"),
        F.round(F.max("loo_enc_raw"), 4).alias("enc_max"),
    )


_CALIB_ORACLE = (
    _TRAIN_CTES
    + f""",
scored AS (
  SELECT {_Y} AS y,
    {_SIGMA.format(z="w.w0 + w.w1 * " + _F1 + " + w.w2 * " + _F2)} AS score
  FROM documents d CROSS JOIN r{_ROUNDS} w
  WHERE LENGTH(text) > 0
)
SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CAST(score AS DECIMAL(28,9))) AS DOUBLE) AS sum_score,
  CAST(SUM(y) AS BIGINT) AS n_pos
FROM scored GROUP BY bin
"""
)


@register(
    "classifier_calibration_bins",
    oracle=_CALIB_ORACLE,
    doc="Reliability-diagram data for the trained quality classifier: "
    "predicted scores bucket into deciles (floor(score*10), top "
    "clamped) with per-bin counts, decimal-folded score mass, and "
    "positive counts — mean-score-vs-empirical-rate per bin IS the "
    "calibration curve, the standard check before using classifier "
    "scores as sampling weights.  Scoring stays the scan-local "
    "quantized-sigmoid expression; binning is integer floor on the "
    "7-decimal-quantized score, so bucket boundaries cannot straddle "
    "an engine ulp.  Oracle: the unrolled training CTEs feed the "
    "identical scoring + binning.",
    tags=("classifier", "ml", "calibration", "extension"),
    extended=True,
)
def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.classifier import (
        logistic_score,
        logistic_train_rounds,
    )

    feats = _features(spark, sf_dir)
    rounds = logistic_train_rounds(
        feats, ["f1", "f2"], "y", iterations=_ROUNDS, lr=_LR
    ).collect()
    final = next(r for r in rounds if r["round"] == _ROUNDS)
    weights = [final["w0"], final["w1"], final["w2"]]
    scored = feats.select(
        "y", logistic_score(["f1", "f2"], weights).alias("score")
    )
    return scored.select(
        F.least(F.floor(F.col("score") * 10), F.lit(9))
        .cast("int")
        .alias("bin"),
        "y",
        "score",
    ).groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("score").cast("decimal(28,9)"))
        .cast("double")
        .alias("sum_score"),
        F.sum("y").cast("long").alias("n_pos"),
    )


# -- histogram split finding / depth-2 regression tree (round 9) --------------

_GBDT_BASE = """
base AS (
  SELECT CAST(l_quantity AS INT) AS qty,
    CAST(ROUND(l_discount * 100, 0) AS INT) AS disc,
    CAST(MONTH(l_shipdate) AS INT) AS mon,
    CAST(ROUND(l_tax * 100, 0) AS INT) AS tax,
    l_extendedprice AS y
  FROM lineitem
)"""

_GBDT_FEATS = """
SELECT {keep} 'qty' AS feature, qty AS bin, y FROM {src}
UNION ALL SELECT {keep} 'disc', disc, y FROM {src}
UNION ALL SELECT {keep} 'mon', mon, y FROM {src}
UNION ALL SELECT {keep} 'tax', tax, y FROM {src}"""


def _gbdt_level_sql(src: str, part: str) -> str:
    """Histogram -> prefix windows -> gain -> per-{part} argmax, as
    oracle CTE text.  `part` is '' (root) or 'leaf, '."""
    pcols = part.rstrip(", ")
    by = f"PARTITION BY {pcols}," if pcols else "PARTITION BY"
    over_cum = f"{by} feature ORDER BY bin ROWS UNBOUNDED PRECEDING"
    over_tot = f"{by} feature"
    rank_part = f"PARTITION BY {pcols}" if pcols else ""
    return f"""
h_{src} AS (
  SELECT {part} feature, bin, COUNT(*) AS n,
    SUM(CAST(y AS DECIMAL(38,6))) AS s
  FROM f_{src} GROUP BY {part} feature, bin
),
c_{src} AS (
  SELECT {part} feature, bin,
    SUM(n) OVER ({over_cum}) AS nl,
    SUM(s) OVER ({over_cum}) AS sl_dec,
    SUM(n) OVER ({over_tot}) AS nt,
    SUM(s) OVER ({over_tot}) AS st_dec
  FROM h_{src}
),
g_{src} AS (
  SELECT {part} feature, bin, nl, nt - nl AS nr, nt,
    CAST(sl_dec AS DOUBLE) AS sl,
    CAST(st_dec - sl_dec AS DOUBLE) AS sr,
    CAST(st_dec AS DOUBLE) AS st
  FROM c_{src} WHERE nl < nt
),
r_{src} AS (
  SELECT {part} feature, bin, nl, nr, sl, sr,
    sl * sl / nl + sr * sr / nr - st * st / nt AS gain_raw,
    ROW_NUMBER() OVER ({rank_part}
      ORDER BY sl * sl / nl + sr * sr / nr - st * st / nt DESC,
               feature, bin) AS rk
  FROM g_{src}
)"""


_GBDT_ORACLE = f"""
WITH {_GBDT_BASE},
f_l1 AS ({_GBDT_FEATS.format(keep="", src="base")}),
{_gbdt_level_sql("l1", "")},
leafed AS (
  SELECT b.*, CASE WHEN (CASE w.feature
        WHEN 'qty' THEN b.qty WHEN 'disc' THEN b.disc
        WHEN 'mon' THEN b.mon ELSE b.tax END) <= w.bin
      THEN 'L' ELSE 'R' END AS leaf
  FROM base b CROSS JOIN (SELECT feature, bin FROM r_l1 WHERE rk = 1) w
),
f_l2 AS ({_GBDT_FEATS.format(keep="leaf,", src="leafed")}),
{_gbdt_level_sql("l2", "leaf,")}
SELECT CAST(1 AS INT) AS level, 'root' AS leaf, feature, split_bin,
  gain, n_left, n_right, mean_left, mean_right
FROM (
  SELECT feature, bin AS split_bin, ROUND(gain_raw, 2) AS gain,
    CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
    ROUND(sl / nl, 6) AS mean_left, ROUND(sr / nr, 6) AS mean_right
  FROM r_l1 WHERE rk = 1
)
UNION ALL
SELECT CAST(2 AS INT), leaf, feature, bin, ROUND(gain_raw, 2),
  CAST(nl AS BIGINT), CAST(nr AS BIGINT),
  ROUND(sl / nl, 6), ROUND(sr / nr, 6)
FROM r_l2 WHERE rk = 1
ORDER BY level, leaf
"""


@register(
    "ml_gbdt_histogram_tree",
    oracle=_GBDT_ORACLE,
    doc="Histogram-based split finding grown leaf-wise to depth 2 — "
    "the XGBoost/LightGBM approximate-split algorithm as native "
    "relational ops (operators/gbdt.py).  Level 1: ONE lineitem scan "
    "builds the exact per-(feature, bin) histogram (DECIMAL-folded "
    "target sums, O(F x B) rows independent of table size); prefix "
    "windows over the tiny histogram evaluate every candidate "
    "threshold's variance gain  sl^2/nl + sr^2/nr - st^2/nt  and "
    "rank-1 picks the root split.  Level 2: the 1-row winner is "
    "collected (O(1) driver tree state — GBDT drivers hold the tree; "
    "re-using it in-plan would rescan its whole fact lineage) and "
    "inlined as a scan-local CASE literal, then the same histogram "
    "-> window -> argmax pipeline per leaf; depth-d growth costs "
    "exactly d fact scans.  With squared loss the "
    "constant leaf mean cancels in the gain, so this is exactly one "
    "boosting round per level at lr=1 with bit-exact arithmetic (no "
    "residual materialization).  The oracle unrolls both levels as "
    "identical CTE layers, hash-pinning every winner's gain, split "
    "counts, and leaf means.  Scale: per level = one fact scan + an "
    "O(leaves x F x B)-row window; no global sort anywhere.",
    tags=("ml", "gbdt", "histogram", "iterative", "extension", "headline"),
    extended=True,
)
def ml_gbdt_histogram_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.gbdt import (
        best_splits,
        split_histogram,
        stack_features,
    )

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("int").alias("qty"),
        F.round(F.col("l_discount") * 100, 0).cast("int").alias("disc"),
        F.month("l_shipdate").cast("int").alias("mon"),
        F.round(F.col("l_tax") * 100, 0).cast("int").alias("tax"),
        F.col("l_extendedprice").alias("y"),
    )
    feat_cols = {
        "qty": F.col("qty"),
        "disc": F.col("disc"),
        "mon": F.col("mon"),
        "tax": F.col("tax"),
    }

    # level 1: root split
    f1 = stack_features(base, feat_cols, F.col("y"))
    w1 = best_splits(split_histogram(f1))

    # level 2: the winner is 1 row of tree structure — collect it (the
    # O(1)-driver-state precedent: GBDT drivers hold the tree) and
    # inline it as a scan-local CASE literal.  Re-using w1 in-plan
    # would rescan its whole lineitem lineage a third time; inlining
    # keeps depth-d growth at exactly d fact scans.
    rows1 = w1.collect()  # the full 1-row level-1 winner
    win = rows1[0]
    leafed = base.withColumn(
        "leaf",
        F.when(
            F.col(win["feature"]) <= F.lit(int(win["split_bin"])),
            F.lit("L"),
        ).otherwise(F.lit("R")),
    )
    f2 = stack_features(leafed, feat_cols, F.col("y"), keep=["leaf"])
    w2 = best_splits(split_histogram(f2, ["leaf"]), ["leaf"])

    # out1 re-materializes from the ALREADY-COLLECTED winner row
    # (LocalRelation) instead of re-deriving from w1's plan: keeping w1
    # in the output plan re-scanned the whole level-1 lineitem lineage
    # a second time at execution — depth-d growth is exactly d fact
    # scans again (one per level, each executed once).
    w1_local = spark.createDataFrame(rows1, w1.schema)
    out1 = w1_local.select(
        F.lit(1).cast("int").alias("level"),
        F.lit("root").alias("leaf"),
        "feature", "split_bin", "gain",
        "n_left", "n_right", "mean_left", "mean_right",
    )
    out2 = w2.select(
        F.lit(2).cast("int").alias("level"),
        "leaf", "feature", "split_bin", "gain",
        "n_left", "n_right", "mean_left", "mean_right",
    )
    return out1.unionByName(out2).orderBy("level", "leaf")


# -- ranking metrics: AUC / KS / decile lift (round 9) ------------------------

_SCORED_CTE = f""",
scored AS (
  SELECT d.doc_id, {_Y} AS y,
    {_SIGMA.format(z="w.w0 + w.w1 * " + _F1 + " + w.w2 * " + _F2)} AS score
  FROM documents d CROSS JOIN r{_ROUNDS} w
  WHERE LENGTH(text) > 0
)"""

_AUC_ORACLE = (
    _TRAIN_CTES
    + _SCORED_CTE
    + """,
g AS (
  SELECT score, COUNT(*) AS n, SUM(y) AS p FROM scored GROUP BY score
),
c AS (
  SELECT n, p,
    COALESCE(SUM(n) OVER (ORDER BY score
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
    SUM(p) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS tp,
    SUM(n - p) OVER (ORDER BY score DESC
      ROWS UNBOUNDED PRECEDING) AS fp,
    SUM(p) OVER () AS np_tot,
    SUM(n - p) OVER () AS nn_tot
  FROM g
),
a AS (
  SELECT SUM(p * (2 * cb + n + 1)) AS rs2,
    MAX(np_tot) AS np, MAX(nn_tot) AS nn,
    MAX(ABS(tp * nn_tot - fp * np_tot)) AS dmax
  FROM c
)
SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
  CAST(rs2 - np * (np + 1) AS DOUBLE) / (2 * np * nn) AS auc,
  CAST(rs2 - np * (np + 1) AS DOUBLE) / (np * nn)
    - CAST(1 AS DOUBLE) AS gini,
  CAST(dmax AS DOUBLE) / (np * nn) AS ks
FROM a
"""
)


@register(
    "classifier_auc_roc",
    oracle=_AUC_ORACLE,
    doc="Exact AUC / Gini / Kolmogorov-Smirnov for the trained "
    "quality classifier via the Mann-Whitney rank-sum identity with "
    "midrank tie correction — ALL integer arithmetic until one final "
    "division.  Scores group by distinct value (the 7-decimal sigmoid "
    "quantization bounds that table at 10^7 rows INDEPENDENT of "
    "corpus size — the reason AUC-at-scale works on the grouped "
    "table, never a per-row global sort); a tied group of size n "
    "after cb predecessors contributes p*(2*cb+n+1) to twice the "
    "positive rank sum, so AUC = (rs2 - np(np+1)) / (2*np*nn) is a "
    "ratio of exact BIGINTs.  KS = max |TPR - FPR| evaluated as "
    "max |tp*nn - fp*np| (cross-multiplied — no per-row float "
    "ratios).  The oracle unrolls the same 3 GD training rounds and "
    "replays the identical rank algebra.",
    tags=("classifier", "ml", "ranking-metric", "extension", "headline"),
    extended=True,
)
def classifier_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.classifier import (
        logistic_score,
        logistic_train_rounds,
        rank_metrics,
    )

    feats = _features(spark, sf_dir)
    rounds = logistic_train_rounds(
        feats, ["f1", "f2"], "y", iterations=_ROUNDS, lr=_LR
    ).collect()
    final = next(r for r in rounds if r["round"] == _ROUNDS)
    scored = feats.select(
        "y",
        logistic_score(
            ["f1", "f2"], [final["w0"], final["w1"], final["w2"]]
        ).alias("score"),
    )
    return rank_metrics(scored)


_LIFT_ORACLE = (
    _TRAIN_CTES
    + _SCORED_CTE
    + """,
ranked AS (
  SELECT y, NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
  FROM scored
),
d AS (
  SELECT decile, COUNT(*) AS n, SUM(y) AS p FROM ranked GROUP BY decile
),
c AS (
  SELECT decile, n, p,
    SUM(p) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_p,
    SUM(p) OVER () AS np_tot, SUM(n) OVER () AS n_tot
  FROM d
)
SELECT CAST(decile AS INT) AS decile, CAST(n AS BIGINT) AS n_docs,
  CAST(p AS BIGINT) AS n_pos,
  CAST(cum_p AS DOUBLE) / np_tot AS cum_capture,
  CAST(p * n_tot AS DOUBLE) / (n * np_tot) AS lift
FROM c ORDER BY decile
"""
)


@register(
    "classifier_lift_deciles",
    oracle=_LIFT_ORACLE,
    doc="Decile lift / cumulative-gain table for the trained quality "
    "classifier: exact NTILE(10) deciles under the deterministic "
    "total order (score DESC, doc_id), per-decile positive counts, "
    "cumulative capture rate, and lift = (p/n)/(np/N) evaluated as "
    "the exact-integer cross product p*N/(n*np).  The fixture form "
    "uses the exact global NTILE (one total-order pass) and serves "
    "as the tie-placement baseline; the 100 TB twin is "
    "classifier_lift_cutpoints below — support-grain cum-count "
    "deciles, no global sort, oracle-paired in its own right — "
    "semantics identical up to tie placement at decile boundaries, "
    "which the doc_id tie-break pins here.",
    tags=("classifier", "ml", "ranking-metric", "extension"),
    extended=True,
)
def classifier_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from diabetes_etl_spark.operators.classifier import (
        logistic_score,
        logistic_train_rounds,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.filter(F.expr("LENGTH(text) > 0")).select(
        "doc_id",
        F.expr(_F1).alias("f1"),
        F.expr(_F2).alias("f2"),
        F.expr(_Y).alias("y"),
    )
    rounds = logistic_train_rounds(
        feats, ["f1", "f2"], "y", iterations=_ROUNDS, lr=_LR
    ).collect()
    final = next(r for r in rounds if r["round"] == _ROUNDS)
    scored = feats.select(
        "doc_id",
        "y",
        logistic_score(
            ["f1", "f2"], [final["w0"], final["w1"], final["w2"]]
        ).alias("score"),
    )
    ranked = scored.select(
        "y",
        F.ntile(10)
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("decile"),
    )
    d = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("p")
    )
    from pyspark.sql import Window as W

    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    c = d.select(
        "decile",
        "n",
        "p",
        F.sum("p").over(w_cum).alias("cum_p"),
        F.sum("p").over(w_all).alias("np_tot"),
        F.sum("n").over(w_all).alias("n_tot"),
    )
    return c.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n").cast("long").alias("n_docs"),
        F.col("p").cast("long").alias("n_pos"),
        (F.col("cum_p").cast("double") / F.col("np_tot")).alias(
            "cum_capture"
        ),
        (
            (F.col("p") * F.col("n_tot")).cast("double")
            / (F.col("n") * F.col("np_tot"))
        ).alias("lift"),
    ).orderBy("decile")


_LIFT_CUT_ORACLE = (
    _TRAIN_CTES
    + _SCORED_CTE
    + """,
g AS (
  SELECT score, COUNT(*) AS n, SUM(y) AS p FROM scored GROUP BY score
),
t AS (SELECT SUM(n) AS n_tot FROM g),
spine AS (
  SELECT n, p,
    COALESCE(SUM(n) OVER (ORDER BY score DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM g
),
d AS (
  SELECT CAST(LEAST(9, (10 * s.cum_before) // t.n_tot) + 1 AS INT)
    AS decile,
    SUM(s.n) AS n, SUM(s.p) AS p
  FROM spine s CROSS JOIN t
  GROUP BY 1
),
c AS (
  SELECT decile, n, p,
    SUM(p) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_p,
    SUM(p) OVER () AS np_tot, SUM(n) OVER () AS n_tot
  FROM d
)
SELECT decile, CAST(n AS BIGINT) AS n_docs, CAST(p AS BIGINT) AS n_pos,
  CAST(cum_p AS DOUBLE) / np_tot AS cum_capture,
  CAST(p * n_tot AS DOUBLE) / (n * np_tot) AS lift
FROM c ORDER BY decile
"""
)


@register(
    "classifier_lift_cutpoints",
    oracle=_LIFT_CUT_ORACLE,
    doc="Decile lift table WITHOUT a global sort — the 100 TB twin of "
    "classifier_lift_deciles (which pins exact NTILE(10) semantics as "
    "the fixture oracle baseline, the TwoNN baseline/ANN-twin "
    "precedent).  The classifier's sigmoid is quantized to 7 decimals "
    "(operators/classifier.py sigmoid_q), so scores live on a BOUNDED "
    "support (<= 1e7+1 values, far fewer in practice); one grouped "
    "pass collapses N rows to that support, a cum-count spine over it "
    "yields each score's rank interval, and decile(score) = "
    "least(9, 10*cum_before div N) + 1 — exact integer arithmetic, "
    "every tie group lands WHOLE in one decile (score-coherent "
    "deciles: the production semantics, where NTILE's engine-defined "
    "tie splitting is the artifact).  Same shape as the gate's "
    "classifier_auc_roc spine; nothing is per-row after the first "
    "aggregate, so the plan survives any corpus size the support "
    "grain survives.",
    tags=("classifier", "ml", "ranking-metric", "scale", "extension"),
    extended=True,
)
def classifier_lift_cutpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from diabetes_etl_spark.operators.classifier import (
        logistic_score,
        logistic_train_rounds,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.filter(F.expr("LENGTH(text) > 0")).select(
        F.expr(_F1).alias("f1"),
        F.expr(_F2).alias("f2"),
        F.expr(_Y).alias("y"),
    )
    rounds = logistic_train_rounds(
        feats, ["f1", "f2"], "y", iterations=_ROUNDS, lr=_LR
    ).collect()
    final = next(r for r in rounds if r["round"] == _ROUNDS)
    scored = feats.select(
        "y",
        logistic_score(
            ["f1", "f2"], [final["w0"], final["w1"], final["w2"]]
        ).alias("score"),
    )
    g = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("p")
    )
    tot = g.agg(F.sum("n").alias("n_tot"))
    w_before = W.orderBy(F.desc("score")).rowsBetween(
        W.unboundedPreceding, -1
    )
    spine = g.crossJoin(F.broadcast(tot)).select(
        "n",
        "p",
        "n_tot",
        F.coalesce(F.sum("n").over(w_before), F.lit(0)).alias(
            "cum_before"
        ),
    )
    d = spine.groupBy(
        F.expr(
            "CAST(LEAST(9, (10 * cum_before) div n_tot) + 1 AS INT)"
        ).alias("decile")
    ).agg(F.sum("n").alias("n"), F.sum("p").alias("p"))
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    c = d.select(
        "decile",
        "n",
        "p",
        F.sum("p").over(w_cum).alias("cum_p"),
        F.sum("p").over(w_all).alias("np_tot"),
        F.sum("n").over(w_all).alias("n_tot"),
    )
    return c.select(
        "decile",
        F.col("n").cast("long").alias("n_docs"),
        F.col("p").cast("long").alias("n_pos"),
        (F.col("cum_p").cast("double") / F.col("np_tot")).alias(
            "cum_capture"
        ),
        (
            (F.col("p") * F.col("n_tot")).cast("double")
            / (F.col("n") * F.col("np_tot"))
        ).alias("lift"),
    ).orderBy("decile")


_ISO_ORACLE = (
    _TRAIN_CTES
    + _SCORED_CTE
    + """,
bins AS (
  SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS b,
    COUNT(*) AS n, SUM(y) AS p
  FROM scored GROUP BY b
),
cum AS (
  SELECT b,
    SUM(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cn,
    SUM(p) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cp
  FROM bins
),
lo AS (
  SELECT CAST(-2147483648 AS BIGINT) AS b, CAST(0 AS BIGINT) AS cn,
    CAST(0 AS BIGINT) AS cp
  UNION ALL SELECT b, CAST(cn AS BIGINT), CAST(cp AS BIGINT) FROM cum
),
iv AS (
  SELECT L.b AS lo_excl, R.b AS hi,
    CAST(R.cp - L.cp AS DOUBLE) / (R.cn - L.cn) AS rate
  FROM lo L JOIN cum R ON L.b < R.b
),
pooled AS (
  SELECT k.b AS k, iv.lo_excl, MIN(rate) AS minrate
  FROM bins k JOIN iv ON iv.lo_excl < k.b AND iv.hi >= k.b
  GROUP BY k.b, iv.lo_excl
),
iso AS (
  SELECT k, ROUND(MAX(minrate), 9) AS iso_rate FROM pooled GROUP BY k
)
SELECT CAST(bins.b AS INT) AS bin, CAST(n AS BIGINT) AS n_docs,
  CAST(p AS BIGINT) AS n_pos,
  ROUND(CAST(p AS DOUBLE) / n, 9) AS raw_rate, iso_rate
FROM bins JOIN iso ON iso.k = bins.b
ORDER BY bin
"""
)


@register(
    "classifier_isotonic_calibration",
    oracle=_ISO_ORACLE,
    doc="Weighted isotonic regression (pool-adjacent-violators) of "
    "the classifier's per-bin positive rate via the minimax identity "
    "iso(k) = max_{i<=k} min_{j>=k} rate(i..j) — exactly the PAV "
    "fit, computed relationally on the BINNED table "
    "(operators/classifier.py:isotonic_fit): cumulative sums give "
    "every interval's exact integer (n, pos) in one self-join; "
    "interval rates are single BIGINT divisions; min/max are order "
    "comparisons.  The only corpus-scale stage is the upstream "
    "binning aggregate — the O(B^3) fit runs on B=10 rows, a "
    "post-aggregation epilogue at any corpus size.  Output keeps the "
    "raw (possibly non-monotone) rate next to the isotonic fit.",
    tags=("classifier", "ml", "calibration", "extension"),
    extended=True,
)
def classifier_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from diabetes_etl_spark.operators.classifier import (
        isotonic_fit,
        logistic_score,
        logistic_train_rounds,
    )

    feats = _features(spark, sf_dir)
    rounds = logistic_train_rounds(
        feats, ["f1", "f2"], "y", iterations=_ROUNDS, lr=_LR
    ).collect()
    final = next(r for r in rounds if r["round"] == _ROUNDS)
    scored = feats.select(
        "y",
        logistic_score(
            ["f1", "f2"], [final["w0"], final["w1"], final["w2"]]
        ).alias("score"),
    )
    bins = scored.select(
        F.least(F.floor(F.col("score") * 10), F.lit(9))
        .cast("long")
        .alias("b"),
        "y",
    ).groupBy("b").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("p")
    )
    iso = isotonic_fit(bins, key="b", n_col="n", pos_col="p")
    return (
        bins.join(iso, bins["b"] == iso["k"])
        .select(
            F.col("b").cast("int").alias("bin"),
            F.col("n").cast("long").alias("n_docs"),
            F.col("p").cast("long").alias("n_pos"),
            F.round(
                F.col("p").cast("double") / F.col("n"), 9
            ).alias("raw_rate"),
            "iso_rate",
        )
        .orderBy("bin")
    )


# -- closed-form ridge regression (round 9) ------------------------------------

_RIDGE_LAMBDA = 10.0


@register(
    "ml_ridge_closed_form",
    oracle=f"""
WITH s AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
    CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS s2,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
      AS DOUBLE) AS s11,
    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
      AS DOUBLE) AS s12,
    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6)))
      AS DOUBLE) AS s22,
    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
      AS DOUBLE) AS s1y,
    CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(38,6)))
      AS DOUBLE) AS s2y,
    CAST(SUM(CAST(l_extendedprice * l_extendedprice
      AS DECIMAL(38,6))) AS DOUBLE) AS syy
  FROM lineitem
),
c AS (
  SELECT n,
    s11 - s1 * s1 / n + CAST({_RIDGE_LAMBDA!r} AS DOUBLE) AS a11,
    s12 - s1 * s2 / n AS a12,
    s22 - s2 * s2 / n + CAST({_RIDGE_LAMBDA!r} AS DOUBLE) AS a22,
    s1y - s1 * sy / n AS c1,
    s2y - s2 * sy / n AS c2,
    syy - sy * sy / n AS syy_c,
    s1 / n AS m1, s2 / n AS m2, sy / n AS my
  FROM s
),
w AS (
  SELECT n, syy_c, c1, c2, m1, m2, my,
    a11 * a22 - a12 * a12 AS det,
    (c1 * a22 - c2 * a12) / (a11 * a22 - a12 * a12) AS w1,
    (c2 * a11 - c1 * a12) / (a11 * a22 - a12 * a12) AS w2
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_rows,
  ROUND(w1, 9) AS w_quantity,
  ROUND(w2, 9) AS w_discount,
  ROUND(my - w1 * m1 - w2 * m2, 6) AS intercept,
  ROUND((w1 * c1 + w2 * c2) / syy_c, 9) AS r2
FROM w
""",
    doc=f"Closed-form RIDGE regression (lambda {_RIDGE_LAMBDA}) of "
    "l_extendedprice on (l_quantity, l_discount) via centered normal "
    "equations — the exact linear model ONE aggregate pass buys when "
    "d is small: all 9 sufficient statistics fold through "
    "DECIMAL(38,6) (2-decimal money x integer quantities — exact), "
    "the centered 2x2 system solves by explicit determinant in "
    "pinned IEEE order, intercept recovers from the means, and R^2 = "
    "explained/total centered sum of squares.  No iteration, no "
    "collect, no libm; the oracle replays the identical algebra.  "
    "Scale: one map-side-combined pass + a 1-row epilogue — at "
    "100 TB the entire model costs one scan (the GD trainer "
    "classifier_logreg_train is the iterative general-d pattern; "
    "this is the exact small-d shortcut).",
    tags=("ml", "regression", "extension"),
    extended=True,
)
def ml_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d6 = lambda c: c.cast("decimal(38,6)")
    q, disc, y = F.col("l_quantity"), F.col("l_discount"), F.col(
        "l_extendedprice"
    )
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d6(q)).cast("double").alias("s1"),
        F.sum(d6(disc)).cast("double").alias("s2"),
        F.sum(d6(y)).cast("double").alias("sy"),
        F.sum(d6(q * q)).cast("double").alias("s11"),
        F.sum(d6(q * disc)).cast("double").alias("s12"),
        F.sum(d6(disc * disc)).cast("double").alias("s22"),
        F.sum(d6(q * y)).cast("double").alias("s1y"),
        F.sum(d6(disc * y)).cast("double").alias("s2y"),
        F.sum(d6(y * y)).cast("double").alias("syy"),
    )
    n = F.col("n")
    lam = F.lit(float(_RIDGE_LAMBDA))
    c = s.select(
        n,
        (F.col("s11") - F.col("s1") * F.col("s1") / n + lam).alias("a11"),
        (F.col("s12") - F.col("s1") * F.col("s2") / n).alias("a12"),
        (F.col("s22") - F.col("s2") * F.col("s2") / n + lam).alias("a22"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / n).alias("c1"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / n).alias("c2"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("syy_c"),
        (F.col("s1") / n).alias("m1"),
        (F.col("s2") / n).alias("m2"),
        (F.col("sy") / n).alias("my"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    w1 = (F.col("c1") * F.col("a22") - F.col("c2") * F.col("a12")) / det
    w2 = (F.col("c2") * F.col("a11") - F.col("c1") * F.col("a12")) / det
    w = c.select(
        n, F.col("syy_c"), F.col("c1"), F.col("c2"),
        F.col("m1"), F.col("m2"), F.col("my"),
        w1.alias("w1"), w2.alias("w2"),
    )
    return w.select(
        n.cast("long").alias("n_rows"),
        F.round(F.col("w1"), 9).alias("w_quantity"),
        F.round(F.col("w2"), 9).alias("w_discount"),
        F.round(
            F.col("my") - F.col("w1") * F.col("m1")
            - F.col("w2") * F.col("m2"),
            6,
        ).alias("intercept"),
        F.round(
            (F.col("w1") * F.col("c1") + F.col("w2") * F.col("c2"))
            / F.col("syy_c"),
            9,
        ).alias("r2"),
    )


# -- weight-of-evidence / information value (round 9) ---------------------------


@register(
    "ml_woe_information_value",
    oracle="""
WITH base AS (
  SELECT CAST(least(floor(LENGTH(text) / 500.0), 9) AS INT) AS bin,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE LENGTH(text) > 0
),
b AS (
  SELECT bin, COUNT(*) AS n, SUM(y) AS p, COUNT(*) - SUM(y) AS q
  FROM base GROUP BY bin
),
t AS (
  SELECT bin, n, p, q,
    SUM(p) OVER () AS pt, SUM(q) OVER () AS qt
  FROM b
),
w AS (
  SELECT bin, n, p, q, pt, qt,
    CASE WHEN p > 0 AND q > 0 THEN
      ROUND(LN(CAST(p * qt AS DOUBLE) / (q * pt)), 9)
    END AS woe
  FROM t
),
iv AS (
  SELECT bin, n, p, woe,
    CASE WHEN woe IS NOT NULL THEN
      CAST(ROUND((CAST(p AS DOUBLE) / pt - CAST(q AS DOUBLE) / qt)
                 * woe, 12) AS DECIMAL(28,12))
    ELSE CAST(0 AS DECIMAL(28,12)) END AS term
  FROM w
)
SELECT CAST(bin AS INT) AS bin, CAST(n AS BIGINT) AS n_docs,
  CAST(p AS BIGINT) AS n_pos, woe,
  CAST(SUM(term) OVER () AS DOUBLE) AS information_value
FROM iv
ORDER BY bin
""",
    doc="Weight-of-evidence encoding + information value for the "
    "is-English label over document-length bins — the credit-scoring "
    "feature-screening standard: WOE_b = ln((p_b/P)/(q_b/Q)) "
    "evaluated as ln of ONE exact-integer cross-ratio (p*qt)/(q*pt) "
    "with the repo's 9-decimal ln quantization (the BM25 libm "
    "precedent); IV = sum (p_b/P - q_b/Q) * WOE_b with terms "
    "quantized to 12 decimals and folded through DECIMAL so the "
    "across-bin sum is order-independent.  Empty-side bins emit NULL "
    "WOE and contribute 0 to IV (the standard guard, not a fudge "
    "factor).  Scale: one corpus pass to B=10 bins, everything after "
    "is O(B).",
    tags=("ml", "woe", "feature-screening", "extension"),
    extended=True,
)
def ml_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.expr("LENGTH(text) > 0")).select(
        F.least(F.floor(F.length("text") / 500.0), F.lit(9))
        .cast("int")
        .alias("bin"),
        F.expr(_Y).alias("y"),
    )
    b = base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("p"),
        (F.count(F.lit(1)) - F.sum("y")).alias("q"),
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = b.select(
        "bin", "n", "p", "q",
        F.sum("p").over(w_all).alias("pt"),
        F.sum("q").over(w_all).alias("qt"),
    )
    woe = F.when(
        (F.col("p") > 0) & (F.col("q") > 0),
        F.round(
            F.log(
                (F.col("p") * F.col("qt")).cast("double")
                / (F.col("q") * F.col("pt"))
            ),
            9,
        ),
    )
    w = t.withColumn("woe", woe)
    term = F.when(
        F.col("woe").isNotNull(),
        F.round(
            (
                F.col("p").cast("double") / F.col("pt")
                - F.col("q").cast("double") / F.col("qt")
            )
            * F.col("woe"),
            12,
        ).cast("decimal(28,12)"),
    ).otherwise(F.lit(0).cast("decimal(28,12)"))
    iv = w.withColumn("term", term)
    return iv.select(
        F.col("bin").cast("int").alias("bin"),
        F.col("n").cast("long").alias("n_docs"),
        F.col("p").cast("long").alias("n_pos"),
        "woe",
        F.sum("term").over(w_all).cast("double").alias(
            "information_value"
        ),
    ).orderBy("bin")


# -- split-conformal prediction intervals (round 9) -----------------------------

_CONF_ALPHA = 0.1  # target 90% coverage

_CONF_SPLIT = (
    "CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '#' "
    "|| CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 4 AS INT)"
)


_CONF_STATS = """
s AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
    CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS s2,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
      AS DOUBLE) AS s11,
    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
      AS DOUBLE) AS s12,
    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6)))
      AS DOUBLE) AS s22,
    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
      AS DOUBLE) AS s1y,
    CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(38,6)))
      AS DOUBLE) AS s2y
  FROM split WHERE part <= 1
),
c AS (
  SELECT n,
    s11 - s1 * s1 / n + CAST(10.0 AS DOUBLE) AS a11,
    s12 - s1 * s2 / n AS a12,
    s22 - s2 * s2 / n + CAST(10.0 AS DOUBLE) AS a22,
    s1y - s1 * sy / n AS c1,
    s2y - s2 * sy / n AS c2,
    s1 / n AS m1, s2 / n AS m2, sy / n AS my
  FROM s
),
w AS (
  SELECT n AS n_train, m1, m2, my,
    (c1 * a22 - c2 * a12) / (a11 * a22 - a12 * a12) AS w1,
    (c2 * a11 - c1 * a12) / (a11 * a22 - a12 * a12) AS w2
  FROM c
)"""


@register(
    "ml_conformal_interval",
    oracle=f"""
WITH split AS (
  SELECT l_quantity, l_discount, l_extendedprice,
    {_CONF_SPLIT} AS part
  FROM lineitem
),
{_CONF_STATS},
resid AS (
  SELECT s.part,
    ABS(s.l_extendedprice
        - ((w.my - w.w1 * w.m1 - w.w2 * w.m2)
           + w.w1 * s.l_quantity + w.w2 * s.l_discount)) AS r
  FROM split s CROSS JOIN w
  WHERE s.part >= 2
),
cal AS (
  SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rk,
    COUNT(*) OVER () AS n_cal
  FROM resid WHERE part = 2
),
qhat AS (
  SELECT MAX(n_cal) AS n_cal,
    MAX(CASE WHEN rk = CAST(ceil((MAX_N + 1) * 0.9) AS BIGINT)
        THEN r END) AS q
  FROM (SELECT r, rk, n_cal, MAX(n_cal) OVER () AS MAX_N FROM cal) t
),
test AS (
  SELECT COUNT(*) AS n_test,
    SUM(CASE WHEN r <= (SELECT q FROM qhat) THEN 1 ELSE 0 END)
      AS covered
  FROM resid WHERE part = 3
)
SELECT (SELECT CAST(n_train AS BIGINT) FROM w) AS n_train,
  CAST(q2.n_cal AS BIGINT) AS n_cal,
  CAST(t.n_test AS BIGINT) AS n_test,
  ROUND(q2.q, 6) AS q_hat,
  CAST(t.covered AS DOUBLE) / t.n_test AS coverage
FROM qhat q2, test t
""",
    doc="Split-conformal prediction interval for the closed-form "
    "ridge model (Vovk; Lei et al.): rows hash-split 4 ways "
    "(train=0,1 / calibration=2 / test=3), the model fits on train "
    "via the same one-pass exact normal equations as "
    "ml_ridge_closed_form, the conformal radius q_hat is the "
    "ceil((n_cal+1)*(1-alpha))-th smallest calibration |residual| "
    "(an EXACT order statistic — well-defined under ties), and "
    "held-out coverage P(|resid| <= q_hat) is reported on the test "
    "split, which conformal theory guarantees >= 90% in expectation "
    "with NO distributional assumptions.  Determinism: weights come "
    "from exact decimal sums; residuals are pinned IEEE arithmetic "
    "on identical doubles; the order statistic's value is invariant "
    "to tie order.  Scale: the stats pass plus the residual scans; "
    "the order statistic comes from the iterative exact-selection "
    "operator (operators/selection.py exact_kth — O(log) bounded "
    "histogram passes over the calibration split, never a global "
    "sort; the selection_exact_percentiles pattern), so NO stage "
    "executes an unpartitioned total order.",
    tags=("ml", "conformal", "uncertainty", "extension", "headline"),
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    li = load_table(spark, sf_dir, "lineitem")
    part = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("l_orderkey").cast("string"),
                        F.lit("#"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 4
    ).cast("int")
    split = li.select(
        "l_quantity", "l_discount", "l_extendedprice", part.alias("part")
    )
    # localCheckpoint: the md5 hash-split feeds SIX separate jobs
    # (train stats, n_cal, exact_kth bracket + histogram rounds +
    # sliver, final test agg) — without it every job re-scans lineitem
    # and re-hashes 600k keys (guide §1.2: don't recompute what the
    # driver loop re-reads).  Per-invocation, executor-memory only —
    # nothing persists across bench invocations.  eager=False
    # (round-14, per round-13 ADVICE): plan construction stays
    # job-free — callers that only build/explain this registry plan no
    # longer trigger a lineitem scan; the checkpoint materializes on
    # the first of the six jobs (the train-stats collect below, a few
    # lines down in THIS function) and is reused by the rest, so the
    # executed shape is identical to the eager form.
    split = split.localCheckpoint(eager=False)
    train = split.where(F.col("part") <= 1)
    d6 = lambda c: c.cast("decimal(38,6)")
    q, disc, y = (
        F.col("l_quantity"),
        F.col("l_discount"),
        F.col("l_extendedprice"),
    )
    s = train.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d6(q)).cast("double").alias("s1"),
        F.sum(d6(disc)).cast("double").alias("s2"),
        F.sum(d6(y)).cast("double").alias("sy"),
        F.sum(d6(q * q)).cast("double").alias("s11"),
        F.sum(d6(q * disc)).cast("double").alias("s12"),
        F.sum(d6(disc * disc)).cast("double").alias("s22"),
        F.sum(d6(q * y)).cast("double").alias("s1y"),
        F.sum(d6(disc * y)).cast("double").alias("s2y"),
    ).collect()[0]
    n = s["n"]
    lam = 10.0
    a11 = s["s11"] - s["s1"] * s["s1"] / n + lam
    a12 = s["s12"] - s["s1"] * s["s2"] / n
    a22 = s["s22"] - s["s2"] * s["s2"] / n + lam
    c1 = s["s1y"] - s["s1"] * s["sy"] / n
    c2 = s["s2y"] - s["s2"] * s["sy"] / n
    det = a11 * a22 - a12 * a12
    w1 = (c1 * a22 - c2 * a12) / det
    w2 = (c2 * a11 - c1 * a12) / det
    m1, m2, my = s["s1"] / n, s["s2"] / n, s["sy"] / n
    w0 = my - w1 * m1 - w2 * m2
    # O(1) driver model state (the GBDT-winner precedent); residuals
    # attach scan-locally — no join
    resid = split.where(F.col("part") >= 2).select(
        "part",
        F.abs(
            y - (F.lit(w0) + F.lit(w1) * q + F.lit(w2) * disc)
        ).alias("r"),
    )
    from diabetes_etl_spark.operators.selection import exact_kth

    cal = resid.where(F.col("part") == 2)
    n_cal = cal.count()
    k = math.ceil((n_cal + 1) * (1 - _CONF_ALPHA))
    # exact k-th smallest |residual| WITHOUT a global sort: an
    # unpartitioned row_number() window here would execute in ONE task
    # (a single-executor sort of the whole calibration split at
    # scale).  exact_kth brackets the rank through O(log) bounded
    # histogram passes (B=1024 buckets of driver state per round) and
    # sorts only the final <= 8k-row sliver — bit-identical to the
    # full-sort answer, per tests/test_selection.py.
    q_hat, _rounds = exact_kth(cal, "r", k)
    test = resid.where(F.col("part") == 3).agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(
            F.when(F.col("r") <= F.lit(q_hat), 1).otherwise(0)
        ).alias("covered"),
    )
    return test.select(
        F.lit(int(n)).cast("long").alias("n_train"),
        F.lit(int(n_cal)).cast("long").alias("n_cal"),
        F.col("n_test").cast("long").alias("n_test"),
        F.lit(round(q_hat, 6)).cast("double").alias("q_hat"),
        (
            F.col("covered").cast("double") / F.col("n_test")
        ).alias("coverage"),
    )


# -- grouped per-segment OLS: many models in one pass (round 9) ------------------


@register(
    "ml_grouped_ols_slopes",
    oracle="""
WITH s AS (
  SELECT l_returnflag AS seg, COUNT(*) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
      AS DOUBLE) AS sxx,
    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
      AS DOUBLE) AS sxy,
    CAST(SUM(CAST(l_extendedprice * l_extendedprice
      AS DECIMAL(38,6))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT seg, CAST(n AS BIGINT) AS n_rows,
  ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 9) AS slope,
  ROUND(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
        * (sx / n), 6) AS intercept,
  ROUND((sxy - sx * sy / n) * (sxy - sx * sy / n)
        / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 9) AS r2
FROM s
ORDER BY seg
""",
    doc="Grouped per-segment OLS — the MANY-MODELS-IN-ONE-PASS "
    "pattern (one regression per l_returnflag, here 3; per customer "
    "or per SKU, millions): a single map-side-combined grouped "
    "aggregate collects each segment's exact DECIMAL sufficient "
    "statistics, and slope/intercept/R^2 come from the closed form "
    "on the tiny per-group epilogue.  This is how per-entity models "
    "fit at 100 TB — NEVER a loop over groups, never applyInPandas "
    "with sklearn per group (the standard anti-pattern: pandas "
    "groups OOM on skewed entities and lose exactness).  Pinned "
    "IEEE division order; oracle replays the identical algebra.",
    tags=("ml", "regression", "grouped", "extension"),
    extended=True,
)
def ml_grouped_ols_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d6 = lambda c: c.cast("decimal(38,6)")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy(F.col("l_returnflag").alias("seg")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d6(x)).cast("double").alias("sx"),
        F.sum(d6(y)).cast("double").alias("sy"),
        F.sum(d6(x * x)).cast("double").alias("sxx"),
        F.sum(d6(x * y)).cast("double").alias("sxy"),
        F.sum(d6(y * y)).cast("double").alias("syy"),
    )
    n = F.col("n")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    return s.select(
        "seg",
        n.cast("long").alias("n_rows"),
        F.round(cov / vx, 9).alias("slope"),
        F.round(
            F.col("sy") / n - cov / vx * (F.col("sx") / n), 6
        ).alias("intercept"),
        F.round(cov * cov / (vx * vy), 9).alias("r2"),
    ).orderBy("seg")


# -- Brier score + Murphy decomposition (round 9) --------------------------------


_BRIER_ORACLE = (
    _TRAIN_CTES
    + _SCORED_CTE
    + """,
b AS (
  SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin, score, y
  FROM scored
),
g AS (
  SELECT bin, COUNT(*) AS n,
    SUM(CAST(score AS DECIMAL(28,9))) AS ss,
    SUM(y) AS k,
    SUM(CAST(score * score AS DECIMAL(38,18))) AS sss
  FROM b GROUP BY bin
),
t AS (
  SELECT bin, n, ss, k, sss,
    SUM(n) OVER () AS nt, SUM(k) OVER () AS kt
  FROM g
),
terms AS (
  SELECT nt, kt,
    -- reliability: n_b * (mean_score_b - rate_b)^2
    n * (CAST(ss AS DOUBLE) / n - CAST(k AS DOUBLE) / n)
      * (CAST(ss AS DOUBLE) / n - CAST(k AS DOUBLE) / n) AS rel_term,
    -- resolution: n_b * (rate_b - base_rate)^2
    n * (CAST(k AS DOUBLE) / n - CAST(kt AS DOUBLE) / nt)
      * (CAST(k AS DOUBLE) / n - CAST(kt AS DOUBLE) / nt) AS res_term,
    -- exact Brier pieces: sum(score^2) - 2*sum(score*y) + sum(y)
    CAST(sss AS DOUBLE) AS sss_d, CAST(ss AS DOUBLE) AS ss_d,
    CAST(k AS DOUBLE) AS k_d, n
  FROM t
),
sy AS (
  -- sum(score * y) needs the raw rows (not reconstructable per bin)
  SELECT CAST(SUM(CAST(score * y AS DECIMAL(38,18))) AS DOUBLE) AS ssy
  FROM b
)
SELECT CAST(MAX(nt) AS BIGINT) AS n_docs,
  ROUND((SUM(sss_d) - 2 * (SELECT ssy FROM sy) + SUM(k_d))
        / MAX(nt), 9) AS brier,
  ROUND(SUM(rel_term) / MAX(nt), 9) AS reliability,
  ROUND(SUM(res_term) / MAX(nt), 9) AS resolution,
  ROUND(CAST(MAX(kt) AS DOUBLE) / MAX(nt)
        * (1 - CAST(MAX(kt) AS DOUBLE) / MAX(nt)), 9) AS uncertainty
FROM terms
"""
)


@register(
    "classifier_brier_decomposition",
    oracle=_BRIER_ORACLE,
    doc="Brier score with the Murphy decomposition for the trained "
    "quality classifier: brier = mean (score - y)^2 computed from "
    "exact DECIMAL folds of score^2, score*y, and y (7-decimal "
    "scores — all three sums exact); reliability = weighted squared "
    "gap between each decile bin's mean score and its realized rate "
    "(calibration error — what isotonic fixes), resolution = how far "
    "bin rates spread from the base rate (discrimination), "
    "uncertainty = p(1-p) of the base rate.  Murphy: brier ~= "
    "reliability - resolution + uncertainty, with the residual being "
    "exactly within-bin var(f) minus twice within-bin cov(f, o) "
    "(asserted in tests — the decomposition is only exact when "
    "scores are constant within bins).  One corpus pass to 10 bins + one for the cross term.",
    tags=("classifier", "ml", "calibration", "extension"),
    extended=True,
)
def classifier_brier_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from diabetes_etl_spark.operators.classifier import (
        logistic_score,
        logistic_train_rounds,
    )

    feats = _features(spark, sf_dir)
    rounds = logistic_train_rounds(
        feats, ["f1", "f2"], "y", iterations=_ROUNDS, lr=_LR
    ).collect()
    final = next(r for r in rounds if r["round"] == _ROUNDS)
    scored = feats.select(
        "y",
        logistic_score(
            ["f1", "f2"], [final["w0"], final["w1"], final["w2"]]
        ).alias("score"),
    )
    b = scored.select(
        F.least(F.floor(F.col("score") * 10), F.lit(9))
        .cast("int")
        .alias("bin"),
        "score",
        "y",
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("score").cast("decimal(28,9)")).alias("ss"),
        F.sum("y").alias("k"),
        F.sum(
            (F.col("score") * F.col("score")).cast("decimal(38,18)")
        ).alias("sss"),
    )
    ssy = b.agg(
        F.sum(
            (F.col("score") * F.col("y")).cast("decimal(38,18)")
        ).cast("double").alias("ssy")
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = g.select(
        "bin", "n", "ss", "k", "sss",
        F.sum("n").over(w_all).alias("nt"),
        F.sum("k").over(w_all).alias("kt"),
    )
    ms = F.col("ss").cast("double") / F.col("n")
    rate = F.col("k").cast("double") / F.col("n")
    base = F.col("kt").cast("double") / F.col("nt")
    terms = t.select(
        "nt", "kt",
        (F.col("n") * (ms - rate) * (ms - rate)).alias("rel_term"),
        (F.col("n") * (rate - base) * (rate - base)).alias("res_term"),
        F.col("sss").cast("double").alias("sss_d"),
        F.col("k").cast("double").alias("k_d"),
    )
    agg = terms.agg(
        F.max("nt").alias("nt"),
        F.max("kt").alias("kt"),
        F.sum("sss_d").alias("sss"),
        F.sum("k_d").alias("kd"),
        F.sum("rel_term").alias("rel"),
        F.sum("res_term").alias("res"),
    ).crossJoin(F.broadcast(ssy))
    nt = F.col("nt")
    base_t = F.col("kt").cast("double") / nt
    return agg.select(
        nt.cast("long").alias("n_docs"),
        F.round(
            (F.col("sss") - 2 * F.col("ssy") + F.col("kd")) / nt, 9
        ).alias("brier"),
        F.round(F.col("rel") / nt, 9).alias("reliability"),
        F.round(F.col("res") / nt, 9).alias("resolution"),
        F.round(base_t * (1 - base_t), 9).alias("uncertainty"),
    )


# -- precision/recall threshold sweep (round 9) -----------------------------------


_PR_ORACLE = (
    _TRAIN_CTES
    + _SCORED_CTE
    + """,
th AS (SELECT UNNEST(generate_series(1, 9)) AS t10),
sweep AS (
  SELECT t10,
    SUM(CASE WHEN score >= CAST(t10 AS DOUBLE) / 10 AND y = 1
        THEN 1 ELSE 0 END) AS tp,
    SUM(CASE WHEN score >= CAST(t10 AS DOUBLE) / 10 AND y = 0
        THEN 1 ELSE 0 END) AS fp,
    SUM(CASE WHEN score < CAST(t10 AS DOUBLE) / 10 AND y = 1
        THEN 1 ELSE 0 END) AS fn
  FROM scored, th GROUP BY t10
)
SELECT CAST(t10 AS INT) AS threshold_x10,
  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(fn AS BIGINT) AS fn,
  ROUND(CASE WHEN tp + fp > 0
    THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0 END, 9) AS precision,
  ROUND(CASE WHEN tp + fn > 0
    THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0 END, 9) AS recall,
  ROUND(CASE WHEN 2 * tp + fp + fn > 0
    THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
    ELSE 0 END, 9) AS f1
FROM sweep
ORDER BY threshold_x10
"""
)


@register(
    "classifier_pr_curve",
    oracle=_PR_ORACLE,
    doc="Precision/recall/F1 sweep of the trained quality classifier "
    "at thresholds 0.1..0.9 — the operating-point table a corpus "
    "filter is tuned from (AUC says the ranking is good; THIS says "
    "what you keep and lose at each cut).  One corpus pass fans each "
    "scored row out against the broadcast 9-row threshold table and "
    "reduces map-side to 9 exact-integer confusion rows; "
    "precision/recall/F1 are single divisions of BIGINTs (F1 in the "
    "2tp/(2tp+fp+fn) form — no float chaining of P and R).  Empty "
    "denominators emit 0 by stated convention.",
    tags=("classifier", "ml", "pr-curve", "extension"),
    extended=True,
)
def classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.classifier import (
        logistic_score,
        logistic_train_rounds,
    )

    feats = _features(spark, sf_dir)
    rounds = logistic_train_rounds(
        feats, ["f1", "f2"], "y", iterations=_ROUNDS, lr=_LR
    ).collect()
    final = next(r for r in rounds if r["round"] == _ROUNDS)
    scored = feats.select(
        "y",
        logistic_score(
            ["f1", "f2"], [final["w0"], final["w1"], final["w2"]]
        ).alias("score"),
    )
    th = spark.range(1, 10).select(F.col("id").cast("int").alias("t10"))
    sweep = scored.crossJoin(F.broadcast(th)).groupBy("t10").agg(
        F.sum(
            F.when(
                (F.col("score") >= F.col("t10").cast("double") / 10)
                & (F.col("y") == 1),
                1,
            ).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(
                (F.col("score") >= F.col("t10").cast("double") / 10)
                & (F.col("y") == 0),
                1,
            ).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when(
                (F.col("score") < F.col("t10").cast("double") / 10)
                & (F.col("y") == 1),
                1,
            ).otherwise(0)
        ).alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return sweep.select(
        F.col("t10").cast("int").alias("threshold_x10"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.round(
            F.when(tp + fp > 0, tp.cast("double") / (tp + fp)).otherwise(
                0.0
            ),
            9,
        ).alias("precision"),
        F.round(
            F.when(tp + fn > 0, tp.cast("double") / (tp + fn)).otherwise(
                0.0
            ),
            9,
        ).alias("recall"),
        F.round(
            F.when(
                2 * tp + fp + fn > 0,
                (2 * tp).cast("double") / (2 * tp + fp + fn),
            ).otherwise(0.0),
            9,
        ).alias("f1"),
    ).orderBy("threshold_x10")


# -- k-NN majority-vote classifier over ANN candidates (round 10) --------------


def knn_lsh_predictions(
    spark: SparkSession, sf_dir: str, n_tables: int = 24
) -> DataFrame:
    """(ia, pred_label) for the leave-one-out k-NN majority vote at the
    given LSH table count.  Table seeds are t*131 for t in range(n),
    so the candidate set is MONOTONE in n_tables: 16 is exact-covering
    on both fixtures (verified), 24 is the margined oracle setting,
    and the 10-table production profile trades a pinned agreement
    floor for ~2-3x less candidate volume (the sim_lsh_topk
    recall-profile split)."""
    from pyspark.sql import Window

    from diabetes_etl_spark.operators.similarity import knn_d2_lsh

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    nn = knn_d2_lsh(
        emb.select("vec_id", "embedding"),
        k=10,
        n_bits=6,
        n_tables=n_tables,
        dim=64,
        bucket_cap=128,
        multiprobe=True,
        id_col="vec_id",
    )
    labels = emb.select("vec_id", "label")
    votes = (
        nn.join(
            F.broadcast(labels).withColumnsRenamed(
                {"vec_id": "ib_id", "label": "nb_label"}
            ),
            F.col("ib") == F.col("ib_id"),
        )
        .groupBy("ia", "nb_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("ia").orderBy(
        F.col("n_votes").desc(), F.col("nb_label").asc()
    )
    return (
        votes.select(
            "ia", "nb_label", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") == 1)
        .select("ia", F.col("nb_label").alias("pred_label"))
    )


def _knn_confusion(
    spark: SparkSession, sf_dir: str, n_tables: int
) -> DataFrame:
    pred = knn_lsh_predictions(spark, sf_dir, n_tables=n_tables)
    truth = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .withColumnsRenamed({"vec_id": "ia_id", "label": "true_label"})
    )
    return (
        pred.join(F.broadcast(truth), F.col("ia") == F.col("ia_id"))
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    )


def _knn_lsh_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_confusion(spark, sf_dir, n_tables=24)


def _knn_lsh_classifier_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_confusion(spark, sf_dir, n_tables=16)


_KNN_ORACLE = """
WITH sq AS (
  SELECT vec_id, CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
    AS DECIMAL(20,15))) AS DOUBLE) AS s
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
up AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
    unnest(a.embedding) AS xa, unnest(b.embedding) AS xb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
),
dots AS (
  SELECT ia, ib, CAST(SUM(CAST(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)
    AS DECIMAL(20,15))) AS DOUBLE) AS dot
  FROM up GROUP BY ia, ib
),
dist AS (
  SELECT d.ia, d.ib, sa.s + sb.s - 2 * d.dot AS d2
  FROM dots d
  JOIN sq sa ON sa.vec_id = d.ia
  JOIN sq sb ON sb.vec_id = d.ib
),
sym AS (
  SELECT ia, ib, d2 FROM dist
  UNION ALL SELECT ib, ia, d2 FROM dist
),
nn AS (
  SELECT ia, ib,
    ROW_NUMBER() OVER (PARTITION BY ia ORDER BY d2, ib) AS rk
  FROM sym
),
votes AS (
  SELECT nn.ia, e.label AS nb_label, COUNT(*) AS n_votes
  FROM nn JOIN embeddings e ON e.vec_id = nn.ib
  WHERE nn.rk <= 10
  GROUP BY nn.ia, e.label
),
pred AS (
  SELECT ia, nb_label AS pred_label,
    ROW_NUMBER() OVER (PARTITION BY ia
                       ORDER BY n_votes DESC, nb_label ASC) AS rn
  FROM votes
)
SELECT t.label AS true_label, p.pred_label,
  CAST(COUNT(*) AS BIGINT) AS n_points
FROM pred p JOIN embeddings t ON t.vec_id = p.ia
WHERE p.rn = 1
GROUP BY t.label, p.pred_label
"""

register(
    "classifier_knn_lsh",
    oracle=_KNN_ORACLE,
    doc="k-NN majority-vote classifier (k = 10, squared-Euclidean) over "
    "the embedding corpus, evaluated leave-one-out as a confusion "
    "matrix (true_label x pred_label x count) — the non-parametric "
    "baseline every embedding-quality audit runs before trusting a "
    "learned head.  Neighbours come from operators/similarity."
    "knn_d2_lsh's BOUNDED LSH buckets (24 tables x 6 bits, symmetric "
    "1-bit multiprobe, bucket cap 128) — never an all-pairs join; "
    "votes and the (n_votes DESC, label ASC) tie-break are exact "
    "integers, so the whole result is hash-stable with no float in "
    "sight after the decimal-exact d^2.  The oracle is the exact "
    "all-pairs k-NN in SQL at covering probe params (the "
    "embeddings_intrinsic_dim_ann precedent): any recall slip on the "
    "fixture is a loud hash mismatch, never a silent accuracy drift.  "
    "Scale: one (table, bucket, id) shuffle ~20B x tables x probes "
    "per row, bounded per-bucket fan-out, candidate-only distances, "
    "then label-vote aggregates on k rows per point; the label map "
    "rides as a broadcast.",
    tags=("classifier", "knn", "ann", "similarity", "extension"),
    extended=True,
)(_knn_lsh_classifier)


register(
    "classifier_knn_lsh_prod",
    # Round-13 (verdict-r12 #3, the decontam_semantic_quarantine_prod
    # precedent): the prod profile moved from 10 tables (probed NOT
    # covering in round 12) to 16 — the COVERING EDGE, i.e. the
    # cheapest table count whose candidate sets still contain the
    # exact top-10 at both fixture scales (verified identical
    # confusion to the 24-table margined setting at sf0.001 and
    # sf0.01), so the exact all-pairs oracle applies verbatim.  The
    # covering assumption is pinned as prod == base equality in
    # tests/test_round13.py; the sub-covering 10-table knob remains
    # characterized by the >= 0.90 agreement floor in
    # tests/test_classifier.py.
    oracle=_KNN_ORACLE,
    doc="PRODUCTION profile of classifier_knn_lsh: 16 LSH tables — "
    "the covering EDGE — instead of the 24-table margined oracle "
    "setting: the same bounded bucket machinery with 1.5x less "
    "candidate volume, the cheapest configuration that still "
    "reproduces the exact confusion matrix at fixture scale "
    "(empirically covering at sf0.001 AND sf0.01, the "
    "decontam_semantic_quarantine_prod precedent), so it is "
    "oracle-paired against the exact all-pairs k-NN and any fixture "
    "recall slip is a loud hash mismatch.  At production scale "
    "recall is profile-dependent; the deeper sub-covering knob "
    "(10 tables) stays characterized by the >= 0.90 per-point "
    "agreement floor in tests/test_classifier.py.  Same plan shape "
    "as the base query: (table, bucket, id) shuffle, capped "
    "buckets, candidate-only exact d^2, broadcast label map.",
    tags=("classifier", "knn", "ann", "similarity", "scale", "extension"),
    extended=True,
)(_knn_lsh_classifier_prod)
