"""Silver-layer transformations: median imputation + feature engineering.

Behavioral parity with the reference silver table (reference:
src/diabetes_etl_pipeline.py:101-259) with the documented quirk
decisions from SURVEY.md §4:

1. **Flag-first imputation** (quirk 1): the reference computes each
   `*_imputed` flag *after* replacing the column, so flags are always
   False; the documented intent (pipeline:103,115-117) is flag-then-
   impute.  We implement the intent: flags reflect the raw zeros.
2. **Deterministic types** (quirk 3): the five imputed measures are
   cast to DOUBLE unconditionally.
3. **In-plan medians** (SURVEY §7.4): the reference runs five separate
   `collect()` round-trips to fetch nonzero medians before building
   the silver plan (pipeline:123-155) — 5 driver-blocking Spark jobs.
   Here all five medians come from ONE aggregate computed in-plan and
   broadcast-cross-joined back; the plan stays lazy and works at any
   scale.  `median` is exact (Spark >= 3.4); `percentile_approx` is a
   drop-in for the 100 TB path (mergeable sketch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.context import RunContext
from diabetes_etl_spark.diabetes.schema import FALLBACK_MEDIANS

IMPUTE_COLS = ("Glucose", "BloodPressure", "SkinThickness", "Insulin", "BMI")
FLAG_NAMES = {
    "Glucose": "glucose_imputed",
    "BloodPressure": "bp_imputed",
    "SkinThickness": "skin_imputed",
    "Insulin": "insulin_imputed",
    "BMI": "bmi_imputed",
}


def nonzero_medians(df: DataFrame, approx: bool = False) -> DataFrame:
    """One-row DataFrame with the nonzero median of each impute column.

    `when(col > 0, col)` without otherwise yields NULL for zeros, and
    median/percentile_approx ignore NULLs — i.e. `filter(col > 0)`
    semantics (reference: pipeline:123-155) in a single pass over the
    data instead of five.
    """
    def med(c: str) -> Column:
        nonzero = F.when(F.col(c) > 0, F.col(c).cast("double"))
        agg = (
            F.percentile_approx(nonzero, 0.5) if approx else F.median(nonzero)
        )
        return F.coalesce(agg, F.lit(FALLBACK_MEDIANS[c])).alias(f"__med_{c}")

    return df.agg(*[med(c) for c in IMPUTE_COLS])


def impute_and_flag(df: DataFrame, medians: DataFrame) -> DataFrame:
    """Median-replace zeros in the five measures; flags from raw values."""
    out = df.crossJoin(F.broadcast(medians))
    for c in IMPUTE_COLS:
        out = out.withColumn(FLAG_NAMES[c], F.col(c) == 0).withColumn(
            c,
            F.when(F.col(c) == 0, F.col(f"__med_{c}")).otherwise(
                F.col(c).cast("double")
            ),
        )
    return out.drop(*[f"__med_{c}" for c in IMPUTE_COLS])


# -- categorical feature bucketing (reference: pipeline:185-224) -----------


def age_group(col: Column = None) -> Column:
    c = col if col is not None else F.col("Age")
    return (
        F.when(c < 30, "Young (< 30)")
        .when(c < 40, "Adult (30-39)")
        .when(c < 50, "Middle Age (40-49)")
        .when(c < 60, "Mature (50-59)")
        .otherwise("Senior (60+)")
    )


def bmi_category(col: Column = None) -> Column:
    c = col if col is not None else F.col("BMI")
    return (
        F.when(c < 18.5, "Underweight")
        .when(c < 25, "Normal")
        .when(c < 30, "Overweight")
        .otherwise("Obese")
    )


def glucose_level(col: Column = None) -> Column:
    c = col if col is not None else F.col("Glucose")
    return (
        F.when(c < 100, "Normal")
        .when(c < 126, "Prediabetic")
        .otherwise("Diabetic Range")
    )


def bp_category(col: Column = None) -> Column:
    c = col if col is not None else F.col("BloodPressure")
    return (
        F.when(c < 80, "Normal")
        .when(c < 90, "High Normal")
        .when(c < 100, "Mild Hypertension")
        .otherwise("Hypertension")
    )


def pregnancy_risk(col: Column = None) -> Column:
    c = col if col is not None else F.col("Pregnancies")
    return (
        F.when(c == 0, "No Pregnancies")
        .when(c <= 2, "Low Risk")
        .when(c <= 5, "Moderate Risk")
        .otherwise("High Risk")
    )


def risk_score() -> Column:
    """Weighted composite risk score (reference: pipeline:227-238)."""
    d = lambda name: F.col(name).cast("double")  # noqa: E731
    return (
        (d("Glucose") / 200.0) * 0.25
        + (d("BMI") / 50.0) * 0.20
        + (d("Age") / 100.0) * 0.15
        + (d("Pregnancies") / 20.0) * 0.10
        + (d("BloodPressure") / 200.0) * 0.10
        + (F.col("DiabetesPedigreeFunction") / 2.5) * 0.10
        + (d("Insulin") / 1000.0) * 0.05
        + (d("SkinThickness") / 100.0) * 0.05
    ).cast("double")


def risk_level(col: Column = None) -> Column:
    c = col if col is not None else F.col("risk_score")
    return F.when(c < 0.4, "Low").when(c < 0.6, "Medium").otherwise("High")


def data_quality_score() -> Column:
    """Percent of the five measures that were NOT imputed — 0..100 in
    steps of 20 (reference: pipeline:248-256; meaningful here because
    flags are computed flag-first, see module docstring)."""
    total = None
    for flag in FLAG_NAMES.values():
        piece = F.when(F.col(flag), 0).otherwise(20)
        total = piece if total is None else total + piece
    return total.cast("int")


def engineer_features(df: DataFrame) -> DataFrame:
    """All silver feature columns (reference: pipeline:185-257)."""
    return df.withColumns(
        {
            "age_group": age_group(),
            "bmi_category": bmi_category(),
            "glucose_level": glucose_level(),
            "bp_category": bp_category(),
            "pregnancy_risk": pregnancy_risk(),
        }
    ).withColumn("risk_score", risk_score()).withColumns(
        {
            "risk_level": risk_level(),
            "data_quality_score": data_quality_score(),
        }
    )


def silver(bronze: DataFrame, ctx: RunContext) -> DataFrame:
    """The silver table (reference: pipeline:101-259): one-pass nonzero
    medians, flag-first imputation, the transformation timestamp, then
    the feature columns."""
    cleaned = impute_and_flag(bronze, nonzero_medians(bronze))
    return engineer_features(
        cleaned.withColumn("transformation_timestamp", ctx.now())
    )
