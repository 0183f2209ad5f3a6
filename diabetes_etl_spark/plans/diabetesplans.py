"""Driver-gate twins of the diabetes medallion surface — every named
relation from SURVEY.md §2.11 (bronze, silver, the 8 gold tables, the 3
dashboard views and the 6 dashboard SQL datasets; reference:
src/diabetes_etl_pipeline.py and reports/Diabetes-Dashboard.lvdash.json)
registered as an oracle-paired query.

The driver's fixture set has no diabetes table, so the bronze input is
SYNTHESIZED deterministically from the `orders` fixture with pure
modular arithmetic — identical expressions on the Spark and DuckDB
sides, so both engines derive bit-identical patient rows, and the whole
medallion chain (median imputation -> feature engineering -> gold
aggregation -> dashboard SQL) is differentially checked end-to-end.
The real-CSV production pipeline (diabetes/pipeline_def.py) is the
runtime form; tests/test_diabetes_pipeline.py covers it on the actual
768-row dataset.

Determinism design (the whole point of this module):
- measure values are exactly binary-representable (ints, halves for
  imputed medians, 1/16ths for BMI, 1/1024ths for the pedigree
  function), so their float SUM/AVG is order-independent and plain
  `F.avg` matches the oracle bit-for-bit at any partitioning;
- `risk_score` (an arbitrary double) is aggregated through fixed-scale
  DECIMAL folds (functions/numeric.py) — exact, associative;
- stddev/corr are computed from those exact sums via the textbook
  formulas instead of Spark's order-sensitive streaming merges;
- the injectable clock (context.py) pins every audit column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.context import RunContext
from diabetes_etl_spark.diabetes import features as FE
from diabetes_etl_spark.functions.numeric import dec_sum, sql_dec_sum
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

_BASE_TS = "2024-01-15 10:00:00"
_RUN_TS = "2024-01-15 12:00:00"
_RUN_DATE = "2024-01-15"
_RUN_ID = "run-00000000-0000-0000-0000-000000000001"
CTX = RunContext(fixed_now=_RUN_TS, fixed_run_id=_RUN_ID)

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# Synthetic bronze: deterministic patients derived from `orders`
# ---------------------------------------------------------------------------


def synthetic_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patients table derived from o_orderkey by modular arithmetic.

    Mirrors the bronze contract of the reference ingest (reference:
    src/diabetes_etl_pipeline.py:26-36,62-74): the 9 declared measures
    plus audit columns.  ~5-20% zeros in each imputable measure drive
    the silver median-imputation path; Outcome ~35% positive (the Pima
    base rate).  Every expression is reproduced verbatim in the DuckDB
    oracle prelude below.
    """
    k = F.col("o_orderkey")
    pid = F.col("patient_id")
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .select(
            k.cast("long").alias("patient_id"),
            (k % 15).cast("int").alias("Pregnancies"),
            F.when(k % 19 == 0, F.lit(0))
            .otherwise(F.lit(56) + (k * 7) % 140)
            .cast("int")
            .alias("Glucose"),
            F.when(k % 23 == 0, F.lit(0))
            .otherwise(F.lit(40) + (k * 11) % 80)
            .cast("int")
            .alias("BloodPressure"),
            F.when(k % 13 == 0, F.lit(0))
            .otherwise(F.lit(7) + (k * 3) % 43)
            .cast("int")
            .alias("SkinThickness"),
            F.when(k % 5 == 0, F.lit(0))
            .otherwise(F.lit(15) + (k * 17) % 831)
            .cast("int")
            .alias("Insulin"),
            F.when(k % 29 == 0, F.lit(0.0))
            .otherwise(
                F.lit(15.0) + ((k * 13) % 400).cast("double") / F.lit(16.0)
            )
            .alias("BMI"),
            (((k * 37) % 2342).cast("double") / F.lit(1024.0)).alias(
                "DiabetesPedigreeFunction"
            ),
            (F.lit(21) + (k * 5) % 60).cast("int").alias("Age"),
            F.when((k * 7919) % 100 < 35, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("Outcome"),
            F.concat(
                F.lit("diabetes_part_"),
                (k % 6 + 1).cast("string"),
                F.lit(".csv"),
            ).alias("file_name"),
        )
        .withColumn(
            "source_file",
            F.concat(F.lit("memory://synthetic/raw/"), F.col("file_name")),
        )
        .withColumn(
            "ingestion_timestamp",
            F.expr(
                f"timestamp'{_BASE_TS}' + make_interval(0, 0, 0, 0, 0, 0, "
                f"CAST((patient_id * 7) % 360 AS INT))"
            ),
        )
        .withColumn("ingestion_date", F.lit(_RUN_DATE).cast("date"))
    )


def build_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic bronze through the real silver engine code
    (diabetes/features.py — the same functions the production pipeline
    uses): one-pass nonzero medians, flag-first imputation, feature
    engineering."""
    bronze = synthetic_bronze(spark, sf_dir)
    return FE.engineer_features(
        FE.impute_and_flag(bronze, FE.nonzero_medians(bronze))
    )


# ---------------------------------------------------------------------------
# DuckDB oracle prelude: the same bronze + silver chain in ANSI SQL
# ---------------------------------------------------------------------------

_O_PRELUDE = f"""WITH bronze AS (
  SELECT
    o_orderkey AS patient_id,
    CAST(o_orderkey % 15 AS INT) AS Pregnancies,
    CAST(CASE WHEN o_orderkey % 19 = 0 THEN 0
         ELSE 56 + (o_orderkey * 7) % 140 END AS INT) AS Glucose,
    CAST(CASE WHEN o_orderkey % 23 = 0 THEN 0
         ELSE 40 + (o_orderkey * 11) % 80 END AS INT) AS BloodPressure,
    CAST(CASE WHEN o_orderkey % 13 = 0 THEN 0
         ELSE 7 + (o_orderkey * 3) % 43 END AS INT) AS SkinThickness,
    CAST(CASE WHEN o_orderkey % 5 = 0 THEN 0
         ELSE 15 + (o_orderkey * 17) % 831 END AS INT) AS Insulin,
    CASE WHEN o_orderkey % 29 = 0 THEN 0.0
         ELSE 15.0 + CAST((o_orderkey * 13) % 400 AS DOUBLE) / 16.0
    END AS BMI,
    CAST((o_orderkey * 37) % 2342 AS DOUBLE) / 1024.0
      AS DiabetesPedigreeFunction,
    CAST(21 + (o_orderkey * 5) % 60 AS INT) AS Age,
    CAST(CASE WHEN (o_orderkey * 7919) % 100 < 35 THEN 1 ELSE 0 END AS INT)
      AS Outcome,
    'diabetes_part_' || CAST(o_orderkey % 6 + 1 AS VARCHAR) || '.csv'
      AS file_name,
    'memory://synthetic/raw/diabetes_part_'
      || CAST(o_orderkey % 6 + 1 AS VARCHAR) || '.csv' AS source_file,
    TIMESTAMP '{_BASE_TS}'
      + to_seconds(CAST((o_orderkey * 7) % 360 AS BIGINT))
      AS ingestion_timestamp,
    DATE '{_RUN_DATE}' AS ingestion_date
  FROM orders
),
medians AS (
  SELECT
    COALESCE(median(CASE WHEN Glucose > 0
      THEN CAST(Glucose AS DOUBLE) END), 117.0) AS med_Glucose,
    COALESCE(median(CASE WHEN BloodPressure > 0
      THEN CAST(BloodPressure AS DOUBLE) END), 72.0) AS med_BloodPressure,
    COALESCE(median(CASE WHEN SkinThickness > 0
      THEN CAST(SkinThickness AS DOUBLE) END), 23.0) AS med_SkinThickness,
    COALESCE(median(CASE WHEN Insulin > 0
      THEN CAST(Insulin AS DOUBLE) END), 125.0) AS med_Insulin,
    COALESCE(median(CASE WHEN BMI > 0
      THEN CAST(BMI AS DOUBLE) END), 32.3) AS med_BMI
  FROM bronze
),
silver1 AS (
  SELECT
    patient_id, Pregnancies, Age, Outcome, DiabetesPedigreeFunction,
    file_name, source_file, ingestion_timestamp, ingestion_date,
    Glucose = 0 AS glucose_imputed,
    BloodPressure = 0 AS bp_imputed,
    SkinThickness = 0 AS skin_imputed,
    Insulin = 0 AS insulin_imputed,
    BMI = 0.0 AS bmi_imputed,
    CASE WHEN Glucose = 0 THEN med_Glucose
         ELSE CAST(Glucose AS DOUBLE) END AS Glucose,
    CASE WHEN BloodPressure = 0 THEN med_BloodPressure
         ELSE CAST(BloodPressure AS DOUBLE) END AS BloodPressure,
    CASE WHEN SkinThickness = 0 THEN med_SkinThickness
         ELSE CAST(SkinThickness AS DOUBLE) END AS SkinThickness,
    CASE WHEN Insulin = 0 THEN med_Insulin
         ELSE CAST(Insulin AS DOUBLE) END AS Insulin,
    CASE WHEN BMI = 0.0 THEN med_BMI ELSE BMI END AS BMI
  FROM bronze CROSS JOIN medians
),
silver2 AS (
  SELECT s.*,
    CASE WHEN Age < 30 THEN 'Young (< 30)'
         WHEN Age < 40 THEN 'Adult (30-39)'
         WHEN Age < 50 THEN 'Middle Age (40-49)'
         WHEN Age < 60 THEN 'Mature (50-59)'
         ELSE 'Senior (60+)' END AS age_group,
    CASE WHEN BMI < 18.5 THEN 'Underweight'
         WHEN BMI < 25 THEN 'Normal'
         WHEN BMI < 30 THEN 'Overweight'
         ELSE 'Obese' END AS bmi_category,
    CASE WHEN Glucose < 100 THEN 'Normal'
         WHEN Glucose < 126 THEN 'Prediabetic'
         ELSE 'Diabetic Range' END AS glucose_level,
    CASE WHEN BloodPressure < 80 THEN 'Normal'
         WHEN BloodPressure < 90 THEN 'High Normal'
         WHEN BloodPressure < 100 THEN 'Mild Hypertension'
         ELSE 'Hypertension' END AS bp_category,
    CASE WHEN Pregnancies = 0 THEN 'No Pregnancies'
         WHEN Pregnancies <= 2 THEN 'Low Risk'
         WHEN Pregnancies <= 5 THEN 'Moderate Risk'
         ELSE 'High Risk' END AS pregnancy_risk,
    (Glucose / 200.0) * 0.25
      + (BMI / 50.0) * 0.20
      + (CAST(Age AS DOUBLE) / 100.0) * 0.15
      + (CAST(Pregnancies AS DOUBLE) / 20.0) * 0.10
      + (BloodPressure / 200.0) * 0.10
      + (DiabetesPedigreeFunction / 2.5) * 0.10
      + (Insulin / 1000.0) * 0.05
      + (SkinThickness / 100.0) * 0.05 AS risk_score,
    CAST(CASE WHEN glucose_imputed THEN 0 ELSE 20 END
      + CASE WHEN bp_imputed THEN 0 ELSE 20 END
      + CASE WHEN skin_imputed THEN 0 ELSE 20 END
      + CASE WHEN insulin_imputed THEN 0 ELSE 20 END
      + CASE WHEN bmi_imputed THEN 0 ELSE 20 END AS INT)
      AS data_quality_score
  FROM silver1 s
),
silver AS (
  SELECT s.*,
    CASE WHEN risk_score < 0.4 THEN 'Low'
         WHEN risk_score < 0.6 THEN 'Medium'
         ELSE 'High' END AS risk_level
  FROM silver2 s
)"""


def _mimic_spark_round(sql: str) -> str:
    """Rewrite every ``ROUND(expr, n)`` in an oracle fragment to match
    Spark's rounding semantics exactly.

    Spark's ``round()`` on DOUBLE goes through
    ``BigDecimal.valueOf(Double.toString(x))`` — it rounds the SHORTEST
    DECIMAL REPR of the double, half-up.  DuckDB's ``round()`` rounds
    the true binary value half-away-from-zero.  They disagree exactly
    when the shortest repr is a midpoint (e.g. avg = 131.075 stored as
    131.07499999999999): Spark says 131.08, DuckDB says 131.07.  The
    rewrite ``CAST(ROUND(CAST(CAST(x AS STRING) AS DECIMAL(28,14)), n)
    AS DOUBLE)`` reproduces Spark's string-first behavior (both engines
    print shortest round-trip reprs and round decimals away from zero),
    and is itself engine-portable, so it is also safe inside the shared
    dashboard templates that BOTH engines execute.
    """
    out, i = [], 0
    while True:
        j = sql.find("ROUND(", i)
        if j < 0:
            out.append(sql[i:])
            return "".join(out)
        out.append(sql[i:j])
        depth, k = 0, j + 5
        for k in range(j + 5, len(sql)):
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
                if depth == 0:
                    break
        inner, n = sql[j + 6 : k].rsplit(",", 1)
        out.append(
            f"CAST(ROUND(CAST(CAST(({inner.strip()}) AS STRING) "
            f"AS DECIMAL(28,14)), {n.strip()}) AS DOUBLE)"
        )
        i = k + 1


# ---------------------------------------------------------------------------
# Gold builders (Spark) + oracle fragments (DuckDB), kept in lock-step
# ---------------------------------------------------------------------------

_DEC_RS = dict(scale=15, precision=27)       # risk_score sum fold
_DEC_RS2 = dict(scale=18, precision=29)      # risk_score^2 sum fold


def gold_demographics(silver: DataFrame) -> DataFrame:
    """reference: pipeline:268-301 (created_at pinned by CTX)."""
    g = silver.groupBy("age_group", "bmi_category", "pregnancy_risk").agg(
        F.count(F.lit(1)).alias("patient_count"),
        F.sum("Outcome").cast("bigint").alias("diabetes_cases"),
        F.round(F.avg("Age"), 2).alias("avg_age"),
        F.round(F.avg("BMI"), 2).alias("avg_bmi"),
        F.round(F.avg("Glucose"), 2).alias("avg_glucose"),
        F.round(F.avg("BloodPressure"), 2).alias("avg_blood_pressure"),
        dec_sum(F.col("risk_score"), **_DEC_RS).alias("_sx"),
        F.count(F.col("risk_score")).alias("_n"),
        F.round(F.avg("data_quality_score"), 2).alias("avg_data_quality"),
        F.min("Age").alias("min_age"),
        F.max("Age").alias("max_age"),
    )
    return (
        g.withColumn("avg_risk_score", F.round(F.col("_sx") / F.col("_n"), 3))
        .withColumn(
            "diabetes_rate",
            F.round(
                F.col("diabetes_cases").cast("double")
                / F.col("patient_count").cast("double")
                * 100.0,
                2,
            ),
        )
        .withColumn("created_at", F.lit(_RUN_TS))
        .drop("_sx", "_n")
    )


_O_DEMOGRAPHICS = f"""SELECT
  age_group, bmi_category, pregnancy_risk, patient_count, diabetes_cases,
  avg_age, avg_bmi, avg_glucose, avg_blood_pressure, avg_data_quality,
  min_age, max_age,
  ROUND(_sx / _n, 3) AS avg_risk_score,
  ROUND(CAST(diabetes_cases AS DOUBLE) / CAST(patient_count AS DOUBLE)
        * 100.0, 2) AS diabetes_rate,
  '{_RUN_TS}' AS created_at
FROM (
  SELECT age_group, bmi_category, pregnancy_risk,
    COUNT(*) AS patient_count,
    CAST(SUM(Outcome) AS BIGINT) AS diabetes_cases,
    ROUND(AVG(Age), 2) AS avg_age,
    ROUND(AVG(BMI), 2) AS avg_bmi,
    ROUND(AVG(Glucose), 2) AS avg_glucose,
    ROUND(AVG(BloodPressure), 2) AS avg_blood_pressure,
    {sql_dec_sum("risk_score", 15, 27)} AS _sx,
    COUNT(risk_score) AS _n,
    ROUND(AVG(data_quality_score), 2) AS avg_data_quality,
    MIN(Age) AS min_age,
    MAX(Age) AS max_age
  FROM silver
  GROUP BY age_group, bmi_category, pregnancy_risk
) g"""


def gold_risk_analysis(silver: DataFrame) -> DataFrame:
    """reference: pipeline:303-342; stddev from exact decimal sums."""
    g = silver.groupBy("risk_level", "glucose_level", "bp_category").agg(
        F.count(F.lit(1)).alias("patient_count"),
        F.sum("Outcome").cast("bigint").alias("diabetes_cases"),
        dec_sum(F.col("risk_score"), **_DEC_RS).alias("_sx"),
        dec_sum(F.col("risk_score") * F.col("risk_score"), **_DEC_RS2).alias(
            "_sxx"
        ),
        F.count(F.col("risk_score")).alias("_n"),
        F.round(F.avg("DiabetesPedigreeFunction"), 3).alias(
            "avg_pedigree_function"
        ),
        F.round(F.avg("Insulin"), 2).alias("avg_insulin"),
        F.round(F.avg("SkinThickness"), 2).alias("avg_skin_thickness"),
        F.countDistinct("age_group").alias("age_groups_represented"),
        F.round(F.avg("data_quality_score"), 2).alias("avg_data_quality"),
    )
    n = F.col("_n")
    g = (
        g.withColumn("avg_risk_score", F.round(F.col("_sx") / n, 3))
        .withColumn(
            "stddev_risk_score",
            F.when(
                n > 1,
                F.round(
                    F.sqrt(
                        F.greatest(
                            (F.col("_sxx") - F.col("_sx") * F.col("_sx") / n)
                            / (n - 1),
                            F.lit(0.0),
                        )
                    ),
                    3,
                ),
            ),
        )
        .withColumn(
            "diabetes_rate",
            F.round(
                F.col("diabetes_cases").cast("double")
                / F.col("patient_count").cast("double")
                * 100.0,
                2,
            ),
        )
    )
    lo = F.col("avg_risk_score") - F.coalesce(
        F.col("stddev_risk_score"), F.lit(0.0)
    )
    hi = F.col("avg_risk_score") + F.coalesce(
        F.col("stddev_risk_score"), F.lit(0.0)
    )
    return (
        g.withColumn(
            "risk_score_range",
            F.concat(
                F.format_number(lo, 3), F.lit(" - "), F.format_number(hi, 3)
            ),
        )
        .withColumn("created_at", F.lit(_RUN_TS))
        .drop("_sx", "_sxx", "_n")
    )


_O_RISK_ANALYSIS = f"""SELECT
  risk_level, glucose_level, bp_category, patient_count, diabetes_cases,
  avg_pedigree_function, avg_insulin, avg_skin_thickness,
  age_groups_represented, avg_data_quality,
  avg_risk_score, stddev_risk_score,
  ROUND(CAST(diabetes_cases AS DOUBLE) / CAST(patient_count AS DOUBLE)
        * 100.0, 2) AS diabetes_rate,
  printf('%.3f', avg_risk_score - COALESCE(stddev_risk_score, 0.0))
    || ' - ' ||
  printf('%.3f', avg_risk_score + COALESCE(stddev_risk_score, 0.0))
    AS risk_score_range,
  '{_RUN_TS}' AS created_at
FROM (
  SELECT *,
    ROUND(_sx / _n, 3) AS avg_risk_score,
    CASE WHEN _n > 1 THEN
      ROUND(sqrt(GREATEST((_sxx - _sx * _sx / _n) / (_n - 1), 0.0)), 3)
    END AS stddev_risk_score
  FROM (
    SELECT risk_level, glucose_level, bp_category,
      COUNT(*) AS patient_count,
      CAST(SUM(Outcome) AS BIGINT) AS diabetes_cases,
      {sql_dec_sum("risk_score", 15, 27)} AS _sx,
      {sql_dec_sum("risk_score * risk_score", 18, 29)} AS _sxx,
      COUNT(risk_score) AS _n,
      ROUND(AVG(DiabetesPedigreeFunction), 3) AS avg_pedigree_function,
      ROUND(AVG(Insulin), 2) AS avg_insulin,
      ROUND(AVG(SkinThickness), 2) AS avg_skin_thickness,
      COUNT(DISTINCT age_group) AS age_groups_represented,
      ROUND(AVG(data_quality_score), 2) AS avg_data_quality
    FROM silver
    GROUP BY risk_level, glucose_level, bp_category
  ) raw
) g (risk_level, glucose_level, bp_category, patient_count, diabetes_cases,
     _sx, _sxx, _n, avg_pedigree_function, avg_insulin, avg_skin_thickness,
     age_groups_represented, avg_data_quality, avg_risk_score,
     stddev_risk_score)"""


def gold_executive(silver: DataFrame) -> DataFrame:
    """reference: pipeline:344-389 (single wide KPI row)."""
    m = silver.agg(
        F.count(F.lit(1)).alias("_total"),
        F.sum(F.when(F.col("Outcome") == 1, 1).otherwise(0)).alias("_cases"),
        F.sum(F.when(F.col("risk_level") == "High", 1).otherwise(0)).alias(
            "_high"
        ),
        F.round(F.avg("Age"), 1).alias("avg_age"),
        dec_sum(F.col("risk_score"), **_DEC_RS).alias("_sx"),
        F.count(F.col("risk_score")).alias("_n"),
        F.round(F.avg("data_quality_score"), 1).alias("data_quality_score"),
    )
    return m.select(
        F.lit("summary").alias("summary_type"),
        F.col("_total").cast("double").alias("total_patients"),
        F.col("_cases").cast("double").alias("diabetes_cases"),
        F.round(
            F.col("_cases").cast("double") / F.col("_total").cast("double")
            * 100.0,
            2,
        ).alias("diabetes_percentage"),
        F.col("_high").cast("double").alias("high_risk_patients"),
        F.round(
            F.col("_high").cast("double") / F.col("_total").cast("double")
            * 100.0,
            2,
        ).alias("high_risk_percentage"),
        F.col("avg_age"),
        F.round(F.col("_sx") / F.col("_n"), 3).alias("avg_risk_score"),
        F.col("data_quality_score"),
        F.lit(_RUN_DATE).cast("date").alias("summary_date"),
        F.lit(_RUN_TS).alias("created_at"),
    )


_O_EXECUTIVE = f"""SELECT
  'summary' AS summary_type,
  CAST(_total AS DOUBLE) AS total_patients,
  CAST(_cases AS DOUBLE) AS diabetes_cases,
  ROUND(CAST(_cases AS DOUBLE) / CAST(_total AS DOUBLE) * 100.0, 2)
    AS diabetes_percentage,
  CAST(_high AS DOUBLE) AS high_risk_patients,
  ROUND(CAST(_high AS DOUBLE) / CAST(_total AS DOUBLE) * 100.0, 2)
    AS high_risk_percentage,
  avg_age,
  ROUND(_sx / _n, 3) AS avg_risk_score,
  data_quality_score,
  DATE '{_RUN_DATE}' AS summary_date,
  '{_RUN_TS}' AS created_at
FROM (
  SELECT COUNT(*) AS _total,
    CAST(SUM(CASE WHEN Outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS _cases,
    CAST(SUM(CASE WHEN risk_level = 'High' THEN 1 ELSE 0 END) AS BIGINT)
      AS _high,
    ROUND(AVG(Age), 1) AS avg_age,
    {sql_dec_sum("risk_score", 15, 27)} AS _sx,
    COUNT(risk_score) AS _n,
    ROUND(AVG(data_quality_score), 1) AS data_quality_score
  FROM silver
) m"""


def gold_dq_metrics(silver: DataFrame) -> DataFrame:
    """reference: pipeline:453-489 (per-file imputation monitoring;
    meaningful counts because flags are computed flag-first)."""
    g = (
        silver.withColumn("processing_date", F.lit(_RUN_DATE).cast("date"))
        .groupBy("processing_date", "source_file")
        .agg(
            F.count(F.lit(1)).alias("total_records"),
            F.sum(F.when(F.col("glucose_imputed"), 1).otherwise(0))
            .cast("bigint")
            .alias("glucose_imputed_count"),
            F.sum(F.when(F.col("bp_imputed"), 1).otherwise(0))
            .cast("bigint")
            .alias("bp_imputed_count"),
            F.sum(F.when(F.col("skin_imputed"), 1).otherwise(0))
            .cast("bigint")
            .alias("skin_imputed_count"),
            F.sum(F.when(F.col("insulin_imputed"), 1).otherwise(0))
            .cast("bigint")
            .alias("insulin_imputed_count"),
            F.sum(F.when(F.col("bmi_imputed"), 1).otherwise(0))
            .cast("bigint")
            .alias("bmi_imputed_count"),
            F.round(F.avg("data_quality_score"), 2).alias(
                "avg_data_quality_score"
            ),
            F.min("data_quality_score").alias("min_data_quality_score"),
            F.max("data_quality_score").alias("max_data_quality_score"),
        )
    )
    return (
        g.withColumn(
            "total_imputed_fields",
            (
                F.col("glucose_imputed_count")
                + F.col("bp_imputed_count")
                + F.col("skin_imputed_count")
                + F.col("insulin_imputed_count")
                + F.col("bmi_imputed_count")
            ).cast("int"),
        )
        .withColumn(
            "imputation_rate",
            F.round(
                F.col("total_imputed_fields").cast("double")
                / (F.col("total_records").cast("double") * 5.0)
                * 100.0,
                2,
            ),
        )
        .withColumn("created_at", F.lit(_RUN_TS))
    )


_O_DQ_METRICS = f"""SELECT g.*,
  ROUND(CAST(total_imputed_fields AS DOUBLE)
        / (CAST(total_records AS DOUBLE) * 5.0) * 100.0, 2)
    AS imputation_rate,
  '{_RUN_TS}' AS created_at
FROM (
  SELECT *,
    CAST(glucose_imputed_count + bp_imputed_count + skin_imputed_count
         + insulin_imputed_count + bmi_imputed_count AS INT)
      AS total_imputed_fields
  FROM (
    SELECT DATE '{_RUN_DATE}' AS processing_date, source_file,
      COUNT(*) AS total_records,
      CAST(SUM(CASE WHEN glucose_imputed THEN 1 ELSE 0 END) AS BIGINT)
        AS glucose_imputed_count,
      CAST(SUM(CASE WHEN bp_imputed THEN 1 ELSE 0 END) AS BIGINT)
        AS bp_imputed_count,
      CAST(SUM(CASE WHEN skin_imputed THEN 1 ELSE 0 END) AS BIGINT)
        AS skin_imputed_count,
      CAST(SUM(CASE WHEN insulin_imputed THEN 1 ELSE 0 END) AS BIGINT)
        AS insulin_imputed_count,
      CAST(SUM(CASE WHEN bmi_imputed THEN 1 ELSE 0 END) AS BIGINT)
        AS bmi_imputed_count,
      ROUND(AVG(data_quality_score), 2) AS avg_data_quality_score,
      MIN(data_quality_score) AS min_data_quality_score,
      MAX(data_quality_score) AS max_data_quality_score
    FROM silver
    GROUP BY source_file
  ) raw
) g"""


def gold_refresh_log(silver: DataFrame) -> DataFrame:
    """reference: pipeline:498-534 (run audit row; run-id/clock pinned)."""
    stats = silver.agg(
        F.count(F.lit(1)).alias("total_records_processed"),
        F.countDistinct("source_file").alias("files_processed"),
        F.date_format(F.max("ingestion_timestamp"), _TS_FMT).alias(
            "latest_ingestion"
        ),
        F.round(F.avg("data_quality_score"), 2).alias("overall_data_quality"),
    )
    return (
        stats.withColumn("latest_transformation", F.lit(_RUN_TS))
        .withColumn("pipeline_run_id", F.lit(_RUN_ID))
        .withColumn("pipeline_completion_time", F.lit(_RUN_TS))
        .withColumn("status", F.lit("COMPLETED"))
        .withColumn("next_dashboard_refresh_due", F.lit(_RUN_TS))
        .withColumn(
            "refresh_priority",
            F.when(F.col("overall_data_quality") < 80, "HIGH")
            .when(F.col("total_records_processed") > 1000, "HIGH")
            .otherwise("NORMAL"),
        )
    )


_O_REFRESH_LOG = f"""SELECT s.*,
  '{_RUN_TS}' AS latest_transformation,
  '{_RUN_ID}' AS pipeline_run_id,
  '{_RUN_TS}' AS pipeline_completion_time,
  'COMPLETED' AS status,
  '{_RUN_TS}' AS next_dashboard_refresh_due,
  CASE WHEN overall_data_quality < 80 THEN 'HIGH'
       WHEN total_records_processed > 1000 THEN 'HIGH'
       ELSE 'NORMAL' END AS refresh_priority
FROM (
  SELECT COUNT(*) AS total_records_processed,
    COUNT(DISTINCT source_file) AS files_processed,
    strftime(MAX(ingestion_timestamp), '{_TS_FMT_DUCK}') AS latest_ingestion,
    ROUND(AVG(data_quality_score), 2) AS overall_data_quality
  FROM silver
) s"""


def gold_pipeline_health(bronze: DataFrame) -> DataFrame:
    """reference: pipeline:543-580 (ingest throughput per hour x file).
    Durations come from the synthetic per-row ingest offsets."""
    g = (
        bronze.withColumn(
            "processing_hour",
            F.date_format(F.col("ingestion_timestamp"), "yyyy-MM-dd HH"),
        )
        .groupBy("processing_hour", "file_name")
        .agg(
            F.count(F.lit(1)).alias("records_processed"),
            F.countDistinct("source_file").alias("unique_files"),
            F.min("ingestion_timestamp").alias("_first"),
            F.max("ingestion_timestamp").alias("_last"),
        )
        .withColumn(
            "processing_duration_minutes",
            (F.col("_last").cast("long") - F.col("_first").cast("long"))
            / F.lit(60.0),
        )
    )
    return (
        g.withColumn(
            "records_per_minute",
            F.when(
                F.col("processing_duration_minutes") > 0,
                F.round(
                    F.col("records_processed").cast("double")
                    / F.col("processing_duration_minutes"),
                    2,
                ),
            ).otherwise(F.col("records_processed").cast("double")),
        )
        .withColumn(
            "health_status",
            F.when(F.col("records_processed") == 0, "ERROR")
            .when(F.col("records_per_minute") < 10, "SLOW")
            .otherwise("HEALTHY"),
        )
        .withColumn("first_record_time", F.date_format("_first", _TS_FMT))
        .withColumn("last_record_time", F.date_format("_last", _TS_FMT))
        .withColumn("created_at", F.lit(_RUN_TS))
        .drop("_first", "_last")
    )


_O_PIPELINE_HEALTH = f"""SELECT
  processing_hour, file_name, records_processed, unique_files,
  processing_duration_minutes,
  CASE WHEN processing_duration_minutes > 0 THEN
    ROUND(CAST(records_processed AS DOUBLE) / processing_duration_minutes, 2)
  ELSE CAST(records_processed AS DOUBLE) END AS records_per_minute,
  CASE WHEN records_processed = 0 THEN 'ERROR'
       WHEN (CASE WHEN processing_duration_minutes > 0 THEN
               ROUND(CAST(records_processed AS DOUBLE)
                     / processing_duration_minutes, 2)
             ELSE CAST(records_processed AS DOUBLE) END) < 10 THEN 'SLOW'
       ELSE 'HEALTHY' END AS health_status,
  strftime(_first, '{_TS_FMT_DUCK}') AS first_record_time,
  strftime(_last, '{_TS_FMT_DUCK}') AS last_record_time,
  '{_RUN_TS}' AS created_at
FROM (
  SELECT *,
    (epoch(_last) - epoch(_first)) / 60.0 AS processing_duration_minutes
  FROM (
    SELECT strftime(ingestion_timestamp, '%Y-%m-%d %H') AS processing_hour,
      file_name,
      COUNT(*) AS records_processed,
      COUNT(DISTINCT source_file) AS unique_files,
      MIN(ingestion_timestamp) AS _first,
      MAX(ingestion_timestamp) AS _last
    FROM bronze
    GROUP BY strftime(ingestion_timestamp, '%Y-%m-%d %H'), file_name
  ) raw
) g"""


_CORR_PAIRS = (
    ("Glucose", "BMI", "glucose_bmi_corr"),
    ("Age", "Pregnancies", "age_pregnancies_corr"),
    ("BloodPressure", "BMI", "bp_bmi_corr"),
    ("Insulin", "Glucose", "insulin_glucose_corr"),
)


def gold_feature_correlation(silver: DataFrame) -> DataFrame:
    """reference: pipeline:589-622.  Pearson r from plain double sums —
    exact here because every measure and cross-product is a multiple of
    2^-k (module docstring), so the sums are order-independent; the
    formula replaces Spark's order-sensitive Covariance merge."""
    cols = sorted({c for x, y, _ in _CORR_PAIRS for c in (x, y)})
    aggs = [
        F.count(F.lit(1)).alias("sample_size"),
        F.round(F.avg("Outcome"), 3).alias("diabetes_prevalence"),
    ]
    for c in cols:
        d = F.col(c).cast("double")
        aggs.append(F.sum(d).alias(f"_s_{c}"))
        aggs.append(F.sum(d * d).alias(f"_ss_{c}"))
    for x, y, name in _CORR_PAIRS:
        aggs.append(
            F.sum(F.col(x).cast("double") * F.col(y).cast("double")).alias(
                f"_sp_{name}"
            )
        )
    g = silver.groupBy("age_group", "bmi_category").agg(*aggs)
    n = F.col("sample_size").cast("double")
    for x, y, name in _CORR_PAIRS:
        num = n * F.col(f"_sp_{name}") - F.col(f"_s_{x}") * F.col(f"_s_{y}")
        vx = n * F.col(f"_ss_{x}") - F.col(f"_s_{x}") * F.col(f"_s_{x}")
        vy = n * F.col(f"_ss_{y}") - F.col(f"_s_{y}") * F.col(f"_s_{y}")
        g = g.withColumn(
            name,
            F.when((vx > 0) & (vy > 0), F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6)),
        )
    return (
        g.withColumn(
            "correlation_strength",
            F.when(F.abs(F.col("glucose_bmi_corr")) > 0.7, "Strong")
            .when(F.abs(F.col("glucose_bmi_corr")) > 0.4, "Moderate")
            .otherwise("Weak"),
        )
        .withColumn("created_at", F.lit(_RUN_TS))
        .drop(
            *[f"_s_{c}" for c in cols],
            *[f"_ss_{c}" for c in cols],
            *[f"_sp_{name}" for _, _, name in _CORR_PAIRS],
        )
    )


def _o_corr(x: str, y: str) -> str:
    n = "CAST(sample_size AS DOUBLE)"
    return (
        f"CASE WHEN ({n} * _ss_{x} - _s_{x} * _s_{x}) > 0"
        f" AND ({n} * _ss_{y} - _s_{y} * _s_{y}) > 0 THEN"
        f" ROUND(({n} * _sp_{x}_{y} - _s_{x} * _s_{y})"
        f" / (sqrt({n} * _ss_{x} - _s_{x} * _s_{x})"
        f" * sqrt({n} * _ss_{y} - _s_{y} * _s_{y})), 6) END"
    )


_O_CORR_SUMS = ",\n    ".join(
    [
        f"SUM(CAST({c} AS DOUBLE)) AS _s_{c},\n"
        f"    SUM(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)) AS _ss_{c}"
        for c in sorted({c for x, y, _ in _CORR_PAIRS for c in (x, y)})
    ]
    + [
        f"SUM(CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE)) AS _sp_{x}_{y}"
        for x, y, _ in _CORR_PAIRS
    ]
)

_O_FEATURE_CORRELATION = f"""SELECT
  age_group, bmi_category, sample_size, diabetes_prevalence,
  glucose_bmi_corr, age_pregnancies_corr, bp_bmi_corr, insulin_glucose_corr,
  CASE WHEN abs(glucose_bmi_corr) > 0.7 THEN 'Strong'
       WHEN abs(glucose_bmi_corr) > 0.4 THEN 'Moderate'
       ELSE 'Weak' END AS correlation_strength,
  '{_RUN_TS}' AS created_at
FROM (
  SELECT age_group, bmi_category, sample_size, diabetes_prevalence,
    {_o_corr("Glucose", "BMI").replace("_sp_Glucose_BMI", "_sp_Glucose_BMI")}
      AS glucose_bmi_corr,
    {_o_corr("Age", "Pregnancies")} AS age_pregnancies_corr,
    {_o_corr("BloodPressure", "BMI")} AS bp_bmi_corr,
    {_o_corr("Insulin", "Glucose")} AS insulin_glucose_corr
  FROM (
    SELECT age_group, bmi_category,
      COUNT(*) AS sample_size,
      ROUND(AVG(Outcome), 3) AS diabetes_prevalence,
      {_O_CORR_SUMS}
    FROM silver
    GROUP BY age_group, bmi_category
  ) raw
) g"""


def gold_validation(silver: DataFrame) -> DataFrame:
    """reference: pipeline:631-672 (validity-rate report, single row)."""
    v = silver.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.sum(
            F.when((F.col("Age") > 0) & (F.col("Age") < 120), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("valid_age_count"),
        F.sum(F.when(F.col("Outcome").isin([0, 1]), 1).otherwise(0))
        .cast("bigint")
        .alias("valid_outcome_count"),
        F.sum(F.when(F.col("Pregnancies") >= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("valid_pregnancies_count"),
        F.sum(F.when(F.col("Glucose") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("valid_glucose_count"),
        F.sum(F.when(F.col("BMI") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("valid_bmi_count"),
    )
    for rate, cnt in [
        ("age_validity_rate", "valid_age_count"),
        ("outcome_validity_rate", "valid_outcome_count"),
        ("pregnancies_validity_rate", "valid_pregnancies_count"),
        ("glucose_validity_rate", "valid_glucose_count"),
        ("bmi_validity_rate", "valid_bmi_count"),
    ]:
        v = v.withColumn(
            rate,
            F.round(
                F.col(cnt).cast("double")
                / F.col("total_records").cast("double")
                * 100.0,
                2,
            ),
        )
    return (
        v.withColumn(
            "overall_data_quality",
            F.round(
                (
                    F.col("age_validity_rate")
                    + F.col("outcome_validity_rate")
                    + F.col("pregnancies_validity_rate")
                    + F.col("glucose_validity_rate")
                    + F.col("bmi_validity_rate")
                )
                / 5.0,
                2,
            ),
        )
        .withColumn("validation_timestamp", F.lit(_RUN_TS))
        .withColumn("validation_date", F.lit(_RUN_DATE).cast("date"))
    )


_O_VALIDATION = f"""SELECT r.*,
  ROUND((age_validity_rate + outcome_validity_rate
         + pregnancies_validity_rate + glucose_validity_rate
         + bmi_validity_rate) / 5.0, 2) AS overall_data_quality,
  '{_RUN_TS}' AS validation_timestamp,
  DATE '{_RUN_DATE}' AS validation_date
FROM (
  SELECT c.*,
    ROUND(CAST(valid_age_count AS DOUBLE)
          / CAST(total_records AS DOUBLE) * 100.0, 2) AS age_validity_rate,
    ROUND(CAST(valid_outcome_count AS DOUBLE)
          / CAST(total_records AS DOUBLE) * 100.0, 2)
      AS outcome_validity_rate,
    ROUND(CAST(valid_pregnancies_count AS DOUBLE)
          / CAST(total_records AS DOUBLE) * 100.0, 2)
      AS pregnancies_validity_rate,
    ROUND(CAST(valid_glucose_count AS DOUBLE)
          / CAST(total_records AS DOUBLE) * 100.0, 2)
      AS glucose_validity_rate,
    ROUND(CAST(valid_bmi_count AS DOUBLE)
          / CAST(total_records AS DOUBLE) * 100.0, 2) AS bmi_validity_rate
  FROM (
    SELECT COUNT(*) AS total_records,
      CAST(SUM(CASE WHEN Age > 0 AND Age < 120 THEN 1 ELSE 0 END) AS BIGINT)
        AS valid_age_count,
      CAST(SUM(CASE WHEN Outcome IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT)
        AS valid_outcome_count,
      CAST(SUM(CASE WHEN Pregnancies >= 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS valid_pregnancies_count,
      CAST(SUM(CASE WHEN Glucose > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS valid_glucose_count,
      CAST(SUM(CASE WHEN BMI > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS valid_bmi_count
    FROM silver
  ) c
) r"""


# ---------------------------------------------------------------------------
# Dashboard SQL templates — one string, runnable by BOTH engines
# (reference: reports/Diabetes-Dashboard.lvdash.json datasets 1-6).
# AVG-of-rounded-doubles goes through a DECIMAL fold for order
# independence; {demo}/{risk}/{ex} are table placeholders.
# ---------------------------------------------------------------------------

_DASH_KPI = """SELECT 'Total Patients' AS metric_name,
  total_patients AS metric_value FROM {ex}
UNION ALL SELECT 'Diabetes Cases', diabetes_cases FROM {ex}
UNION ALL SELECT 'Diabetes Percentage', diabetes_percentage FROM {ex}
UNION ALL SELECT 'High Risk Patients', high_risk_patients FROM {ex}
UNION ALL SELECT 'High Risk Percentage', high_risk_percentage FROM {ex}
UNION ALL SELECT 'Average Age', avg_age FROM {ex}
UNION ALL SELECT 'Average Risk Score', avg_risk_score FROM {ex}
UNION ALL SELECT 'Data Quality Score', data_quality_score FROM {ex}"""

_DEC_AVG1 = (
    "ROUND(CAST(SUM(CAST(diabetes_rate AS DECIMAL(18,6))) AS DOUBLE)"
    " / COUNT(*), 1)"
)
_DEC_AVG3 = (
    "ROUND(CAST(SUM(CAST(avg_risk_score AS DECIMAL(18,6))) AS DOUBLE)"
    " / COUNT(*), 3)"
)

_DASH_AGE = f"""SELECT age_group,
  CAST(SUM(patient_count) AS BIGINT) AS total_patients,
  CAST(SUM(diabetes_cases) AS BIGINT) AS diabetes_cases,
  {_DEC_AVG1} AS diabetes_rate,
  {_DEC_AVG3} AS avg_risk_score
FROM {{demo}}
GROUP BY age_group
ORDER BY CASE age_group
  WHEN 'Young (< 30)' THEN 1 WHEN 'Adult (30-39)' THEN 2
  WHEN 'Middle Age (40-49)' THEN 3 WHEN 'Mature (50-59)' THEN 4
  WHEN 'Senior (60+)' THEN 5 END"""

_DASH_BMI = """SELECT bmi_category,
  CAST(SUM(patient_count) AS BIGINT) AS total_patients,
  CAST(SUM(diabetes_cases) AS BIGINT) AS diabetes_cases,
  ROUND(CAST(SUM(diabetes_cases) AS DOUBLE) * 100.0
        / CAST(SUM(patient_count) AS DOUBLE), 1) AS diabetes_rate,
  ROUND(CAST(SUM(patient_count) AS DOUBLE) * 100.0
        / (SELECT CAST(SUM(patient_count) AS DOUBLE) FROM {demo}), 1)
    AS population_percentage
FROM {demo}
GROUP BY bmi_category
ORDER BY CASE bmi_category
  WHEN 'Underweight' THEN 1 WHEN 'Normal' THEN 2
  WHEN 'Overweight' THEN 3 WHEN 'Obese' THEN 4 END"""

_DASH_MATRIX = f"""SELECT risk_level, glucose_level, bp_category,
  CAST(SUM(patient_count) AS BIGINT) AS patients,
  {_DEC_AVG1} AS avg_diabetes_rate,
  {_DEC_AVG3} AS avg_risk_score
FROM {{risk}}
GROUP BY risk_level, glucose_level, bp_category
HAVING SUM(patient_count) > 0
ORDER BY
  CASE risk_level WHEN 'Low' THEN 1 WHEN 'Medium' THEN 2
       WHEN 'High' THEN 3 END,
  CASE glucose_level WHEN 'Normal' THEN 1 WHEN 'Prediabetic' THEN 2
       WHEN 'Diabetic Range' THEN 3 END"""

_DASH_TOTALS = f"""SELECT
  CAST(SUM(patient_count) AS BIGINT) AS total_patients,
  CAST(SUM(diabetes_cases) AS BIGINT) AS diabetes_cases,
  {_DEC_AVG1} AS diabetes_rate,
  {_DEC_AVG3} AS risk_score
FROM {{risk}}"""

_RISK_RANGE_CASE = """CASE
      WHEN avg_risk_score < 0.3 THEN '0.0-0.3 (Very Low)'
      WHEN avg_risk_score < 0.4 THEN '0.3-0.4 (Low)'
      WHEN avg_risk_score < 0.5 THEN '0.4-0.5 (Moderate)'
      WHEN avg_risk_score < 0.6 THEN '0.5-0.6 (High)'
      ELSE '0.6+ (Very High)' END"""

_DASH_DIST = f"""WITH risk_distribution AS (
  SELECT {_RISK_RANGE_CASE} AS risk_range,
    CAST(SUM(patient_count) AS BIGINT) AS patient_count,
    {_DEC_AVG1} AS avg_diabetes_rate
  FROM {{demo}}
  GROUP BY {_RISK_RANGE_CASE}
)
SELECT risk_range, patient_count, avg_diabetes_rate,
  ROUND(CAST(patient_count AS DOUBLE) * 100.0
        / CAST(SUM(patient_count) OVER () AS DOUBLE), 1)
    AS population_percentage
FROM risk_distribution
ORDER BY risk_range"""


def _dash_fn(template: str, needs: tuple[str, ...]):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        silver = build_silver(spark, sf_dir)
        mapping = {}
        if "demo" in needs:
            gold_demographics(silver).createOrReplaceTempView(
                "diab_gate_demographics"
            )
            mapping["demo"] = "diab_gate_demographics"
        if "risk" in needs:
            gold_risk_analysis(silver).createOrReplaceTempView(
                "diab_gate_risk_analysis"
            )
            mapping["risk"] = "diab_gate_risk_analysis"
        if "ex" in needs:
            gold_executive(silver).createOrReplaceTempView(
                "diab_gate_executive"
            )
            mapping["ex"] = "diab_gate_executive"
        return spark.sql(template.format(**mapping))

    return fn


_GOLD_CTES = {
    "demo": ("demographics", lambda: _O_DEMOGRAPHICS),
    "risk": ("risk_analysis", lambda: _O_RISK_ANALYSIS),
    "ex": ("executive", lambda: _O_EXECUTIVE),
}


def _dash_oracle(template: str, needs: tuple[str, ...]) -> str:
    ctes = [
        f"{_GOLD_CTES[n][0]} AS (\n{_GOLD_CTES[n][1]()}\n)" for n in needs
    ]
    body = template.format(
        demo="demographics", risk="risk_analysis", ex="executive"
    )
    if body.startswith("WITH "):
        body = body[len("WITH "):]
        return _O_PRELUDE + ",\n" + ",\n".join(ctes) + ",\n" + body
    return _O_PRELUDE + ",\n" + ",\n".join(ctes) + "\n" + body


# Align every oracle/shared-template ROUND with Spark semantics (see
# _mimic_spark_round).  Oracle fragments run on DuckDB only; the _DASH_*
# templates run on BOTH engines — the rewritten form is portable.
_O_DEMOGRAPHICS = _mimic_spark_round(_O_DEMOGRAPHICS)
_O_RISK_ANALYSIS = _mimic_spark_round(_O_RISK_ANALYSIS)
_O_EXECUTIVE = _mimic_spark_round(_O_EXECUTIVE)
_O_DQ_METRICS = _mimic_spark_round(_O_DQ_METRICS)
_O_REFRESH_LOG = _mimic_spark_round(_O_REFRESH_LOG)
_O_PIPELINE_HEALTH = _mimic_spark_round(_O_PIPELINE_HEALTH)
_O_FEATURE_CORRELATION = _mimic_spark_round(_O_FEATURE_CORRELATION)
_O_VALIDATION = _mimic_spark_round(_O_VALIDATION)
_DASH_AGE = _mimic_spark_round(_DASH_AGE)
_DASH_BMI = _mimic_spark_round(_DASH_BMI)
_DASH_MATRIX = _mimic_spark_round(_DASH_MATRIX)
_DASH_TOTALS = _mimic_spark_round(_DASH_TOTALS)
_DASH_DIST = _mimic_spark_round(_DASH_DIST)


# ---------------------------------------------------------------------------
# Registrations: the full SURVEY §2.11 named inventory
# ---------------------------------------------------------------------------

_SILVER_COLS = (
    "patient_id", "Pregnancies", "Age", "Outcome",
    "Glucose", "BloodPressure", "SkinThickness", "Insulin", "BMI",
    "DiabetesPedigreeFunction",
    "glucose_imputed", "bp_imputed", "skin_imputed", "insulin_imputed",
    "bmi_imputed",
    "age_group", "bmi_category", "glucose_level", "bp_category",
    "pregnancy_risk", "risk_score", "risk_level", "data_quality_score",
)


@register(
    "diab_bronze_ingest",
    oracle=_O_PRELUDE + f"""
SELECT patient_id, Pregnancies, Glucose, BloodPressure, SkinThickness,
  Insulin, BMI, DiabetesPedigreeFunction, Age, Outcome, file_name,
  source_file, strftime(ingestion_timestamp, '{_TS_FMT_DUCK}')
    AS ingestion_ts, ingestion_date
FROM bronze""",
    doc="Bronze ingest contract: declared 9-column schema + audit columns "
    "(reference: pipeline:26-36,62-74); synthetic deterministic input.",
    tags=("diabetes", "medallion", "scan"),
)
def diab_bronze_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synthetic_bronze(spark, sf_dir).select(
        "patient_id", "Pregnancies", "Glucose", "BloodPressure",
        "SkinThickness", "Insulin", "BMI", "DiabetesPedigreeFunction",
        "Age", "Outcome", "file_name", "source_file",
        F.date_format("ingestion_timestamp", _TS_FMT).alias("ingestion_ts"),
        "ingestion_date",
    )


@register(
    "diab_silver_features",
    oracle=_O_PRELUDE + "\nSELECT " + ", ".join(_SILVER_COLS) + " FROM silver",
    doc="Silver layer row-level check: one-pass nonzero-median imputation "
    "(flag-first, SURVEY §4 quirk 1), 5-way bucketing, weighted risk "
    "score, data-quality score (reference: pipeline:101-259) — risk_score "
    "compared bit-exactly per row.",
    tags=("diabetes", "medallion", "case", "impute"),
)
def diab_silver_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_silver(spark, sf_dir).select(*_SILVER_COLS)


def _gold_query(builder, from_bronze: bool = False):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        if from_bronze:
            return builder(synthetic_bronze(spark, sf_dir))
        return builder(build_silver(spark, sf_dir))

    return fn


register(
    "diab_gold_demographics",
    oracle=_O_PRELUDE + "\n" + _O_DEMOGRAPHICS,
    doc="Gold demographics summary: 3-key groupBy, 10 aggregates, "
    "derived rate (reference: pipeline:268-301).",
    tags=("diabetes", "medallion", "agg", "headline"),
)(_gold_query(gold_demographics))

register(
    "diab_gold_risk_analysis",
    oracle=_O_PRELUDE + "\n" + _O_RISK_ANALYSIS,
    doc="Gold risk analysis: stddev from exact decimal sums, "
    "countDistinct, concat/format_number range label "
    "(reference: pipeline:303-342).",
    tags=("diabetes", "medallion", "agg", "stats"),
)(_gold_query(gold_risk_analysis))

register(
    "diab_gold_executive",
    oracle=_O_PRELUDE + "\n" + _O_EXECUTIVE,
    doc="Gold executive summary: global KPI row, conditional sums, "
    "percentages (reference: pipeline:344-389).",
    tags=("diabetes", "medallion", "agg", "global"),
)(_gold_query(gold_executive))

register(
    "diab_gold_dq_metrics",
    oracle=_O_PRELUDE + "\n" + _O_DQ_METRICS,
    doc="Gold data-quality metrics per source file: imputation counts "
    "(meaningful under flag-first semantics) + rate "
    "(reference: pipeline:453-489).",
    tags=("diabetes", "medallion", "agg", "quality"),
)(_gold_query(gold_dq_metrics))

register(
    "diab_gold_refresh_log",
    oracle=_O_PRELUDE + "\n" + _O_REFRESH_LOG,
    doc="Gold refresh log: run audit row, countDistinct files, "
    "priority CASE (reference: pipeline:498-534).",
    tags=("diabetes", "medallion", "agg", "audit"),
)(_gold_query(gold_refresh_log))

register(
    "diab_gold_pipeline_health",
    oracle=_O_PRELUDE + "\n" + _O_PIPELINE_HEALTH,
    doc="Gold pipeline health: per (hour, file) throughput from ingest "
    "timestamps, records/minute, status CASE "
    "(reference: pipeline:543-580).",
    tags=("diabetes", "medallion", "agg", "time"),
)(_gold_query(gold_pipeline_health, from_bronze=True))

register(
    "diab_gold_feature_correlation",
    oracle=_O_PRELUDE + "\n" + _O_FEATURE_CORRELATION,
    doc="Gold feature correlation: Pearson r for 4 measure pairs per "
    "(age group, BMI category) from exact sums "
    "(reference: pipeline:589-622).",
    tags=("diabetes", "medallion", "agg", "stats"),
)(_gold_query(gold_feature_correlation))

register(
    "diab_gold_validation",
    oracle=_O_PRELUDE + "\n" + _O_VALIDATION,
    doc="Gold validation summary: validity rates over the five quality "
    "rules, single row (reference: pipeline:631-672).",
    tags=("diabetes", "medallion", "agg", "quality"),
)(_gold_query(gold_validation))


# -- the 3 dashboard views (reference: pipeline:398-444) --------------------

# name -> (gold key, view columns, gold builder, extended, doc)
_VIEW_SPECS = {
    "diab_view_demographics": (
        "demo",
        ("age_group", "bmi_category", "pregnancy_risk", "patient_count",
         "diabetes_rate", "avg_risk_score", "avg_age", "avg_bmi",
         "avg_glucose", "created_at"),
        gold_demographics,
        True,
        "v_demographics_dashboard: column-pruned projection "
        "(reference: pipeline:398-412).",
    ),
    "diab_view_risk_analysis": (
        "risk",
        ("risk_level", "glucose_level", "bp_category", "patient_count",
         "diabetes_rate", "avg_risk_score", "avg_pedigree_function",
         "avg_insulin", "created_at"),
        gold_risk_analysis,
        True,
        "v_risk_analysis_dashboard: column-pruned projection "
        "(reference: pipeline:414-428).",
    ),
    "diab_view_executive": (
        "ex",
        ("total_patients", "diabetes_cases", "diabetes_percentage",
         "high_risk_patients", "high_risk_percentage", "avg_age",
         "avg_risk_score", "data_quality_score", "summary_date",
         "created_at"),
        gold_executive,
        True,
        "v_executive_summary_dashboard: column-pruned projection "
        "(reference: pipeline:430-444).",
    ),
}

for _name, (_key, _cols, _builder, _ext, _doc) in _VIEW_SPECS.items():
    _cte_name, _cte_sql = _GOLD_CTES[_key][0], _GOLD_CTES[_key][1]()

    def _view_fn(spark, sf_dir, _b=_builder, _c=_cols):
        return _b(build_silver(spark, sf_dir)).select(*_c)

    register(
        _name,
        oracle=(
            _O_PRELUDE + f",\n{_cte_name} AS (\n{_cte_sql}\n)\n"
            + "SELECT " + ", ".join(_cols) + f" FROM {_cte_name}"
        ),
        doc=_doc,
        tags=("diabetes", "medallion", "view"),
        extended=_ext,
    )(_view_fn)


# -- the 6 dashboard SQL datasets (reference: dashboard JSON D:6-135) -------

# name -> (SQL template, gold keys, extended, extra tags, doc)
_DASH_SPECS = {
    "diab_dash_kpi_union": (
        _DASH_KPI, ("ex",), False, (),
        "Dashboard KPI cards: 8-way UNION ALL pivot of the executive row "
        "to long format (reference: D:6-21).",
    ),
    "diab_dash_age_group": (
        _DASH_AGE, ("demo",), True, (),
        "Dashboard diabetes-rate-by-age-group with CASE custom ordering "
        "(reference: D:31-44).",
    ),
    "diab_dash_bmi_dist": (
        _DASH_BMI, ("demo",), False, (),
        "Dashboard BMI distribution with uncorrelated scalar subquery for "
        "population share (reference: D:53-68).",
    ),
    "diab_dash_risk_matrix": (
        _DASH_MATRIX, ("risk",), True, (),
        "Dashboard risk matrix: re-aggregation with HAVING and two CASE "
        "orderings (reference: D:74-85).",
    ),
    "diab_dash_totals": (
        _DASH_TOTALS, ("risk",), True, (),
        "Dashboard global totals over the risk analysis table "
        "(reference: D:94-100).",
    ),
    "diab_dash_risk_distribution": (
        _DASH_DIST, ("demo",), False, ("headline",),
        "Dashboard risk distribution: CTE + CASE-in-GROUP-BY + "
        "SUM() OVER () population share (reference: D:105-135).",
    ),
}

for _name, (_tpl, _needs, _ext, _tags, _doc) in _DASH_SPECS.items():
    register(
        _name,
        oracle=_dash_oracle(_tpl, _needs),
        doc=_doc,
        tags=("diabetes", "dashboard", "sql", *_tags),
        extended=_ext,
    )(_dash_fn(_tpl, _needs))


# -- widget-level post-processing (reference: dashboard JSON widgets) -------
#
# The dashboard's widget layer applies client-side transforms on top of
# the dataset SQL: a pivot widget (rows risk_level x glucose_level,
# columns bp_category, cell avg_diabetes_rate — D:742-830) and
# categorical custom-order encodings (pinned orderedValues lists,
# D:418-434).  Both re-expressed server-side.

_BP_ORDER = ["Normal", "High Normal", "Mild Hypertension", "Hypertension"]
_AGE_ORDER = [
    "Young (< 30)", "Adult (30-39)", "Middle Age (40-49)",
    "Mature (50-59)", "Senior (60+)",
]
_BP_COLS = {
    "Normal": "bp_normal",
    "High Normal": "bp_high_normal",
    "Mild Hypertension": "bp_mild_hypertension",
    "Hypertension": "bp_hypertension",
}


@register(
    "diab_widget_risk_pivot",
    oracle=(
        "SELECT risk_level, glucose_level, "
        + ", ".join(
            f"MAX(CASE WHEN bp_category = '{v}' THEN avg_diabetes_rate "
            f"END) AS {c}"
            for v, c in _BP_COLS.items()
        )
        + f" FROM ({_dash_oracle(_DASH_MATRIX, ('risk',))}) m"
        " GROUP BY risk_level, glucose_level"
    ),
    doc="Pivot widget over the risk matrix: rows (risk_level, "
    "glucose_level), pinned bp_category columns, avg_diabetes_rate "
    "cells (reference: D:742-830).  Server-side pivot with pinned "
    "values — no distinct-value scan, one shuffle on the row keys.",
    tags=("diabetes", "dashboard", "widget", "pivot"),
    extended=True,
)
def diab_widget_risk_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _dash_fn(_DASH_MATRIX, ("risk",))(spark, sf_dir)
    piv = (
        m.groupBy("risk_level", "glucose_level")
        .pivot("bp_category", _BP_ORDER)
        .agg(F.max("avg_diabetes_rate"))
    )
    for v, c in _BP_COLS.items():
        piv = piv.withColumnRenamed(v, c)
    return piv


@register(
    "diab_widget_age_order",
    oracle=(
        "SELECT age_group, total_patients, diabetes_rate, "
        "CAST(list_position("
        + "[" + ", ".join(f"'{v}'" for v in _AGE_ORDER) + "]"
        ", age_group) AS INT) AS sort_key"
        f" FROM ({_dash_oracle(_DASH_AGE, ('demo',))}) a"
        " ORDER BY sort_key"
    ),
    doc="Categorical custom-order widget encoding: the pinned "
    "orderedValues list (reference: D:418-434) materialized as a "
    "sort key via array_position — the widget's field projection plus "
    "its encoding sort, server-side.",
    tags=("diabetes", "dashboard", "widget", "sort"),
    extended=True,
)
def diab_widget_age_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _dash_fn(_DASH_AGE, ("demo",))(spark, sf_dir)
    order_arr = F.array(*[F.lit(v) for v in _AGE_ORDER])
    return a.select(
        "age_group",
        "total_patients",
        "diabetes_rate",
        F.array_position(order_arr, F.col("age_group"))
        .cast("int")
        .alias("sort_key"),
    ).orderBy("sort_key")
