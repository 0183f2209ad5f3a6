"""The diabetes medallion surface as oracle-paired queries — every named
relation from SURVEY.md §2.11 (bronze, silver, the 8 gold tables, the 3
dashboard views and the 6 dashboard SQL datasets; reference:
src/diabetes_etl_pipeline.py and reports/Diabetes-Dashboard.lvdash.json).

The queries run the production code: silver is `features.silver`, each
gold is its builder in diabetes/pipeline_def.py, each view selects
`pipeline_def.DASHBOARD_VIEWS` columns, and each dashboard dataset is
its `dashboard.DASHBOARD_SQL` string — the same functions and SQL that
`build_diabetes_pipeline` and `run_dashboard_queries` run, here with a
fixed RunContext (`CTX`).  This module builds no gold itself.

The driver's fixture set has no diabetes table, so the bronze input is
SYNTHESIZED deterministically from the `orders` fixture with pure
modular arithmetic — identical expressions on the Spark and DuckDB
sides, so both engines derive bit-identical patient rows, and the whole
medallion chain (median imputation -> feature engineering -> gold
aggregation -> dashboard SQL) is checked end-to-end against the DuckDB
fragments below (`_O_PRELUDE`, `_O_*`), the reference implementation.
tests/test_diabetes_pipeline.py runs the same fragments over the
pipeline's own silver and bronze.

The synthetic measures are exactly binary-representable (ints, halves
for imputed medians, 1/16ths for BMI, 1/1024ths for the pedigree
function), so the decimal folds of the builders (pipeline_def.py
docstring) reproduce plain averages bit-for-bit, and the injectable
clock (context.py) pins every audit column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.context import RunContext
from diabetes_etl_spark.diabetes import features as FE
from diabetes_etl_spark.diabetes import pipeline_def as PD
from diabetes_etl_spark.diabetes.dashboard import DASHBOARD_SQL, PIPELINE_TABLES
from diabetes_etl_spark.functions.numeric import (
    sql_dec_avg,
    sql_dec_sum,
    sql_spark_round,
)
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
    """Synthetic bronze through the pipeline's silver (features.silver)."""
    return FE.silver(synthetic_bronze(spark, sf_dir), CTX)


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
    TIMESTAMP '{_RUN_TS}' AS transformation_timestamp,
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


# ---------------------------------------------------------------------------
# DuckDB oracle fragments for the 8 gold builders of diabetes/pipeline_def.py
# (each reads the `silver` or `bronze` CTE of the prelude)
# ---------------------------------------------------------------------------


def _o_avg(col: str, places: int) -> str:
    """The builders' exact measure average (pipeline_def.DEC_MEASURE)."""
    return f"ROUND({sql_dec_avg(col, **PD.DEC_MEASURE)}, {places})"


_O_RS_SUM = sql_dec_sum("risk_score", **PD.DEC_RS)

_O_DEMOGRAPHICS = f"""SELECT
  age_group, bmi_category, pregnancy_risk, patient_count, diabetes_cases,
  avg_age, avg_bmi, avg_glucose, avg_blood_pressure, avg_data_quality,
  min_age, max_age,
  ROUND(_sx / _n, 3) AS avg_risk_score,
  ROUND(CAST(diabetes_cases AS DOUBLE) / CAST(patient_count AS DOUBLE)
        * 100.0, 2) AS diabetes_rate,
  TIMESTAMP '{_RUN_TS}' AS created_at
FROM (
  SELECT age_group, bmi_category, pregnancy_risk,
    COUNT(*) AS patient_count,
    CAST(SUM(Outcome) AS BIGINT) AS diabetes_cases,
    {_o_avg("Age", 2)} AS avg_age,
    {_o_avg("BMI", 2)} AS avg_bmi,
    {_o_avg("Glucose", 2)} AS avg_glucose,
    {_o_avg("BloodPressure", 2)} AS avg_blood_pressure,
    {_O_RS_SUM} AS _sx,
    COUNT(risk_score) AS _n,
    {_o_avg("data_quality_score", 2)} AS avg_data_quality,
    MIN(Age) AS min_age,
    MAX(Age) AS max_age
  FROM silver
  GROUP BY age_group, bmi_category, pregnancy_risk
) g"""


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
  TIMESTAMP '{_RUN_TS}' AS created_at
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
      {_O_RS_SUM} AS _sx,
      {sql_dec_sum("risk_score * risk_score", **PD.DEC_RS2)} AS _sxx,
      COUNT(risk_score) AS _n,
      {_o_avg("DiabetesPedigreeFunction", 3)} AS avg_pedigree_function,
      {_o_avg("Insulin", 2)} AS avg_insulin,
      {_o_avg("SkinThickness", 2)} AS avg_skin_thickness,
      COUNT(DISTINCT age_group) AS age_groups_represented,
      {_o_avg("data_quality_score", 2)} AS avg_data_quality
    FROM silver
    GROUP BY risk_level, glucose_level, bp_category
  ) raw
) g (risk_level, glucose_level, bp_category, patient_count, diabetes_cases,
     _sx, _sxx, _n, avg_pedigree_function, avg_insulin, avg_skin_thickness,
     age_groups_represented, avg_data_quality, avg_risk_score,
     stddev_risk_score)"""


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
  TIMESTAMP '{_RUN_TS}' AS created_at
FROM (
  SELECT COUNT(*) AS _total,
    CAST(SUM(CASE WHEN Outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS _cases,
    CAST(SUM(CASE WHEN risk_level = 'High' THEN 1 ELSE 0 END) AS BIGINT)
      AS _high,
    {_o_avg("Age", 1)} AS avg_age,
    {_O_RS_SUM} AS _sx,
    COUNT(risk_score) AS _n,
    {_o_avg("data_quality_score", 1)} AS data_quality_score
  FROM silver
) m"""


_O_DQ_METRICS = f"""SELECT g.*,
  ROUND(CAST(total_imputed_fields AS DOUBLE)
        / (CAST(total_records AS DOUBLE) * 5.0) * 100.0, 2)
    AS imputation_rate,
  TIMESTAMP '{_RUN_TS}' AS created_at
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
      {_o_avg("data_quality_score", 2)} AS avg_data_quality_score,
      MIN(data_quality_score) AS min_data_quality_score,
      MAX(data_quality_score) AS max_data_quality_score
    FROM silver
    GROUP BY source_file
  ) raw
) g"""


_O_REFRESH_LOG = f"""SELECT s.*,
  '{_RUN_ID}' AS pipeline_run_id,
  TIMESTAMP '{_RUN_TS}' AS pipeline_completion_time,
  'COMPLETED' AS status,
  TIMESTAMP '{_RUN_TS}' AS next_dashboard_refresh_due,
  CASE WHEN overall_data_quality < 80 THEN 'HIGH'
       WHEN total_records_processed > 1000 THEN 'HIGH'
       ELSE 'NORMAL' END AS refresh_priority
FROM (
  SELECT COUNT(*) AS total_records_processed,
    COUNT(DISTINCT source_file) AS files_processed,
    MAX(ingestion_timestamp) AS latest_ingestion,
    MAX(transformation_timestamp) AS latest_transformation,
    {_o_avg("data_quality_score", 2)} AS overall_data_quality
  FROM silver
) s"""


_O_PIPELINE_HEALTH = f"""SELECT
  processing_hour, file_name, records_processed, unique_files,
  first_record_time, last_record_time, processing_duration_minutes,
  CASE WHEN processing_duration_minutes > 0 THEN
    ROUND(CAST(records_processed AS DOUBLE) / processing_duration_minutes, 2)
  ELSE CAST(records_processed AS DOUBLE) END AS records_per_minute,
  CASE WHEN records_processed = 0 THEN 'ERROR'
       WHEN (CASE WHEN processing_duration_minutes > 0 THEN
               ROUND(CAST(records_processed AS DOUBLE)
                     / processing_duration_minutes, 2)
             ELSE CAST(records_processed AS DOUBLE) END) < 10 THEN 'SLOW'
       ELSE 'HEALTHY' END AS health_status,
  TIMESTAMP '{_RUN_TS}' AS created_at
FROM (
  SELECT *,
    (epoch(last_record_time) - epoch(first_record_time)) / 60.0
      AS processing_duration_minutes
  FROM (
    SELECT strftime(ingestion_timestamp, '%Y-%m-%d %H') AS processing_hour,
      file_name,
      COUNT(*) AS records_processed,
      COUNT(DISTINCT source_file) AS unique_files,
      MIN(ingestion_timestamp) AS first_record_time,
      MAX(ingestion_timestamp) AS last_record_time
    FROM bronze
    GROUP BY strftime(ingestion_timestamp, '%Y-%m-%d %H'), file_name
  ) raw
) g"""


_CORR_COLS = sorted({c for x, y, _ in PD.CORR_PAIRS for c in (x, y)})


def _o_corr(x: str, y: str) -> str:
    n = "CAST(sample_size AS DOUBLE)"
    return (
        f"CASE WHEN _varies_{x} AND _varies_{y} THEN"
        f" ROUND(({n} * _sp_{x}_{y} - _s_{x} * _s_{y})"
        f" / (sqrt({n} * _ss_{x} - _s_{x} * _s_{x})"
        f" * sqrt({n} * _ss_{y} - _s_{y} * _s_{y})), 6) END"
    )


_O_CORR_SUMS = ",\n    ".join(
    [
        f"SUM(CAST({c} AS DOUBLE)) AS _s_{c},\n"
        f"    SUM(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)) AS _ss_{c},\n"
        f"    MIN({c}) < MAX({c}) AS _varies_{c}"
        for c in _CORR_COLS
    ]
    + [
        f"SUM(CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE)) AS _sp_{x}_{y}"
        for x, y, _ in PD.CORR_PAIRS
    ]
)

_O_CORR_COLUMNS = ",\n    ".join(
    f"{_o_corr(x, y)} AS {name}" for x, y, name in PD.CORR_PAIRS
)

_O_FEATURE_CORRELATION = f"""SELECT
  age_group, bmi_category, sample_size, diabetes_prevalence,
  glucose_bmi_corr, age_pregnancies_corr, bp_bmi_corr, insulin_glucose_corr,
  CASE WHEN abs(glucose_bmi_corr) > 0.7 THEN 'Strong'
       WHEN abs(glucose_bmi_corr) > 0.4 THEN 'Moderate'
       ELSE 'Weak' END AS correlation_strength,
  TIMESTAMP '{_RUN_TS}' AS created_at
FROM (
  SELECT age_group, bmi_category, sample_size, diabetes_prevalence,
    {_O_CORR_COLUMNS}
  FROM (
    SELECT age_group, bmi_category,
      COUNT(*) AS sample_size,
      {_o_avg("Outcome", 3)} AS diabetes_prevalence,
      {_O_CORR_SUMS}
    FROM silver
    GROUP BY age_group, bmi_category
  ) raw
) g"""


_O_VALIDATION = f"""SELECT r.*,
  ROUND((age_validity_rate + outcome_validity_rate
         + pregnancies_validity_rate + glucose_validity_rate
         + bmi_validity_rate) / 5.0, 2) AS overall_data_quality,
  TIMESTAMP '{_RUN_TS}' AS validation_timestamp,
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


# pipeline gold table -> (builder, oracle fragment, reads bronze).  Every
# ROUND of a fragment is aligned with Spark semantics
# (functions/numeric.py:sql_spark_round).
GOLD_ORACLES = {
    name: (builder, sql_spark_round(sql), from_bronze)
    for name, builder, sql, from_bronze in [
        ("diabetes_demographics_summary", PD.demographics_summary,
         _O_DEMOGRAPHICS, False),
        ("diabetes_risk_analysis", PD.risk_analysis, _O_RISK_ANALYSIS, False),
        ("diabetes_executive_summary", PD.executive_summary, _O_EXECUTIVE,
         False),
        ("diabetes_data_quality_metrics", PD.data_quality_metrics,
         _O_DQ_METRICS, False),
        ("dashboard_refresh_log", PD.dashboard_refresh_log, _O_REFRESH_LOG,
         False),
        ("pipeline_health_metrics", PD.pipeline_health_metrics,
         _O_PIPELINE_HEALTH, True),
        ("diabetes_feature_correlation", PD.feature_correlation,
         _O_FEATURE_CORRELATION, False),
        ("data_validation_summary", PD.data_validation_summary,
         _O_VALIDATION, False),
    ]
}


def _needs(sql: str) -> tuple[str, ...]:
    """The dashboard placeholders a DASHBOARD_SQL string reads."""
    return tuple(k for k in PIPELINE_TABLES if "{" + k + "}" in sql)


def _dash_fn(sql: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        silver = build_silver(spark, sf_dir)
        mapping = {}
        for key in _needs(sql):
            gold = PIPELINE_TABLES[key]
            mapping[key] = f"diab_gate_{gold}"
            builder = GOLD_ORACLES[gold][0]
            builder(silver, CTX).createOrReplaceTempView(mapping[key])
        return spark.sql(sql.format(**mapping))

    return fn


def _dash_oracle(sql: str) -> str:
    ctes = [
        f"{PIPELINE_TABLES[k]} AS (\n{GOLD_ORACLES[PIPELINE_TABLES[k]][1]}\n)"
        for k in _needs(sql)
    ]
    body = sql.format(**PIPELINE_TABLES)
    if body.startswith("WITH "):
        body = body[len("WITH "):]
        return _O_PRELUDE + ",\n" + ",\n".join(ctes) + ",\n" + body
    return _O_PRELUDE + ",\n" + ",\n".join(ctes) + "\n" + body


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


def _gold_query(gold: str):
    builder, _, from_bronze = GOLD_ORACLES[gold]

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        if from_bronze:
            return builder(synthetic_bronze(spark, sf_dir), CTX)
        return builder(build_silver(spark, sf_dir), CTX)

    return fn


# name -> (pipeline gold table, extra tags, doc)
_GOLD_SPECS = {
    "diab_gold_demographics": (
        "diabetes_demographics_summary", ("headline",),
        "Gold demographics summary: 3-key groupBy, 10 aggregates, "
        "derived rate (reference: pipeline:268-301).",
    ),
    "diab_gold_risk_analysis": (
        "diabetes_risk_analysis", ("stats",),
        "Gold risk analysis: stddev from exact decimal sums, "
        "countDistinct, concat/format_number range label "
        "(reference: pipeline:303-342).",
    ),
    "diab_gold_executive": (
        "diabetes_executive_summary", ("global",),
        "Gold executive summary: global KPI row, conditional sums, "
        "percentages (reference: pipeline:344-389).",
    ),
    "diab_gold_dq_metrics": (
        "diabetes_data_quality_metrics", ("quality",),
        "Gold data-quality metrics per source file: imputation counts "
        "(meaningful under flag-first semantics) + rate "
        "(reference: pipeline:453-489).",
    ),
    "diab_gold_refresh_log": (
        "dashboard_refresh_log", ("audit",),
        "Gold refresh log: run audit row, countDistinct files, "
        "priority CASE (reference: pipeline:498-534).",
    ),
    "diab_gold_pipeline_health": (
        "pipeline_health_metrics", ("time",),
        "Gold pipeline health: per (hour, file) throughput from ingest "
        "timestamps, records/minute, status CASE "
        "(reference: pipeline:543-580).",
    ),
    "diab_gold_feature_correlation": (
        "diabetes_feature_correlation", ("stats",),
        "Gold feature correlation: Pearson r for 4 measure pairs per "
        "(age group, BMI category) from exact sums "
        "(reference: pipeline:589-622).",
    ),
    "diab_gold_validation": (
        "data_validation_summary", ("quality",),
        "Gold validation summary: validity rates over the five quality "
        "rules, single row (reference: pipeline:631-672).",
    ),
}

for _name, (_gold, _tags, _doc) in _GOLD_SPECS.items():
    register(
        _name,
        oracle=_O_PRELUDE + "\n" + GOLD_ORACLES[_gold][1],
        doc=_doc,
        tags=("diabetes", "medallion", "agg", *_tags),
    )(_gold_query(_gold))


# -- the 3 dashboard views (reference: pipeline:398-444) --------------------

# name -> (pipeline view, doc)
_VIEW_SPECS = {
    "diab_view_demographics": (
        "v_demographics_dashboard",
        "v_demographics_dashboard: column-pruned projection "
        "(reference: pipeline:398-412).",
    ),
    "diab_view_risk_analysis": (
        "v_risk_analysis_dashboard",
        "v_risk_analysis_dashboard: column-pruned projection "
        "(reference: pipeline:414-428).",
    ),
    "diab_view_executive": (
        "v_executive_summary_dashboard",
        "v_executive_summary_dashboard: column-pruned projection "
        "(reference: pipeline:430-444).",
    ),
}

for _name, (_view, _doc) in _VIEW_SPECS.items():
    _gold, _cols = PD.DASHBOARD_VIEWS[_view]

    def _view_fn(spark, sf_dir, _g=_gold_query(_gold), _c=_cols):
        return _g(spark, sf_dir).select(*_c)

    register(
        _name,
        oracle=(
            _O_PRELUDE + f",\n{_gold} AS (\n{GOLD_ORACLES[_gold][1]}\n)\n"
            + "SELECT " + ", ".join(_cols) + f" FROM {_gold}"
        ),
        doc=_doc,
        tags=("diabetes", "medallion", "view"),
        extended=True,
    )(_view_fn)


# -- the 6 dashboard SQL datasets (reference: dashboard JSON D:6-135) -------

# name -> (dashboard dataset, extended, extra tags, doc)
_DASH_SPECS = {
    "diab_dash_kpi_union": (
        "kpi_cards", False, (),
        "Dashboard KPI cards: 8-way UNION ALL pivot of the executive row "
        "to long format (reference: D:6-21).",
    ),
    "diab_dash_age_group": (
        "age_group_rates", True, (),
        "Dashboard diabetes-rate-by-age-group with CASE custom ordering "
        "(reference: D:31-44).",
    ),
    "diab_dash_bmi_dist": (
        "bmi_distribution", False, (),
        "Dashboard BMI distribution with uncorrelated scalar subquery for "
        "population share (reference: D:53-68).",
    ),
    "diab_dash_risk_matrix": (
        "risk_matrix", True, (),
        "Dashboard risk matrix: re-aggregation with HAVING and two CASE "
        "orderings (reference: D:74-85).",
    ),
    "diab_dash_totals": (
        "risk_totals", True, (),
        "Dashboard global totals over the risk analysis table "
        "(reference: D:94-100).",
    ),
    "diab_dash_risk_distribution": (
        "risk_distribution", False, ("headline",),
        "Dashboard risk distribution: CTE + CASE-in-GROUP-BY + "
        "SUM() OVER () population share (reference: D:105-135).",
    ),
}

for _name, (_ds, _ext, _tags, _doc) in _DASH_SPECS.items():
    register(
        _name,
        oracle=_dash_oracle(DASHBOARD_SQL[_ds]),
        doc=_doc,
        tags=("diabetes", "dashboard", "sql", *_tags),
        extended=_ext,
    )(_dash_fn(DASHBOARD_SQL[_ds]))


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
        + f" FROM ({_dash_oracle(DASHBOARD_SQL['risk_matrix'])}) m"
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
    m = _dash_fn(DASHBOARD_SQL["risk_matrix"])(spark, sf_dir)
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
        f" FROM ({_dash_oracle(DASHBOARD_SQL['age_group_rates'])}) a"
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
    a = _dash_fn(DASHBOARD_SQL["age_group_rates"])(spark, sf_dir)
    order_arr = F.array(*[F.lit(v) for v in _AGE_ORDER])
    return a.select(
        "age_group",
        "total_patients",
        "diabetes_rate",
        F.array_position(order_arr, F.col("age_group"))
        .cast("int")
        .alias("sort_key"),
    ).orderBy("sort_key")
