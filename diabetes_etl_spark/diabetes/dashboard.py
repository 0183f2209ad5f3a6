"""The 6 dashboard datasets (reference:
reports/Diabetes-Dashboard.lvdash.json, datasets 1-6), rewritten from
the dashboard's Unity-Catalog 3-part names to ``{demo}``/``{risk}``/
``{ex}`` placeholders for the demographics, risk-analysis and
executive-summary golds.

``DASHBOARD_SQL`` is the only copy.  It runs on Spark and on DuckDB
alike: an AVG of rounded doubles is an exact DECIMAL fold, so it does
not depend on summation order; sums and ratios are cast to BIGINT and
DOUBLE; and every ROUND is rewritten to Spark's rounding
(functions/numeric.py:sql_spark_round).  The placeholders are filled
with the pipeline's table names by ``run_dashboard_queries``, with
gate views by the ``diab_dash_*`` queries, and with CTE names by their
DuckDB oracles (plans/diabetesplans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from diabetes_etl_spark.functions.numeric import sql_spark_round

PIPELINE_TABLES = {
    "demo": "diabetes_demographics_summary",
    "risk": "diabetes_risk_analysis",
    "ex": "diabetes_executive_summary",
}

_DEC_AVG1 = (
    "ROUND(CAST(SUM(CAST(diabetes_rate AS DECIMAL(18,6))) AS DOUBLE)"
    " / COUNT(*), 1)"
)
_DEC_AVG3 = (
    "ROUND(CAST(SUM(CAST(avg_risk_score AS DECIMAL(18,6))) AS DOUBLE)"
    " / COUNT(*), 3)"
)

_RISK_RANGE_CASE = """CASE
      WHEN avg_risk_score < 0.3 THEN '0.0-0.3 (Very Low)'
      WHEN avg_risk_score < 0.4 THEN '0.3-0.4 (Low)'
      WHEN avg_risk_score < 0.5 THEN '0.4-0.5 (Moderate)'
      WHEN avg_risk_score < 0.6 THEN '0.5-0.6 (High)'
      ELSE '0.6+ (Very High)' END"""

_SQL = {
    # D:6-21 — executive KPI cards (8-way UNION ALL long format)
    "kpi_cards": """SELECT 'Total Patients' AS metric_name,
  total_patients AS metric_value FROM {ex}
UNION ALL SELECT 'Diabetes Cases', diabetes_cases FROM {ex}
UNION ALL SELECT 'Diabetes Percentage', diabetes_percentage FROM {ex}
UNION ALL SELECT 'High Risk Patients', high_risk_patients FROM {ex}
UNION ALL SELECT 'High Risk Percentage', high_risk_percentage FROM {ex}
UNION ALL SELECT 'Average Age', avg_age FROM {ex}
UNION ALL SELECT 'Average Risk Score', avg_risk_score FROM {ex}
UNION ALL SELECT 'Data Quality Score', data_quality_score FROM {ex}""",
    # D:31-44 — diabetes rate by age group with CASE ordering
    "age_group_rates": f"""SELECT age_group,
  CAST(SUM(patient_count) AS BIGINT) AS total_patients,
  CAST(SUM(diabetes_cases) AS BIGINT) AS diabetes_cases,
  {_DEC_AVG1} AS diabetes_rate,
  {_DEC_AVG3} AS avg_risk_score
FROM {{demo}}
GROUP BY age_group
ORDER BY CASE age_group
  WHEN 'Young (< 30)' THEN 1 WHEN 'Adult (30-39)' THEN 2
  WHEN 'Middle Age (40-49)' THEN 3 WHEN 'Mature (50-59)' THEN 4
  WHEN 'Senior (60+)' THEN 5 END""",
    # D:53-68 — BMI distribution with scalar-subquery population share
    "bmi_distribution": """SELECT bmi_category,
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
  WHEN 'Overweight' THEN 3 WHEN 'Obese' THEN 4 END""",
    # D:74-85 — risk matrix with HAVING and two CASE orderings
    "risk_matrix": f"""SELECT risk_level, glucose_level, bp_category,
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
       WHEN 'Diabetic Range' THEN 3 END""",
    # D:94-100 — global totals over the risk analysis table
    "risk_totals": f"""SELECT
  CAST(SUM(patient_count) AS BIGINT) AS total_patients,
  CAST(SUM(diabetes_cases) AS BIGINT) AS diabetes_cases,
  {_DEC_AVG1} AS diabetes_rate,
  {_DEC_AVG3} AS risk_score
FROM {{risk}}""",
    # D:105-135 — CTE + CASE-in-GROUP-BY + SUM() OVER () population share
    "risk_distribution": f"""WITH risk_distribution AS (
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
ORDER BY risk_range""",
}

DASHBOARD_SQL: dict[str, str] = {
    name: sql_spark_round(sql) for name, sql in _SQL.items()
}


def run_dashboard_queries(spark: SparkSession) -> dict[str, DataFrame]:
    """The 6 datasets over the pipeline's gold tables (registered as
    views or catalog tables under their pipeline names)."""
    return {
        name: spark.sql(sql.format(**PIPELINE_TABLES))
        for name, sql in DASHBOARD_SQL.items()
    }
