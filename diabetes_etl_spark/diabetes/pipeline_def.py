"""The diabetes medallion pipeline rebuilt on the engine layer —
behavioral parity with all 14 reference datasets (SURVEY.md §1.4;
reference: src/diabetes_etl_pipeline.py throughout, cited per table).

The 8 gold tables are module-level builders, each
``(silver_or_bronze, ctx) -> DataFrame``.  The pipeline's tables call
them, and so do the oracle-paired ``diab_*`` queries
(plans/diabetesplans.py), which run them over a synthetic bronze and
compare the result with DuckDB: the code the gate checks is the code
the pipeline runs.  The dashboard views select ``DASHBOARD_VIEWS``
columns from the golds; the dashboard SQL is in dashboard.py.

Differences from the literal reference, by design (SURVEY §4):
- flag-first imputation (features.py docstring) — so
  `data_quality_score`, `*_imputed_count` and `imputation_rate` are
  meaningful rather than constant;
- imputed measures are DOUBLE deterministically;
- medians computed in-plan (no driver collect round-trips);
- clock/run-id injectable via RunContext for reproducible outputs.

Exact forms, so a gold is bit-identical however its rows are
partitioned (functions/numeric.py):
- every rounded average is an exact decimal fold (`dec_avg`) rather
  than `avg`.  The measure fold is at scale 10, which holds the real
  data (1-3 decimals, medians of them) and the synthetic gate data
  (1/16ths, medians in 1/32nds, the pedigree function in 1/1024ths)
  exactly, so it changes no gate value;
- `avg_risk_score` folds the arbitrary-double `risk_score` at scale 15,
  and `stddev_risk_score` is the sample stddev from exact decimal sums
  of x and x² (NULL for a one-row group, as `stddev` is);
- the four Pearson r come from sums over each cell (rounded to 6
  decimals), not from Spark's order-sensitive `corr` merge.  A pair is
  NULL unless both features vary in the cell (`min < max`, exact):
  `corr` raises DIVIDE_BY_ZERO under ANSI on a constant feature, and the
  sums formula leaves rounding residue (e.g. 1e-06) where r is
  undefined.

Decisions where the reference leaves room (SURVEY §2.11, §4):
- audit columns are TIMESTAMP/DATE from the RunContext: `created_at`,
  `pipeline_completion_time`, `next_dashboard_refresh_due` and
  `validation_timestamp` are timestamps; `latest_ingestion`,
  `latest_transformation` (the max of silver's
  `transformation_timestamp`), `first_record_time` and
  `last_record_time` are timestamps, not formatted strings;
- `processing_duration_minutes` uses `unix_timestamp`;
- the reference's ORDER BY on demographics and risk analysis belongs
  to the pipeline tables only; the builders are unordered, so a query
  over a builder pays no sort.  Each of the two tables is bounded by its
  group keys (at most 5 x 4 x 4 = 80 and 3 x 3 x 4 = 36 cells), so the
  pipeline writes it as one partition sorted in place: one sorted file,
  with no range-partition sample job and no sort shuffle;
- a distinct count over a column with few values per group is the size
  of the group's set (`age_groups_represented`: at most the 5 age
  groups; `pipeline_health_metrics.unique_files`: one landing path per
  file name), so the gold aggregates in one shuffle, not the two of a
  distinct aggregate.
  `dashboard_refresh_log.files_processed` counts over all of silver, an
  unbounded set, and keeps `countDistinct`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.context import REAL, RunContext
from diabetes_etl_spark.diabetes import features as FE
from diabetes_etl_spark.diabetes.schema import DIABETES_SCHEMA
from diabetes_etl_spark.functions.numeric import dec_avg, dec_sum
from diabetes_etl_spark.pipeline.registry import Pipeline
from diabetes_etl_spark.streaming.ingest import incremental_file_ingest

DEC_MEASURE = dict(scale=10, precision=18)  # measure averages
DEC_RS = dict(scale=15, precision=27)  # risk_score sum fold
DEC_RS2 = dict(scale=18, precision=29)  # risk_score^2 sum fold

CORR_PAIRS = (
    ("Glucose", "BMI", "glucose_bmi_corr"),
    ("Age", "Pregnancies", "age_pregnancies_corr"),
    ("BloodPressure", "BMI", "bp_bmi_corr"),
    ("Insulin", "Glucose", "insulin_glucose_corr"),
)

# the 3 dashboard views (reference: pipeline:398-444): name -> (gold, columns)
DASHBOARD_VIEWS = {
    "v_demographics_dashboard": (
        "diabetes_demographics_summary",
        ("age_group", "bmi_category", "pregnancy_risk", "patient_count",
         "diabetes_rate", "avg_risk_score", "avg_age", "avg_bmi",
         "avg_glucose", "created_at"),
    ),
    "v_risk_analysis_dashboard": (
        "diabetes_risk_analysis",
        ("risk_level", "glucose_level", "bp_category", "patient_count",
         "diabetes_rate", "avg_risk_score", "avg_pedigree_function",
         "avg_insulin", "created_at"),
    ),
    "v_executive_summary_dashboard": (
        "diabetes_executive_summary",
        ("total_patients", "diabetes_cases", "diabetes_percentage",
         "high_risk_patients", "high_risk_percentage", "avg_age",
         "avg_risk_score", "data_quality_score", "summary_date",
         "created_at"),
    ),
}


def _avg(c: str, places: int) -> Column:
    return F.round(dec_avg(F.col(c), **DEC_MEASURE), places)


def _avg_risk() -> Column:
    return F.round(dec_avg(F.col("risk_score"), **DEC_RS), 3)


def _count_if(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def _n_distinct(c: str) -> Column:
    """``countDistinct`` for a column whose distinct values in a group are
    few: one set per group, so the aggregate takes one shuffle.  A
    ``countDistinct`` beside other aggregates is planned as two
    aggregations, with a shuffle each (and an Expand once there is a
    second distinct column)."""
    return F.size(F.collect_set(c)).cast("long")


def _pct(part: str, whole: str) -> Column:
    return F.round(
        F.col(part).cast("double") / F.col(whole).cast("double") * 100, 2
    )


def demographics_summary(silver: DataFrame, ctx: RunContext) -> DataFrame:
    """reference: pipeline:268-301"""
    return (
        silver.groupBy("age_group", "bmi_category", "pregnancy_risk")
        .agg(
            F.count("*").alias("patient_count"),
            F.sum(F.col("Outcome").cast("int")).alias("diabetes_cases"),
            _avg("Age", 2).alias("avg_age"),
            _avg("BMI", 2).alias("avg_bmi"),
            _avg("Glucose", 2).alias("avg_glucose"),
            _avg("BloodPressure", 2).alias("avg_blood_pressure"),
            _avg_risk().alias("avg_risk_score"),
            _avg("data_quality_score", 2).alias("avg_data_quality"),
            F.min("Age").alias("min_age"),
            F.max("Age").alias("max_age"),
        )
        .withColumn("diabetes_rate", _pct("diabetes_cases", "patient_count"))
        .withColumn("created_at", ctx.now())
    )


def risk_analysis(silver: DataFrame, ctx: RunContext) -> DataFrame:
    """reference: pipeline:303-342"""
    rs = F.col("risk_score")
    n, sx = F.count(rs), dec_sum(rs, **DEC_RS)
    sxx = dec_sum(rs * rs, **DEC_RS2)
    var = F.greatest((sxx - sx * sx / n) / (n - 1), F.lit(0.0))
    g = silver.groupBy("risk_level", "glucose_level", "bp_category").agg(
        F.count("*").alias("patient_count"),
        F.sum(F.col("Outcome").cast("int")).alias("diabetes_cases"),
        _avg_risk().alias("avg_risk_score"),
        F.when(n > 1, F.round(F.sqrt(var), 3)).alias("stddev_risk_score"),
        _avg("DiabetesPedigreeFunction", 3).alias("avg_pedigree_function"),
        _avg("Insulin", 2).alias("avg_insulin"),
        _avg("SkinThickness", 2).alias("avg_skin_thickness"),
        _n_distinct("age_group").alias("age_groups_represented"),
        _avg("data_quality_score", 2).alias("avg_data_quality"),
    )
    dev = F.coalesce(F.col("stddev_risk_score"), F.lit(0.0))
    return (
        g.withColumn("diabetes_rate", _pct("diabetes_cases", "patient_count"))
        .withColumn(
            "risk_score_range",
            F.concat(
                F.format_number(F.col("avg_risk_score") - dev, 3),
                F.lit(" - "),
                F.format_number(F.col("avg_risk_score") + dev, 3),
            ),
        )
        .withColumn("created_at", ctx.now())
    )


def executive_summary(silver: DataFrame, ctx: RunContext) -> DataFrame:
    """reference: pipeline:344-389 (single wide KPI row)"""
    m = silver.agg(
        F.count("*").alias("total_patients"),
        _count_if(F.col("Outcome") == 1).alias("diabetes_cases"),
        _count_if(F.col("risk_level") == "High").alias("high_risk_patients"),
        _avg("Age", 1).alias("avg_age"),
        _avg_risk().alias("avg_risk_score"),
        _avg("data_quality_score", 1).alias("data_quality_score"),
    )
    return m.select(
        F.lit("summary").alias("summary_type"),
        F.col("total_patients").cast("double").alias("total_patients"),
        F.col("diabetes_cases").cast("double").alias("diabetes_cases"),
        _pct("diabetes_cases", "total_patients").alias("diabetes_percentage"),
        F.col("high_risk_patients").cast("double").alias("high_risk_patients"),
        _pct("high_risk_patients", "total_patients").alias(
            "high_risk_percentage"
        ),
        "avg_age",
        "avg_risk_score",
        "data_quality_score",
        ctx.today().alias("summary_date"),
        ctx.now().alias("created_at"),
    )


def data_quality_metrics(silver: DataFrame, ctx: RunContext) -> DataFrame:
    """reference: pipeline:453-489 (per-file imputation monitoring)"""
    counts = [f"{flag}_count" for flag in FE.FLAG_NAMES.values()]
    g = (
        silver.withColumn("processing_date", ctx.today())
        .groupBy("processing_date", "source_file")
        .agg(
            F.count("*").alias("total_records"),
            *[
                _count_if(F.col(flag)).alias(f"{flag}_count")
                for flag in FE.FLAG_NAMES.values()
            ],
            _avg("data_quality_score", 2).alias("avg_data_quality_score"),
            F.min("data_quality_score").alias("min_data_quality_score"),
            F.max("data_quality_score").alias("max_data_quality_score"),
        )
    )
    total = reduce(lambda a, b: a + b, [F.col(c) for c in counts])
    return (
        g.withColumn("total_imputed_fields", total.cast("int"))
        .withColumn(
            "imputation_rate",
            F.round(
                F.col("total_imputed_fields").cast("double")
                / (F.col("total_records").cast("double") * 5)
                * 100,
                2,
            ),
        )
        .withColumn("created_at", ctx.now())
    )


def dashboard_refresh_log(silver: DataFrame, ctx: RunContext) -> DataFrame:
    """reference: pipeline:498-534 (pipeline-run audit row)"""
    stats = silver.agg(
        F.count("*").alias("total_records_processed"),
        F.countDistinct("source_file").alias("files_processed"),
        F.max("ingestion_timestamp").alias("latest_ingestion"),
        F.max("transformation_timestamp").alias("latest_transformation"),
        _avg("data_quality_score", 2).alias("overall_data_quality"),
    )
    return stats.withColumns(
        {
            "pipeline_run_id": ctx.run_id(),
            "pipeline_completion_time": ctx.now(),
            "status": F.lit("COMPLETED"),
            "next_dashboard_refresh_due": ctx.now(),
            "refresh_priority": F.when(
                F.col("overall_data_quality") < 80, "HIGH"
            )
            .when(F.col("total_records_processed") > 1000, "HIGH")
            .otherwise("NORMAL"),
        }
    )


def pipeline_health_metrics(bronze: DataFrame, ctx: RunContext) -> DataFrame:
    """reference: pipeline:543-580 (ingest throughput per hour and file)"""
    g = (
        bronze.withColumn(
            "processing_hour",
            F.date_format(F.col("ingestion_timestamp"), "yyyy-MM-dd HH"),
        )
        .groupBy("processing_hour", "file_name")
        .agg(
            F.count("*").alias("records_processed"),
            _n_distinct("source_file").alias("unique_files"),
            F.min("ingestion_timestamp").alias("first_record_time"),
            F.max("ingestion_timestamp").alias("last_record_time"),
        )
        .withColumn(
            "processing_duration_minutes",
            (
                F.unix_timestamp("last_record_time")
                - F.unix_timestamp("first_record_time")
            )
            / 60.0,
        )
    )
    minutes = F.col("processing_duration_minutes")
    return (
        g.withColumn(
            "records_per_minute",
            F.when(
                minutes > 0,
                F.round(F.col("records_processed").cast("double") / minutes, 2),
            ).otherwise(F.col("records_processed").cast("double")),
        )
        .withColumn(
            "health_status",
            F.when(F.col("records_processed") == 0, "ERROR")
            .when(F.col("records_per_minute") < 10, "SLOW")
            .otherwise("HEALTHY"),
        )
        .withColumn("created_at", ctx.now())
    )


def _pearson(x: str, y: str) -> Column:
    """Pearson r of two columns over a group, from sums; NULL unless both
    columns vary in the group."""
    dx, dy = F.col(x).cast("double"), F.col(y).cast("double")
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum(dx), F.sum(dy)
    num = n * F.sum(dx * dy) - sx * sy
    vx = n * F.sum(dx * dx) - sx * sx
    vy = n * F.sum(dy * dy) - sy * sy
    varies = (F.min(x) < F.max(x)) & (F.min(y) < F.max(y))
    return F.when(varies, F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6))


def feature_correlation(silver: DataFrame, ctx: RunContext) -> DataFrame:
    """reference: pipeline:589-622"""
    g = silver.groupBy("age_group", "bmi_category").agg(
        F.count("*").alias("sample_size"),
        *[_pearson(x, y).alias(name) for x, y, name in CORR_PAIRS],
        _avg("Outcome", 3).alias("diabetes_prevalence"),
    )
    r = F.abs(F.col("glucose_bmi_corr"))
    return g.withColumn(
        "correlation_strength",
        F.when(r > 0.7, "Strong").when(r > 0.4, "Moderate").otherwise("Weak"),
    ).withColumn("created_at", ctx.now())


def data_validation_summary(silver: DataFrame, ctx: RunContext) -> DataFrame:
    """reference: pipeline:631-672 (validity rates, single row)"""
    rules = {
        "age": (F.col("Age") > 0) & (F.col("Age") < 120),
        "outcome": F.col("Outcome").isin([0, 1]),
        "pregnancies": F.col("Pregnancies") >= 0,
        "glucose": F.col("Glucose") > 0,
        "bmi": F.col("BMI") > 0,
    }
    v = silver.agg(
        F.count("*").alias("total_records"),
        *[_count_if(c).alias(f"valid_{k}_count") for k, c in rules.items()],
    )
    v = v.withColumns(
        {
            f"{k}_validity_rate": _pct(f"valid_{k}_count", "total_records")
            for k in rules
        }
    )
    rates = reduce(
        lambda a, b: a + b, [F.col(f"{k}_validity_rate") for k in rules]
    )
    return v.withColumns(
        {
            "overall_data_quality": F.round(rates / 5, 2),
            "validation_timestamp": ctx.now(),
            "validation_date": ctx.today(),
        }
    )


def _audit_columns(df: DataFrame, ctx: RunContext) -> DataFrame:
    """Ingest audit columns (reference: pipeline:70-73)."""
    return (
        df.withColumn("ingestion_timestamp", ctx.now())
        .withColumn("source_file", F.col("_metadata.file_path"))
        .withColumn("ingestion_date", ctx.today())
        .withColumn(
            "file_name",
            F.regexp_extract(F.col("_metadata.file_path"), r"([^/]+)\.csv$", 1),
        )
    )


def _one_sorted_file(gold: DataFrame, *keys: str) -> DataFrame:
    """The reference's ORDER BY for a gold bounded by its group keys: one
    partition sorted in place, written as one file that reads back in key
    order.  ``orderBy`` would add a range-partitioning sample job and a
    sort shuffle for a few dozen rows."""
    return gold.coalesce(1).sortWithinPartitions(*keys)


def _props(tier: str) -> dict[str, str]:
    """Per-table properties, as the reference declares on every table
    (pipeline:49-53 and per-table): a medallion quality tier plus its
    auto-optimize marker, persisted to the catalog by the warehouse
    sink (SHOW TBLPROPERTIES)."""
    return {"quality": tier, "pipelines.autoOptimize.managed": "true"}


def build_diabetes_pipeline(
    source_dir: str,
    ctx: RunContext = REAL,
    streaming: bool = False,
) -> Pipeline:
    """source_dir: directory of CSV files with the DIABETES_SCHEMA columns."""
    p = Pipeline("diabetes_medallion")

    @p.table(
        name="diabetes_bronze",
        comment="Raw diabetes patient data ingested from CSV files",
        streaming=streaming,
        table_properties=_props("bronze"),
    )
    @Pipeline.expect_or_drop("valid_file", "file_name IS NOT NULL")
    def diabetes_bronze(c) -> DataFrame:
        # reference: pipeline:46-74. Streaming = incremental exactly-once
        # (Autoloader analogue); batch = same projection for tests.
        if streaming:
            raw = incremental_file_ingest(
                c.spark, source_dir, DIABETES_SCHEMA, fmt="csv",
                with_audit_columns=False,
            )
        else:
            raw = (
                c.spark.read.format("csv")
                .option("header", "true")
                .option("inferSchema", "false")
                .schema(DIABETES_SCHEMA)
                .load(source_dir)
            )
        return _audit_columns(raw, ctx)

    @p.table(
        name="diabetes_bronze_materialized",
        comment="Batch-queryable view of bronze for median calculations",
        table_properties=_props("bronze"),
    )
    def diabetes_bronze_materialized(c) -> DataFrame:
        # reference: pipeline:79-92
        return c.read("diabetes_bronze")

    @p.table(
        name="diabetes_silver",
        comment="Cleaned diabetes data with median imputation + features",
        table_properties=_props("silver"),
    )
    @Pipeline.expect_all(
        {
            "valid_age": "Age > 0 AND Age < 120",
            "valid_outcome": "Outcome IN (0, 1)",
            "valid_pregnancies": "Pregnancies >= 0",
        }
    )
    def diabetes_silver(c) -> DataFrame:
        # reference: pipeline:101-259 (quirk decisions in features.py)
        return FE.silver(c.read("diabetes_bronze_materialized"), ctx)

    @p.table(
        name="diabetes_demographics_summary",
        comment="Demographics by age group, BMI category, pregnancy risk",
        table_properties=_props("gold"),
    )
    def diabetes_demographics_summary(c) -> DataFrame:
        return _one_sorted_file(
            demographics_summary(c.read("diabetes_silver"), ctx),
            "age_group", "bmi_category", "pregnancy_risk",
        )

    @p.table(
        name="diabetes_risk_analysis",
        comment="Risk factor analysis by risk level / glucose / blood pressure",
        table_properties=_props("gold"),
    )
    def diabetes_risk_analysis(c) -> DataFrame:
        return _one_sorted_file(
            risk_analysis(c.read("diabetes_silver"), ctx),
            "risk_level", "glucose_level", "bp_category",
        )

    @p.table(
        name="diabetes_executive_summary",
        comment="Executive KPIs, single wide row",
        table_properties=_props("gold"),
    )
    def diabetes_executive_summary(c) -> DataFrame:
        return executive_summary(c.read("diabetes_silver"), ctx)

    @p.table(
        name="diabetes_data_quality_metrics",
        comment="Per-file imputation and quality monitoring",
        table_properties=_props("gold"),
        # production shape (SURVEY §7.4): date-partitioned gold so
        # monitoring scans prune to the day under inspection
        partition_by=("processing_date",),
    )
    def diabetes_data_quality_metrics(c) -> DataFrame:
        return data_quality_metrics(c.read("diabetes_silver"), ctx)

    @p.table(
        name="dashboard_refresh_log",
        comment="Pipeline-run audit row for dashboard refresh automation",
        table_properties=_props("gold"),
    )
    def dashboard_refresh_log_table(c) -> DataFrame:
        return dashboard_refresh_log(c.read("diabetes_silver"), ctx)

    @p.table(
        name="pipeline_health_metrics",
        comment="Ingest throughput / health monitoring per hour and file",
        table_properties=_props("gold"),
    )
    def pipeline_health_metrics_table(c) -> DataFrame:
        return pipeline_health_metrics(c.read("diabetes_bronze"), ctx)

    @p.table(
        name="diabetes_feature_correlation",
        comment="Feature correlations per (age group, BMI category)",
        table_properties=_props("gold"),
    )
    def diabetes_feature_correlation(c) -> DataFrame:
        return feature_correlation(c.read("diabetes_silver"), ctx)

    @p.table(
        name="data_validation_summary",
        comment="Validity-rate report across the quality rules",
        table_properties=_props("gold"),
    )
    def data_validation_summary_table(c) -> DataFrame:
        return data_validation_summary(c.read("diabetes_silver"), ctx)

    for name, (gold, cols) in DASHBOARD_VIEWS.items():
        p.view(name=name)(
            lambda c, gold=gold, cols=cols: c.read(gold).select(*cols)
        )

    return p
