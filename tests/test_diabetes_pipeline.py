"""End-to-end tests for the diabetes medallion pipeline (SURVEY.md §5.2):
a full-DAG run, invariants, a DuckDB differential check of all 8 gold
tables and the 6 dashboard datasets, plus unit tests for bucket
boundaries, imputation fallbacks and the exact gold forms.

The pipeline runs on the real 768-row Pima CSVs when they are present
(``DIABETES_CSV_DIR``), else on 6 x 128 generated Pima-shaped rows
(perfbench/datagen.py).  Only the golden-value assertions (768/268, the
FIXTURES.md zero counts, the 117/72/32.3 medians) need the real data.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from diabetes_etl_spark.diabetes import features as FE
from diabetes_etl_spark.diabetes import pipeline_def as PD
from diabetes_etl_spark.diabetes.dashboard import (
    DASHBOARD_SQL,
    PIPELINE_TABLES,
    run_dashboard_queries,
)
from diabetes_etl_spark.diabetes.pipeline_def import build_diabetes_pipeline
from diabetes_etl_spark.diabetes.schema import DIABETES_SCHEMA, FALLBACK_MEDIANS
from diabetes_etl_spark.pipeline.registry import PipelineContext, PipelineRunner
from diabetes_etl_spark.plans.diabetesplans import CTX, GOLD_ORACLES
from perfbench.datagen import write_pima_csv
from tests.pandas_compare import compare_frames

CSV_DIR = os.environ.get("DIABETES_CSV_DIR", "/root/reference/data")
REAL_DATA = os.path.isdir(CSV_DIR)
needs_real_data = pytest.mark.skipif(
    not REAL_DATA, reason="golden values need the real Pima CSVs"
)
GEN_FILES, GEN_ROWS = 6, 128

@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    if REAL_DATA:
        return CSV_DIR
    out = tmp_path_factory.mktemp("pima")
    for i in range(GEN_FILES):
        write_pima_csv(str(out / f"diabetes_part_{i + 1}.csv"), 1, i, GEN_ROWS)
    return str(out)


@pytest.fixture(scope="module")
def runner(spark, csv_dir):
    r = PipelineRunner(
        build_diabetes_pipeline(csv_dir, ctx=CTX),
        spark,
        mode="views",
        cache=("diabetes_silver",),
    )
    r.run()
    return r


@needs_real_data
def test_golden_invariants(runner):
    silver = runner.materialize("diabetes_silver")
    assert silver.count() == 768
    exec_row = runner.materialize("diabetes_executive_summary").collect()[0]
    assert exec_row["total_patients"] == 768.0
    assert exec_row["diabetes_cases"] == 268.0
    assert exec_row["diabetes_percentage"] == round(268 / 768 * 100, 2)


def test_executive_summary_counts_silver(runner):
    silver = runner.materialize("diabetes_silver")
    n = silver.count()
    cases = silver.agg(F.sum("Outcome")).first()[0]
    exec_row = runner.materialize("diabetes_executive_summary").collect()[0]
    assert n == (768 if REAL_DATA else GEN_FILES * GEN_ROWS)
    assert exec_row["total_patients"] == float(n)
    assert exec_row["diabetes_cases"] == float(cases)
    assert exec_row["diabetes_percentage"] == round(cases / n * 100, 2)


def _flag_counts(silver):
    return silver.agg(
        *[F.sum(F.when(F.col(f), 1).otherwise(0)).alias(f)
          for f in FE.FLAG_NAMES.values()]
    ).collect()[0]


def test_imputation_flags_and_no_zeros(runner):
    """Flag-first semantics: each flag counts the raw zeros of its
    measure, and the imputed measures contain no zeros."""
    bronze = runner.materialize("diabetes_bronze_materialized")
    raw_zeros = bronze.agg(
        *[F.sum(F.when(F.col(c) == 0, 1).otherwise(0)).alias(f)
          for c, f in FE.FLAG_NAMES.items()]
    ).collect()[0]
    silver = runner.materialize("diabetes_silver")
    assert _flag_counts(silver).asDict() == raw_zeros.asDict()
    assert min(raw_zeros) > 0
    zeros = silver.filter(
        " OR ".join(f"{c} = 0" for c in FE.FLAG_NAMES)
    ).count()
    assert zeros == 0


@needs_real_data
def test_imputation_golden_counts_and_medians(runner):
    """FIXTURES.md §A zero counts (Glucose 5, BloodPressure 35,
    SkinThickness 227, Insulin 374, BMI 11) and the nonzero medians."""
    silver = runner.materialize("diabetes_silver")
    counts = _flag_counts(silver)
    assert counts["glucose_imputed"] == 5
    assert counts["bp_imputed"] == 35
    assert counts["skin_imputed"] == 227
    assert counts["insulin_imputed"] == 374
    assert counts["bmi_imputed"] == 11
    row = silver.filter(F.col("glucose_imputed")).select("Glucose").first()
    assert row["Glucose"] == 117.0
    row = silver.filter(F.col("bp_imputed")).select("BloodPressure").first()
    assert row["BloodPressure"] == 72.0
    row = silver.filter(F.col("bmi_imputed")).select("BMI").first()
    assert row["BMI"] == 32.3


def test_data_quality_score_domain(runner):
    silver = runner.materialize("diabetes_silver")
    vals = {
        r["data_quality_score"]
        for r in silver.select("data_quality_score").distinct().collect()
    }
    assert vals <= {0, 20, 40, 60, 80, 100}
    # flag-first fix: scores are NOT constant-100 (the reference's literal
    # behavior) because zeros exist in the raw data
    assert vals != {100}


@pytest.fixture(scope="module")
def duck_golds(runner):
    """DuckDB holding the pipeline's own bronze and silver."""
    con = duckdb.connect()
    con.register("bronze", runner.materialize("diabetes_bronze").toPandas())
    con.register("silver", runner.materialize("diabetes_silver").toPandas())
    return con


@pytest.mark.parametrize("gold", list(GOLD_ORACLES))
def test_gold_matches_duckdb_oracle(runner, duck_golds, gold):
    """Each gold table equals its DuckDB oracle fragment (the one the
    diab_gold_* gate queries use) run over the pipeline's own bronze and
    silver with the same RunContext, compared exactly."""
    got = runner.materialize(gold).toPandas()
    want = duck_golds.execute(GOLD_ORACLES[gold][1]).fetchdf()
    assert compare_frames(gold, got, want) == []


def test_dashboard_queries_run(runner, spark):
    results = run_dashboard_queries(spark)
    assert set(results) == set(DASHBOARD_SQL)
    total = float(runner.materialize("diabetes_silver").count())
    kpi = results["kpi_cards"].collect()
    assert len(kpi) == 8
    kpis = {r["metric_name"]: r["metric_value"] for r in kpi}
    assert kpis["Total Patients"] == total
    bmi = results["bmi_distribution"].collect()
    assert sum(r["total_patients"] for r in bmi) == total
    dist = results["risk_distribution"].collect()
    assert abs(sum(r["population_percentage"] for r in dist) - 100.0) < 1.0
    # the same SQL on DuckDB over the same gold rows gives the same result
    con = duckdb.connect()
    for table in PIPELINE_TABLES.values():
        con.register(table, runner.materialize(table).toPandas())
    for name, sql in DASHBOARD_SQL.items():
        want = con.execute(sql.format(**PIPELINE_TABLES)).fetchdf()
        assert compare_frames(name, results[name].toPandas(), want) == []


def test_expectation_metrics(runner):
    m = runner.expectation_metrics()
    rows = {(r["dataset"], r["expectation"]): r for r in m.collect()}
    # all warn-expectations hold on the input
    for key, r in rows.items():
        assert r["violations"] == 0, key
    assert ("diabetes_silver", "valid_age") in rows


def _silver(spark, rows, partitions=1):
    bronze = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, partitions), DIABETES_SCHEMA
    )
    return FE.silver(bronze, CTX)


def test_feature_correlation_null_for_constant_feature(spark):
    """One (age group, BMI category) cell whose BMI and Insulin are
    constant: every pair with a constant feature is NULL in the builder
    and in its DuckDB oracle.  Spark's `corr` raised DIVIDE_BY_ZERO here
    (ANSI mode) and the sums formula returned rounding residue."""
    rows = [
        (p, g, bp, 30, 125, 25.1, 0.5, age, p % 2)
        for p, g, bp, age in [
            (1, 90, 60, 41), (2, 110, 72, 43), (3, 130, 66, 45),
            (4, 150, 80, 47), (5, 170, 76, 49),
        ]
    ]
    silver = _silver(spark, rows)
    got = PD.feature_correlation(silver, CTX).toPandas()
    con = duckdb.connect()
    con.register("silver", silver.toPandas())
    want = con.execute(GOLD_ORACLES["diabetes_feature_correlation"][1]).fetchdf()
    for frame in (got, want):
        (row,) = frame.to_dict("records")
        assert row["sample_size"] == 5
        for name in ("glucose_bmi_corr", "bp_bmi_corr", "insulin_glucose_corr"):
            assert row[name] is None or row[name] != row[name], name  # NULL
        assert row["age_pregnancies_corr"] == 1.0
    assert compare_frames("feature_correlation", got, want) == []


def test_gold_averages_do_not_depend_on_partitioning(spark):
    """The same four rows in one partition and in two: a plain double
    average of these BMIs is 35.574999999999996 summed in row order and
    35.575 summed as two halves, which round to 35.57 and 35.58.  The
    exact decimal fold gives 35.58 both ways."""
    rows = [(1, 100, 70, 20, 80, bmi, 0.5, 45, 0)
            for bmi in (36.1, 31.7, 40.9, 33.6)]
    golds = [
        PD.demographics_summary(_silver(spark, rows, parts), CTX).collect()
        for parts in (1, 2)
    ]
    assert golds[0] == golds[1]
    assert golds[0][0]["avg_bmi"] == 35.58


def test_bucket_boundaries(spark):
    """Boundary values for every CASE bucket (SURVEY §5.3)."""
    rows = [
        Row(Age=29, BMI=24.9, Glucose=99, BloodPressure=79, Pregnancies=0),
        Row(Age=30, BMI=25.0, Glucose=100, BloodPressure=80, Pregnancies=1),
        Row(Age=39, BMI=29.9, Glucose=125, BloodPressure=89, Pregnancies=2),
        Row(Age=40, BMI=30.0, Glucose=126, BloodPressure=90, Pregnancies=3),
        Row(Age=59, BMI=18.4, Glucose=50, BloodPressure=99, Pregnancies=5),
        Row(Age=60, BMI=18.5, Glucose=200, BloodPressure=100, Pregnancies=6),
    ]
    df = spark.createDataFrame(rows).select(
        FE.age_group().alias("ag"),
        FE.bmi_category().alias("bc"),
        FE.glucose_level().alias("gl"),
        FE.bp_category().alias("bp"),
        FE.pregnancy_risk().alias("pr"),
    )
    got = [tuple(r) for r in df.collect()]
    assert got == [
        ("Young (< 30)", "Normal", "Normal", "Normal", "No Pregnancies"),
        ("Adult (30-39)", "Overweight", "Prediabetic", "High Normal", "Low Risk"),
        ("Adult (30-39)", "Overweight", "Prediabetic", "High Normal", "Low Risk"),
        ("Middle Age (40-49)", "Obese", "Diabetic Range", "Mild Hypertension", "Moderate Risk"),
        ("Mature (50-59)", "Underweight", "Normal", "Mild Hypertension", "Moderate Risk"),
        # BMI exactly 18.5 is Normal (bucket is `< 18.5`)
        ("Senior (60+)", "Normal", "Diabetic Range", "Hypertension", "High Risk"),
    ]


def test_median_fallbacks_on_empty_input(spark):
    empty = spark.createDataFrame([], DIABETES_SCHEMA)
    med = FE.nonzero_medians(empty).collect()[0]
    for c, v in FALLBACK_MEDIANS.items():
        assert med[f"__med_{c}"] == v


def test_warehouse_partitioned_gold_prunes(spark, csv_dir, tmp_path):
    """Warehouse mode writes dq metrics partitioned by processing_date;
    a date-filtered read must hit only that partition (PartitionFilters
    in the scan, not a post-scan filter)."""
    r = PipelineRunner(
        build_diabetes_pipeline(csv_dir, ctx=CTX),
        spark,
        mode="warehouse",
        warehouse=str(tmp_path / "wh"),
    )
    r.materialize("diabetes_data_quality_metrics")
    table_dir = os.path.join(str(tmp_path / "wh"), "diabetes_data_quality_metrics")
    parts = [d for d in os.listdir(table_dir) if d.startswith("processing_date=")]
    assert parts, f"expected hive-style partition dirs in {table_dir}"

    df = spark.read.parquet(table_dir).filter(
        F.col("processing_date") == CTX.fixed_now[:10]
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "extended"
    )
    assert "PartitionFilters: [isnotnull(processing_date" in plan
    assert df.count() > 0


ORDERED_GOLDS = {
    "diabetes_demographics_summary": ("age_group", "bmi_category", "pregnancy_risk"),
    "diabetes_risk_analysis": ("risk_level", "glucose_level", "bp_category"),
}


def test_golds_take_one_shuffle(spark, csv_dir, tmp_path):
    """Warehouse mode: the ordered golds and the per-file health gold
    each plan one exchange, with no range partitioning (no sample job, no
    sort shuffle) and no Expand, and each ordered gold is one file that
    reads back in its declared key order.  A ``countDistinct`` beside
    other aggregates plans a second shuffle; ``orderBy`` a third."""
    wh = str(tmp_path / "wh")
    r = PipelineRunner(
        build_diabetes_pipeline(csv_dir, ctx=CTX),
        spark,
        mode="warehouse",
        warehouse=wh,
    )
    one_shuffle = [*ORDERED_GOLDS, "pipeline_health_metrics"]
    r.run(one_shuffle)
    ctx = PipelineContext(r)
    for name in one_shuffle:
        # the plan the pipeline wrote: the table's own builder over the
        # upstream the run already wrote
        df = r.pipeline.datasets[name].fn(ctx)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange ") == 1, (name, plan)
        assert "rangepartitioning" not in plan, (name, plan)
        assert "Expand" not in plan, (name, plan)
    for name, keys in ORDERED_GOLDS.items():
        files = [f for f in os.listdir(os.path.join(wh, name))
                 if f.endswith(".parquet")]
        assert len(files) == 1, files
        rows = [tuple(row) for row in
                spark.read.parquet(os.path.join(wh, name)).select(*keys).collect()]
        assert len(rows) > 1
        assert rows == sorted(rows), name
