"""A medallion (bronze→silver→gold) pipeline over the `events` fixture,
run through the pipeline engine (pipeline/registry.py) inside the
correctness gate — proving the DLT-replacement layer end-to-end with a
DuckDB oracle for its gold output.

Mirrors the reference's shape (SURVEY.md §1.4): bronze ingest + audit
column, silver cleaning + CASE feature bucketing + quality expectations,
gold grouped aggregation over the silver fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.functions.numeric import dec_avg, dec_sum, sql_dec_avg, sql_dec_sum
from diabetes_etl_spark.pipeline.registry import Pipeline, PipelineRunner
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table


def build_events_pipeline(sf_dir: str) -> Pipeline:
    p = Pipeline("events_medallion")

    @p.table(comment="bronze: raw events + audit date column")
    def events_bronze(ctx) -> DataFrame:
        # Batch scan here so the gate stays deterministic; the streaming
        # ingest path is exercised by stream_ingest_events and
        # tests/test_streaming.py.
        return load_table(ctx.spark, sf_dir, "events").withColumn(
            "event_date", F.col("ts").cast("date")
        )

    @p.table(comment="silver: typed, validated, feature-bucketed events")
    @Pipeline.expect_or_drop("valid_value", "value IS NOT NULL AND value >= 0")
    @Pipeline.expect_all({"known_type": "event_type IN ('click','view','purchase','signup','error')"})
    def events_silver(ctx) -> DataFrame:
        ev = ctx.read("events_bronze")
        return ev.withColumn(
            "value_band",
            F.when(F.col("value") < 5, "V1_LOW")
            .when(F.col("value") < 20, "V2_MID")
            .otherwise("V3_HIGH"),
        ).withColumn("is_conversion", (F.col("event_type") == "purchase").cast("int"))

    @p.table(comment="gold: daily engagement summary per event type")
    def events_gold_daily(ctx) -> DataFrame:
        s = ctx.read("events_silver")
        return (
            s.groupBy("event_date", "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                dec_sum(F.col("value"), 2).alias("total_value"),
                dec_avg(F.col("value"), 2).alias("avg_value"),
                F.sum("is_conversion").alias("n_conversions"),
            )
            .orderBy("event_date", "event_type")
        )

    @p.view(comment="dashboard projection of the gold table")
    def v_events_dashboard(ctx) -> DataFrame:
        return ctx.read("events_gold_daily").select(
            "event_date", "event_type", "n_events", "total_value"
        )

    return p


@register(
    "medallion_events_gold",
    oracle=f"""
SELECT CAST(ts AS DATE) AS event_date, event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  {sql_dec_sum("value", 2)} AS total_value,
  {sql_dec_avg("value", 2)} AS avg_value,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_conversions
FROM events
WHERE value IS NOT NULL AND value >= 0
GROUP BY 1, 2
ORDER BY 1, 2
""",
    doc="Gold output of the events medallion pipeline run through the "
    "pipeline engine (bronze→silver expectations→gold), oracle-checked "
    "end-to-end.",
    tags=("pipeline", "medallion", "headline"),
    extended=True,
)
def medallion_events_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    runner = PipelineRunner(build_events_pipeline(sf_dir), spark, mode="views")
    return runner.materialize("events_gold_daily")
