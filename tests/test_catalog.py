"""Catalog persistence + staged streaming publish (SURVEY.md §2.1/§2.9;
reference: src/diabetes_etl_pipeline.py:46-53 — every table declares
comment= and table_properties=, surfaced through the catalog; DLT fails
an update WITHOUT committing the violating data).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from diabetes_etl_spark.pipeline.registry import (
    ExpectationFailed,
    Pipeline,
    PipelineRunner,
)


def _tblprops(spark, name: str) -> dict[str, str]:
    return {
        r.key: r.value
        for r in spark.sql(f"SHOW TBLPROPERTIES `default`.`{name}`").collect()
    }


def test_warehouse_persists_comment_and_properties(spark, tmp_path):
    p = Pipeline("props")

    @p.table(
        name="props_tbl",
        comment="it's a gold table",  # quote exercises escaping
        table_properties={"quality": "gold", "pipelines.autoOptimize.managed": "true"},
    )
    def props_tbl(ctx):
        return spark.createDataFrame([Row(a=1), Row(a=2)])

    PipelineRunner(p, spark, mode="warehouse", warehouse=str(tmp_path)).run()
    props = _tblprops(spark, "props_tbl")
    assert props.get("quality") == "gold"
    assert props.get("pipelines.autoOptimize.managed") == "true"
    desc = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED `default`.`props_tbl`").collect()
    }
    assert desc.get("Comment") == "it's a gold table"
    # the catalog table reads the same data the runner materialized
    assert spark.sql("SELECT count(*) AS n FROM `default`.`props_tbl`").first().n == 2
    spark.sql("DROP TABLE IF EXISTS `default`.`props_tbl`")


def _assert_discovery_schema(spark, out, name: str, path: str) -> None:
    """The frame the runner returns and the catalog table it registers
    carry exactly the columns (order and types) that parquet discovery
    gives for the written files."""
    fresh = spark.read.parquet(path).schema
    assert out.schema == fresh
    table = spark.table(f"`default`.`{name}`").schema
    assert [(f.name, f.dataType) for f in table] == [
        (f.name, f.dataType) for f in fresh
    ]


def test_partitioned_table_registered_with_partitions(spark, tmp_path):
    p = Pipeline("props-part")

    @p.table(name="props_part", partition_by=("d",),
             table_properties={"quality": "silver"})
    def props_part(ctx):
        # the partition column comes first and holds date-like strings:
        # discovery moves it last and types it as a date
        return spark.createDataFrame(
            [Row(d="2024-01-01", v=1), Row(d="2024-01-02", v=2)]
        )

    out = PipelineRunner(
        p, spark, mode="warehouse", warehouse=str(tmp_path)
    ).run()["props_part"]
    _assert_discovery_schema(spark, out, "props_part",
                             str(tmp_path / "props_part"))
    assert _tblprops(spark, "props_part").get("quality") == "silver"
    parts = spark.sql("SHOW PARTITIONS `default`.`props_part`").count()
    assert parts == 2
    assert (
        spark.sql("SELECT sum(v) AS s FROM `default`.`props_part`").first().s == 3
    )
    spark.sql("DROP TABLE IF EXISTS `default`.`props_part`")


def test_unpartitioned_table_schema_matches_discovery(spark, tmp_path):
    import datetime as dt
    from decimal import Decimal

    p = Pipeline("props-flat")

    @p.table(name="props_flat")
    def props_flat(ctx):
        return spark.createDataFrame(
            [(1, "a", 1.5, Decimal("2.25"), dt.date(2024, 1, 1),
              dt.datetime(2024, 1, 1, 12), [1, 2])],
            "k bigint, s string, x double, m decimal(10,2), d date, "
            "ts timestamp, xs array<int>",
        )

    out = PipelineRunner(
        p, spark, mode="warehouse", warehouse=str(tmp_path)
    ).run()["props_flat"]
    _assert_discovery_schema(spark, out, "props_flat",
                             str(tmp_path / "props_flat"))
    assert spark.table("`default`.`props_flat`").count() == 1
    spark.sql("DROP TABLE IF EXISTS `default`.`props_flat`")


def _write_csv(path, rows: list[tuple[int, int]]) -> None:
    with open(path, "w") as fh:
        fh.write("id,v\n")
        for r in rows:
            fh.write(f"{r[0]},{r[1]}\n")


def _stream_pipeline(spark, src: str) -> Pipeline:
    from pyspark.sql.types import IntegerType, StructField, StructType

    from diabetes_etl_spark.streaming.ingest import incremental_file_ingest

    schema = StructType(
        [StructField("id", IntegerType()), StructField("v", IntegerType())]
    )
    p = Pipeline("staged")

    @p.table(name="staged_tbl", streaming=True)
    @Pipeline.expect_or_fail("positive_v", "v > 0")
    def staged_tbl(ctx):
        return incremental_file_ingest(
            ctx.spark, src, schema, with_audit_columns=False
        )

    return p


def test_streaming_fail_expectation_does_not_publish_bad_data(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    wh = str(tmp_path / "wh")

    def run():
        PipelineRunner(
            _stream_pipeline(spark, str(src)), spark, mode="warehouse",
            warehouse=wh,
        ).run()

    # clean batch publishes
    _write_csv(src / "a.csv", [(1, 10), (2, 20)])
    run()
    tbl = os.path.join(wh, "staged_tbl")
    assert spark.read.parquet(tbl).count() == 2

    # violating batch aborts the update AND nothing new is published
    _write_csv(src / "b.csv", [(3, -5), (4, 40)])
    with pytest.raises(ExpectationFailed, match="positive_v"):
        run()
    good = spark.read.parquet(tbl)
    assert good.count() == 2, "violating rows must not reach the table"
    assert good.filter("v < 0").count() == 0

    # the update stays red on re-run (pending files re-validated)
    with pytest.raises(ExpectationFailed):
        run()
    assert spark.read.parquet(tbl).count() == 2
    spark.sql("DROP TABLE IF EXISTS `default`.`staged_tbl`")


def test_streaming_staged_publish_is_incremental(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    wh = str(tmp_path / "wh")

    def run():
        PipelineRunner(
            _stream_pipeline(spark, str(src)), spark, mode="warehouse",
            warehouse=wh,
        ).run()

    _write_csv(src / "a.csv", [(1, 10)])
    run()
    tbl = os.path.join(wh, "staged_tbl")
    first_files = set(os.listdir(tbl))
    _write_csv(src / "b.csv", [(2, 20)])
    run()
    assert spark.read.parquet(tbl).count() == 2
    # previously published files are untouched (per-file delta publish)
    assert first_files <= set(os.listdir(tbl))
    spark.sql("DROP TABLE IF EXISTS `default`.`staged_tbl`")


def test_streaming_first_run_empty_input_yields_typed_empty(spark, tmp_path):
    """First run with ZERO input files must return an empty frame with
    the stream's schema (round-3 ADVICE: the staged-publish path used to
    die on 'Unable to infer schema' reading the empty published dir)."""
    src = tmp_path / "in"
    src.mkdir()
    wh = str(tmp_path / "wh")
    runner = PipelineRunner(
        _stream_pipeline(spark, str(src)), spark, mode="warehouse",
        warehouse=wh,
    )
    out = runner.run()
    df = out["staged_tbl"]
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "v"]
    # and the next run with real data still publishes incrementally
    _write_csv(src / "a.csv", [(1, 10)])
    PipelineRunner(
        _stream_pipeline(spark, str(src)), spark, mode="warehouse",
        warehouse=wh,
    ).run()
    assert spark.read.parquet(os.path.join(wh, "staged_tbl")).count() == 1
    spark.sql("DROP TABLE IF EXISTS `default`.`staged_tbl`")


def test_streaming_publish_crash_recovery(spark, tmp_path):
    """Simulate a crash between per-file publishes: some staged files
    published, others missing from the table dir.  A rerun (no new
    input) must converge the table — missing files republished from
    staging, no duplicates, no loss (VERDICT round 3, next-round #5)."""
    src = tmp_path / "in"
    src.mkdir()
    wh = str(tmp_path / "wh")

    def run():
        PipelineRunner(
            _stream_pipeline(spark, str(src)), spark, mode="warehouse",
            warehouse=wh,
        ).run()

    _write_csv(src / "a.csv", [(1, 10)])
    run()
    _write_csv(src / "b.csv", [(2, 20)])
    run()
    tbl = os.path.join(wh, "staged_tbl")
    published = sorted(
        f for f in os.listdir(tbl) if f.endswith(".parquet")
    )
    assert len(published) >= 2
    baseline = {
        (r.id, r.v) for r in spark.read.parquet(tbl).collect()
    }
    # crash half-way: one published file never made it
    os.remove(os.path.join(tbl, published[0]))
    assert spark.read.parquet(tbl).count() < len(baseline)
    # rerun with no new input: checkpoint ingests nothing, the per-file
    # publish re-links exactly the missing delta
    run()
    recovered = [
        (r.id, r.v) for r in spark.read.parquet(tbl).collect()
    ]
    assert len(recovered) == len(baseline), "no dupes and no loss"
    assert set(recovered) == baseline
    spark.sql("DROP TABLE IF EXISTS `default`.`staged_tbl`")


def test_delta_format_is_gated_on_runtime(spark, tmp_path):
    """table_format='delta' must fail fast with a clear message when the
    Delta runtime is absent (this sandbox), and write delta when it is
    present — never a mid-write classpath stack trace."""
    from diabetes_etl_spark.pipeline.registry import delta_available

    p = Pipeline("delta-gate")

    @p.table(name="delta_tbl")
    def delta_tbl(ctx):
        return spark.createDataFrame([Row(a=1)])

    if not delta_available(spark):
        with pytest.raises(RuntimeError, match="delta-spark"):
            PipelineRunner(
                p, spark, mode="warehouse", warehouse=str(tmp_path),
                table_format="delta",
            )
    else:  # pragma: no cover - needs delta on the classpath
        PipelineRunner(
            p, spark, mode="warehouse", warehouse=str(tmp_path),
            table_format="delta",
        ).run()
        assert os.path.isdir(str(tmp_path / "delta_tbl" / "_delta_log"))
        spark.sql("DROP TABLE IF EXISTS `default`.`delta_tbl`")


def test_unknown_table_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="table_format"):
        PipelineRunner(
            Pipeline("x"), spark, mode="warehouse", warehouse=str(tmp_path),
            table_format="orc",
        )


def test_expect_or_fail_null_condition_is_violation(spark):
    """DLT semantics: a constraint evaluating to NULL is a violation,
    consistent with expect_or_drop dropping non-TRUE rows."""
    p = Pipeline("nullfail")

    @p.table(name="null_src")
    @Pipeline.expect_or_fail("positive_v", "v > 0")
    def null_src(ctx):
        return spark.createDataFrame([Row(v=1), Row(v=None), Row(v=3)])

    with pytest.raises(ExpectationFailed, match="positive_v.*1 row"):
        PipelineRunner(p, spark, mode="views").run()


def test_streaming_partitioned_empty_first_run_registers_table(
    spark, tmp_path
):
    """A PARTITIONED streaming table's first run with zero input files
    must still register a typed catalog table — the partition branch of
    the DDL builder has to honor the explicit schema instead of
    re-inferring from the empty location (round-4 review finding)."""
    src = tmp_path / "landing"
    src.mkdir()
    wh = str(tmp_path / "wh")
    p = Pipeline("empty_part_stream")

    @p.table(name="bronze_part", streaming=True, partition_by=("v",))
    def bronze_part(ctx):
        return ctx.spark.readStream.schema("k long, v string").parquet(
            str(src)
        )

    out = PipelineRunner(p, spark, mode="warehouse", warehouse=wh).run()[
        "bronze_part"
    ]
    assert out.count() == 0
    assert [f.name for f in out.schema.fields][:2] == ["k", "v"]
    cols = spark.sql("DESCRIBE TABLE `default`.`bronze_part`").collect()
    assert {r.col_name for r in cols} >= {"k", "v"}
    spark.sql("DROP TABLE IF EXISTS `default`.`bronze_part`")


def test_expectation_metrics_observed_without_rescan(spark, tmp_path):
    """Warehouse-mode warn metrics must come from the Observation
    captured during the materialization write — equal to a recompute,
    and produced without re-scanning the dataset (the metrics frame
    reads local rows, not files)."""
    from pyspark.sql import functions as F

    from diabetes_etl_spark.pipeline.registry import Pipeline, PipelineRunner

    p = Pipeline("obs-metrics")

    @p.table(name="src")
    @p.expect_all({"value_positive": "v > 0", "small": "v < 100"})
    def src(ctx):
        return ctx.spark.createDataFrame(
            [(1,), (-2,), (50,), (200,), (None,)], "v int"
        )

    runner = PipelineRunner(
        p, spark, mode="warehouse", warehouse=str(tmp_path / "wh")
    )
    runner.run()
    assert "src" in runner._observed  # captured by the write action
    m = runner.expectation_metrics()
    rows = {r.expectation: (r.rows_checked, r.violations) for r in m.collect()}
    # NULL counts as a violation (non-TRUE), matching drop/fail paths
    assert rows == {"value_positive": (5, 2), "small": (5, 2)}
    # scan-free: the observed-path metrics frame is built from local
    # rows — no file source anywhere in its plan
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan


def test_expectation_metrics_fallback_in_views_mode(spark):
    """Views mode runs no materialization action, so metrics fall back
    to the aggregate recompute — same numbers, documented cost."""
    from diabetes_etl_spark.pipeline.registry import Pipeline, PipelineRunner

    p = Pipeline("obs-fallback")

    @p.table(name="src")
    @p.expect_all({"pos": "v > 0"})
    def src(ctx):
        return ctx.spark.createDataFrame([(1,), (-1,)], "v int")

    runner = PipelineRunner(p, spark, mode="views")
    runner.run()
    assert "src" not in runner._observed
    rows = {
        r.expectation: (r.rows_checked, r.violations)
        for r in runner.expectation_metrics().collect()
    }
    assert rows == {"pos": (2, 1)}
