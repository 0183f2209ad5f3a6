"""Source/sink coverage: fixture tables read with their footer schema,
multi-format round-trips (csv/json/orc keep values and types under an
explicit schema), partitioned sinks, schema merging and malformed-row
handling."""

from __future__ import annotations

import glob
import itertools
import os

import pytest
from pyspark.sql import functions as F

from diabetes_etl_spark.sources.tables import (
    FIXTURE_TABLES,
    load_table,
    read_source,
    write_sink,
)
from perfbench.datagen import write_tables
from tests.conftest import SF_SMALL

# `events` has its own loader (ts is rebuilt from the raw int64)
FOOTER_TABLES = [t for t in FIXTURE_TABLES if t != "events"]
# every fixture scale factor present next to the default one
SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*")))
_GROUPS = itertools.count()


@pytest.fixture(scope="module")
def generated_dir(tmp_path_factory):
    """The benchmark generator's tables (pyarrow-written, seed 1)."""
    out = str(tmp_path_factory.mktemp("generated"))
    write_tables(out, 1, 0.001, 80)
    return out


def _jobs_started(spark, build):
    """Spark jobs started while ``build()`` runs, and its result."""
    sc = spark.sparkContext
    group = f"footer-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _assert_footer_read(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    jobs, df = _jobs_started(spark, lambda: load_table(spark, sf_dir, name))
    inferred_jobs, inferred = _jobs_started(
        spark, lambda: spark.read.parquet(path)
    )
    # the job count is seen: inference alone starts one
    assert inferred_jobs >= 1
    assert jobs == 0
    assert df.schema == inferred.schema


@pytest.mark.parametrize("name", FOOTER_TABLES)
@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_load_table_reads_footer_schema_without_a_job(spark, sf_dir, name):
    _assert_footer_read(spark, sf_dir, name)


def test_footer_schema_keeps_timestamp_ntz(spark, sf_dir):
    """Tz-naive parquet timestamps stay timestamp_ntz, as Spark's own
    inference gives them (``from_arrow_schema`` defaults to timestamp)."""
    types = {
        f.name: f.dataType.simpleString()
        for t in ("orders", "lineitem")
        for f in load_table(spark, sf_dir, t).schema
    }
    assert types["o_orderdate"] == "timestamp_ntz"
    assert types["l_shipdate"] == "timestamp_ntz"


@pytest.mark.parametrize("name", FOOTER_TABLES)
def test_load_table_footer_schema_on_generated_tables(
    spark, generated_dir, name
):
    _assert_footer_read(spark, generated_dir, name)


def test_load_table_reads_spark_written_directory(spark, sf_dir, tmp_path):
    """A Spark-written table directory: the first part file's footer,
    whose recorded Spark schema keeps a TimestampType column (written as
    INT96, which arrow reads as tz-naive) a timestamp."""
    out = str(tmp_path / "orders.parquet")
    orders = load_table(spark, sf_dir, "orders")
    orders.withColumn(
        "o_ordered_at", F.col("o_orderdate").cast("timestamp")
    ).repartition(3).write.parquet(out)
    _assert_footer_read(spark, str(tmp_path), "orders")
    back = load_table(spark, str(tmp_path), "orders")
    assert back.schema["o_ordered_at"].dataType.simpleString() == "timestamp"


@pytest.fixture(scope="module")
def lineitem_slice(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
            "l_returnflag", "l_shipdate",
        )
        .filter(F.col("l_orderkey") < 200)
    )


@pytest.mark.parametrize("fmt", ["csv", "json", "orc", "parquet"])
def test_format_round_trip(spark, tmp_path_factory, lineitem_slice, fmt):
    path = str(tmp_path_factory.mktemp("src") / f"rt_{fmt}")
    write_sink(lineitem_slice, path, fmt=fmt)
    back = read_source(spark, path, fmt=fmt, schema=lineitem_slice.schema)
    assert back.schema == lineitem_slice.schema
    want = sorted(map(tuple, lineitem_slice.collect()))
    got = sorted(map(tuple, back.collect()))
    assert got == want


def test_text_formats_require_schema(spark, tmp_path_factory, lineitem_slice):
    path = str(tmp_path_factory.mktemp("src") / "noschema")
    write_sink(lineitem_slice, path, fmt="csv")
    with pytest.raises(ValueError, match="explicit schema"):
        read_source(spark, path, fmt="csv")


def test_partitioned_sink_prunes(spark, tmp_path_factory, lineitem_slice):
    path = str(tmp_path_factory.mktemp("src") / "parted")
    write_sink(lineitem_slice, path, fmt="parquet", partition_by=("l_returnflag",))
    back = read_source(spark, path, fmt="parquet").filter(
        F.col("l_returnflag") == "R"
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition filter handled at listing time, not as a data filter
    assert back.count() == lineitem_slice.filter(F.col("l_returnflag") == "R").count()
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan


def test_merge_schema_reads_evolving_parquet(spark, tmp_path):
    """Schema evolution: files written before a column existed merge
    with later files (mergeSchema) — the additive-evolution contract a
    long-lived 100 TB table needs."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "k long, v string").write.mode(
        "append"
    ).parquet(out)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k long, v string, score double"
    ).write.mode("append").parquet(out)
    df = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(df.columns) == {"k", "v", "score"}
    rows = {r.k: r.score for r in df.collect()}
    assert rows == {1: None, 2: 9.5}


def test_csv_malformed_row_handling_modes(spark, tmp_path):
    """Ingest-side data quality: PERMISSIVE captures bad rows in
    _corrupt_record, DROPMALFORMED drops them, FAILFAST raises — the
    three contracts a bronze layer chooses between."""
    p = tmp_path / "dirty.csv"
    p.write_text("k,v\n1,10\nnot_an_int,20\n3,30\n")
    schema = "k int, v int, _corrupt_record string"
    permissive = read_source(
        spark, str(p), fmt="csv", schema=schema, mode="PERMISSIVE"
    )
    bad = permissive.filter("_corrupt_record IS NOT NULL").collect()
    assert len(bad) == 1 and "not_an_int" in bad[0]._corrupt_record
    dropped = read_source(
        spark, str(p), fmt="csv", schema="k int, v int", mode="DROPMALFORMED"
    )
    assert sorted(r.k for r in dropped.collect()) == [1, 3]
    import pytest as _pytest

    failfast = read_source(
        spark, str(p), fmt="csv", schema="k int, v int", mode="FAILFAST"
    )
    # pin the SPECIFIC failure (malformed-record abort), not any error
    with _pytest.raises(Exception, match="(?i)malformed"):
        failfast.collect()
