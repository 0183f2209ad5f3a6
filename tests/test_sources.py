"""Source/sink coverage: multi-format round-trips (csv/json/orc keep
values and types under an explicit schema), partitioned sinks, schema
merging and malformed-row handling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from diabetes_etl_spark.sources.tables import (
    load_table,
    read_source,
    write_sink,
)


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
