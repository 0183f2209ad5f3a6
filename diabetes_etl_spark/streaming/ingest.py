"""Incremental, exactly-once file ingestion — the OSS replacement for the
reference's Databricks Autoloader bronze ingest (SURVEY.md §2.8;
reference: src/diabetes_etl_pipeline.py:57-74).

Structured Streaming's file source keeps a processed-file log in the
checkpoint, so re-running with the same checkpoint ingests only new
files ("new files processed exactly once"); `trigger(availableNow=True)`
bounds each run ("halts after reading available files").  Audit columns
mirror the reference bronze: ingestion timestamp/date and the source
file name extracted from `_metadata.file_path` (pipeline:70-73).
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def incremental_file_ingest(
    spark: SparkSession,
    src_dir: str,
    schema: StructType,
    fmt: str = "csv",
    header: bool = True,
    with_audit_columns: bool = True,
    mode: str = "PERMISSIVE",
    corrupt_record_col: str | None = None,
) -> DataFrame:
    """Build the streaming bronze DataFrame (not yet started).

    Malformed-row policy (``mode``, csv/json only — the parser modes
    Spark defines): ``PERMISSIVE`` (default) NULL-fills unparseable
    fields and, when ``corrupt_record_col`` is given, lands the raw
    malformed line in that column so bad input is QUARANTINED, not
    silently lost — at ingest scale a poison row must neither kill the
    stream (FAILFAST's behavior, available when a hard gate is wanted)
    nor vanish (``DROPMALFORMED``'s, for by-design-lossy feeds).  The
    corrupt column is appended to the declared schema here; callers
    route rows where it IS NOT NULL to a dead-letter table and drop it
    from the clean path."""
    if mode not in ("PERMISSIVE", "DROPMALFORMED", "FAILFAST"):
        raise ValueError(f"unknown parser mode {mode!r}")
    if corrupt_record_col:
        if mode != "PERMISSIVE":
            raise ValueError(
                "corrupt_record_col requires PERMISSIVE mode (the other "
                "modes never emit the corrupt row)"
            )
        from pyspark.sql.types import StringType, StructField

        # copy — StructType.add mutates in place, and the caller's
        # schema object is not ours to grow
        schema = StructType(
            list(schema.fields)
            + [StructField(corrupt_record_col, StringType())]
        )
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        # schema inference explicitly disabled, like the reference
        # (pipeline:67-68): the declared schema is the contract.
        reader = reader.option("header", str(header).lower()).option(
            "inferSchema", "false"
        )
    if fmt in ("csv", "json"):
        reader = reader.option("mode", mode)
        if corrupt_record_col:
            reader = reader.option(
                "columnNameOfCorruptRecord", corrupt_record_col
            )
    df = reader.load(src_dir)
    if with_audit_columns:
        df = (
            df.withColumn("ingestion_timestamp", F.current_timestamp())
            .withColumn("source_file", F.col("_metadata.file_path"))
            .withColumn("ingestion_date", F.current_date())
            .withColumn(
                "file_name",
                F.regexp_extract(F.col("_metadata.file_path"), r"([^/]+)\.\w+$", 1),
            )
        )
    return df


def stream_snapshot(
    spark: SparkSession,
    stream_df: DataFrame,
    output_mode: str = "append",
) -> DataFrame:
    """Drive a (bounded) streaming query to completion through a memory
    sink and return the result as a batch DataFrame.  Test/demo helper:
    lets the correctness gate exercise real Structured Streaming plans
    synchronously on local fixtures.
    """
    name = f"snap_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
