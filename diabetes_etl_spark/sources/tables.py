"""Fixture-table loaders.

The driver materializes a TPC-H-ish star schema plus `events`,
`documents`, `embeddings` at /root/testdata/sf*/ (see TESTDATA.md).
Loading is a plain columnar parquet scan — Catalyst pushes projections
and predicates into the scan, so query code should `.select`/`.filter`
eagerly and let pruning do its job at 100 TB.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return spark.read.parquet(path)


# The fixture's event schema (TESTDATA.md).  ts has been published both
# as parquet TIMESTAMP(NANOS) (which Spark's reader rejects outright)
# and TIMESTAMP(MICROS), depending on the generator version — so the
# loader probes the file footer for the actual unit instead of hard-
# coding one.  Requesting the column as a plain LongType reads the raw
# int64 in whatever unit the file stores, without touching any session
# conf (the earliest approach set spark.sql.legacy.parquet.nanosAsLong
# on the shared session and never restored it, silently changing every
# later nanos-parquet read).
_EVENTS_RAW_SCHEMA = (
    "event_id bigint, ts long, user_id bigint, "
    "event_type string, value double, props string"
)

# Physical-unit -> expression producing epoch MICROSECONDS from the raw
# int64.  Micros is the normalization target because both Spark
# TimestampType and DuckDB TIMESTAMP are microsecond-precision, so the
# two engines truncate identically.
_TS_UNIT_TO_MICROS = {
    "ns": "ts div 1000",
    "us": "ts",
    "ms": "ts * 1000",
    "s": "ts * 1000000",
}

def _events_ts_unit(path: str) -> str:
    """Probe the parquet footer (one driver-side metadata read — no data
    pages) for the ts column's physical time unit.  Deliberately
    UNCACHED: the fixture generator has published both NANOS and MICROS
    at the same path, so a process-lifetime cache would mis-scale ts by
    1000x if the file is regenerated under a live session; the footer
    read costs ~a stat call and happens once per query construction."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # Spark-written dataset (tests, derived fixtures): any part
        # file carries the shared schema
        parts = sorted(
            n for n in os.listdir(path) if n.endswith(".parquet")
        )
        if not parts:
            raise ValueError(f"no parquet part files under {path}")
        path = os.path.join(path, parts[0])
    unit = pq.read_schema(path).field("ts").type.unit
    if unit not in _TS_UNIT_TO_MICROS:
        raise ValueError(f"unsupported parquet timestamp unit {unit!r}")
    return unit


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Read the events fixture, rebuilding ts as a TimestampType at
    microsecond precision whatever unit the file physically stores."""
    raw = spark.read.schema(_EVENTS_RAW_SCHEMA).parquet(path)
    to_micros = _TS_UNIT_TO_MICROS[_events_ts_unit(path)]
    return raw.withColumn("ts", F.timestamp_micros(F.expr(to_micros)))


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming variant of the events loader (same unit probing).

    Spark's file stream source wants a directory; the fixture is a single
    parquet file, so it is exposed through a per-sf symlink directory.
    """
    path = os.path.join(sf_dir, "events.parquet")
    stream_dir = os.path.join(
        tempfile.gettempdir(), "spark_graft_stream", sf_dir.strip("/").replace("/", "_")
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    raw = (
        spark.readStream.format("parquet")
        .schema(_EVENTS_RAW_SCHEMA)
        # the symlink may point at a FILE (driver fixtures) or at a
        # Spark-written DIRECTORY of part files (tests, 10x probes);
        # without recursive lookup the directory case silently streams
        # ZERO rows — the same silent-data-loss class as the round-9
        # scratch-dir advice item
        .option("recursiveFileLookup", "true")
        .load(stream_dir)
    )
    to_micros = _TS_UNIT_TO_MICROS[_events_ts_unit(path)]
    return raw.withColumn("ts", F.timestamp_micros(F.expr(to_micros)))


_SOURCE_FORMATS = {
    "parquet": {},
    "orc": {},
    "csv": {"header": "true"},
    "json": {},
}


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options: str,
) -> DataFrame:
    """Generic batch source over the formats the engine supports.

    Schema inference is never the default for text formats: at 100 TB an
    inference pass scans the input twice (the reference disables it too,
    src/diabetes_etl_pipeline.py:67 "inferSchema","false") — callers pass
    an explicit StructType; parquet/orc carry their own schema.
    """
    fmt = fmt.lower()
    if fmt not in _SOURCE_FORMATS:
        raise ValueError(f"unsupported source format {fmt!r}")
    reader = spark.read.format(fmt).options(
        **{**_SOURCE_FORMATS[fmt], **options}
    )
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        raise ValueError(
            f"{fmt} source needs an explicit schema — inference would "
            "double-scan the input"
        )
    return reader.load(path)


def write_sink(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    **options: str,
) -> None:
    """Generic file sink; partition_by gives directory-level partition
    pruning to every downstream reader."""
    fmt = fmt.lower()
    if fmt not in _SOURCE_FORMATS:
        raise ValueError(f"unsupported sink format {fmt!r}")
    writer = df.write.format(fmt).mode(mode).options(
        **{**_SOURCE_FORMATS[fmt], **options}
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = FIXTURE_TABLES
) -> None:
    """Register fixture tables as temp views for the SQL entry point."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
