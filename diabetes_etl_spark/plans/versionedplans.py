"""Registered query over the versioned table (sources/versioned.py):
build a table through overwrite → append → delete_where commits, then
read THREE versions back (time travel) plus one stats-pruned range
read, and aggregate each — the oracle replays every version's file
list as plain SQL predicates over the raw lineitem fixture.

The reference's tables are Delta (COVERAGE.md records the failed
delta-spark install); this query proves the native manifest-committed
stand-in end-to-end under the gate's hash comparison: if a commit
leaked rows across versions, pruned a file it shouldn't, or failed to
carry an untouched file by reference, the per-version counts/sums here
would diverge from the oracle.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.functions.numeric import dec_sum, sql_dec_sum
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

_V1_CUT = "1996-01-01"
_V2_CUT = "1997-01-01"
_DEL_KEY = 1000
_PRUNE_LO, _PRUNE_HI = 2000, 3000


def _agg(df: DataFrame, tag: str) -> DataFrame:
    return df.agg(
        F.count("*").alias("n_rows"),
        dec_sum(F.col("l_quantity"), 2).alias("sum_qty"),
    ).select(F.lit(tag).alias("snapshot"), "n_rows", "sum_qty")


@register(
    "versioned_time_travel",
    oracle=f"""
SELECT 'v1' AS snapshot, COUNT(*) AS n_rows,
  {sql_dec_sum("l_quantity", 2)} AS sum_qty
FROM lineitem WHERE l_shipdate < TIMESTAMP '{_V1_CUT}'
UNION ALL
SELECT 'v2', COUNT(*), {sql_dec_sum("l_quantity", 2)}
FROM lineitem WHERE l_shipdate < TIMESTAMP '{_V2_CUT}'
UNION ALL
SELECT 'v3', COUNT(*), {sql_dec_sum("l_quantity", 2)}
FROM lineitem
WHERE l_shipdate < TIMESTAMP '{_V2_CUT}' AND l_orderkey >= {_DEL_KEY}
UNION ALL
SELECT 'v2_pruned', COUNT(*), {sql_dec_sum("l_quantity", 2)}
FROM lineitem
WHERE l_shipdate < TIMESTAMP '{_V2_CUT}'
  AND l_orderkey BETWEEN {_PRUNE_LO} AND {_PRUNE_HI}
ORDER BY snapshot
""",
    doc="Versioned-table round trip: v1 overwrite (pre-1996 lineitems), "
    "v2 append (1996 lineitems), v3 delete_where (l_orderkey < 1000, "
    "rewriting only stats-matching files), then time-travel reads of "
    "all three versions plus a manifest-pruned range read of v2 — "
    "each aggregated and hash-compared against the equivalent "
    "predicate replay on the raw fixture.",
    tags=("versioned", "time-travel", "extension"),
    extended=True,
)
def versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.sources.versioned import VersionedTable

    # per-invocation private workspace; cleanup deferred to process
    # exit because the returned DataFrame reads the target lazily
    # (same contract as cdc_scd1_user_state)
    base = tempfile.mkdtemp(prefix="spark_graft_versioned_")
    atexit.register(shutil.rmtree, base, True)
    vt = VersionedTable(
        spark, os.path.join(base, "tbl"), stats_cols=("l_orderkey",)
    )
    li = load_table(spark, sf_dir, "lineitem")
    vt.overwrite(
        li.filter(F.col("l_shipdate") < F.lit(_V1_CUT).cast("timestamp"))
    )
    vt.append(
        li.filter(
            (F.col("l_shipdate") >= F.lit(_V1_CUT).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_V2_CUT).cast("timestamp"))
        )
        # several files per append → the range read below actually
        # exercises manifest-level file skipping, not a 1-file no-op
        .repartitionByRange(4, "l_orderkey")
    )
    vt.delete_where(f"l_orderkey < {_DEL_KEY}")
    parts = [
        _agg(vt.read(version_as_of=1), "v1"),
        _agg(vt.read(version_as_of=2), "v2"),
        _agg(vt.read(version_as_of=3), "v3"),
        _agg(vt.read(version_as_of=2, between=("l_orderkey", _PRUNE_LO, _PRUNE_HI)), "v2_pruned"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("snapshot")


@register(
    "versioned_change_feed",
    # The feed of the same overwrite -> append -> delete_where commit
    # sequence: v2's changes are the appended 1996 rows (insert), v3's
    # are the deleted low-key rows (delete).  The oracle replays both
    # sets as plain predicates over the raw fixture — if the feed read
    # a carried-over file, dropped a rewritten file's surviving rows'
    # cancellation, or mislabeled a change, counts/sums here diverge.
    oracle=f"""
SELECT 2 AS commit_version, 'insert' AS change_type,
  COUNT(*) AS n_rows, {sql_dec_sum("l_quantity", 2)} AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{_V1_CUT}'
  AND l_shipdate < TIMESTAMP '{_V2_CUT}'
UNION ALL
SELECT 3, 'delete', COUNT(*), {sql_dec_sum("l_quantity", 2)}
FROM lineitem
WHERE l_shipdate < TIMESTAMP '{_V2_CUT}' AND l_orderkey < {_DEL_KEY}
ORDER BY commit_version
""",
    doc="Row-level change feed over the versioned table "
    "(sources/versioned.py:table_changes — the Delta CDF analogue): "
    "after overwrite/append/delete_where commits, the feed from v1 "
    "emits the append's rows as inserts and the delete's rows as "
    "deletes, aggregated per (commit, change_type).  Files common to "
    "consecutive manifests cancel by multiset algebra and are never "
    "read (cost ∝ churn — asserted in tests/test_versioned.py); "
    "rewritten files' surviving rows cancel in exceptAll.  The "
    "delete+insert shape feeds merge_cdc_partial_aggs directly for "
    "incremental view maintenance off the feed.",
    tags=("versioned", "cdc", "extension"),
    extended=True,
)
def versioned_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.sources.versioned import VersionedTable

    base = tempfile.mkdtemp(prefix="spark_graft_vcdf_")
    atexit.register(shutil.rmtree, base, True)
    vt = VersionedTable(
        spark, os.path.join(base, "tbl"), stats_cols=("l_orderkey",)
    )
    li = load_table(spark, sf_dir, "lineitem")
    vt.overwrite(
        li.filter(F.col("l_shipdate") < F.lit(_V1_CUT).cast("timestamp"))
    )
    vt.append(
        li.filter(
            (F.col("l_shipdate") >= F.lit(_V1_CUT).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_V2_CUT).cast("timestamp"))
        ).repartitionByRange(4, "l_orderkey")
    )
    vt.delete_where(f"l_orderkey < {_DEL_KEY}")
    feed = vt.table_changes(1)
    return (
        feed.groupBy(
            F.col("_commit_version").cast("int").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            dec_sum(F.col("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("commit_version")
    )


@register(
    "versioned_metadata_agg",
    # COUNT/MIN/MAX per version answered from the MANIFEST ALONE
    # (VersionedTable.metadata_aggregates — zero data files opened at
    # answer time); the oracle recomputes the same numbers the hard
    # way from the raw fixture.  A stale carried file, a rewrite that
    # failed to re-derive footer stats, or a delete that left ghost
    # rows would diverge here.
    oracle=f"""
SELECT 'v1' AS snapshot, COUNT(*) AS n_rows,
  MIN(l_orderkey) AS min_okey, MAX(l_orderkey) AS max_okey,
  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
FROM lineitem WHERE l_shipdate < TIMESTAMP '{_V1_CUT}'
UNION ALL
SELECT 'v2', COUNT(*), MIN(l_orderkey), MAX(l_orderkey),
  MIN(l_quantity), MAX(l_quantity)
FROM lineitem WHERE l_shipdate < TIMESTAMP '{_V2_CUT}'
UNION ALL
SELECT 'v3', COUNT(*), MIN(l_orderkey), MAX(l_orderkey),
  MIN(l_quantity), MAX(l_quantity)
FROM lineitem
WHERE l_shipdate < TIMESTAMP '{_V2_CUT}' AND l_orderkey >= {_DEL_KEY}
ORDER BY snapshot
""",
    doc="Metadata-only aggregates (the Delta/Iceberg manifest-served "
    "COUNT/MIN/MAX optimization): the same overwrite -> append -> "
    "delete_where commit sequence as versioned_time_travel, but every "
    "per-version answer comes from VersionedTable.metadata_aggregates "
    "— manifest file entries only, no parquet opened at answer time; "
    "at 100 TB this is a manifest read replacing a full scan for the "
    "commonest dashboard probes.  Exact because every mutation "
    "rewrites affected files and re-derives their footer stats.",
    tags=("versioned", "metadata", "extension"),
    extended=True,
)
def versioned_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.sources.versioned import VersionedTable

    base = tempfile.mkdtemp(prefix="spark_graft_vmeta_")
    atexit.register(shutil.rmtree, base, True)
    vt = VersionedTable(
        spark,
        os.path.join(base, "tbl"),
        stats_cols=("l_orderkey", "l_quantity"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    vt.overwrite(
        li.filter(F.col("l_shipdate") < F.lit(_V1_CUT).cast("timestamp"))
    )
    vt.append(
        li.filter(
            (F.col("l_shipdate") >= F.lit(_V1_CUT).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_V2_CUT).cast("timestamp"))
        ).repartitionByRange(4, "l_orderkey")
    )
    vt.delete_where(f"l_orderkey < {_DEL_KEY}")
    rows = []
    for v, tag in [(1, "v1"), (2, "v2"), (3, "v3")]:
        m = vt.metadata_aggregates(version=v)
        ok, qty = m["stats"]["l_orderkey"], m["stats"]["l_quantity"]
        rows.append(
            (tag, m["n_rows"], int(ok[0]), int(ok[1]),
             float(qty[0]), float(qty[1]))
        )
    return spark.createDataFrame(
        rows,
        "snapshot string, n_rows long, min_okey long, max_okey long, "
        "min_qty double, max_qty double",
    ).orderBy("snapshot")


_DS_CUT = 7500
_DS_LO, _DS_HI = 2000, 3000


@register(
    "versioned_datasource_scan",
    oracle=f"""
SELECT 'v1' AS snapshot, COUNT(*) AS n_rows,
  {sql_dec_sum("l_quantity", 2)} AS sum_qty
FROM lineitem WHERE l_orderkey < {_DS_CUT}
UNION ALL
SELECT 'v2', COUNT(*), {sql_dec_sum("l_quantity", 2)}
FROM lineitem
UNION ALL
SELECT 'v1_pruned', COUNT(*), {sql_dec_sum("l_quantity", 2)}
FROM lineitem
WHERE l_orderkey < {_DS_CUT}
  AND l_orderkey BETWEEN {_DS_LO} AND {_DS_HI}
ORDER BY snapshot
""",
    doc="The versioned table read through a Spark 4 PYTHON DATA "
    "SOURCE (sources/vds.py): spark.read.format('versioned') resolves "
    "one manifest at planning time (snapshot isolation), emits one "
    "InputPartition per manifest file (file-parallel like a native "
    "scan), serves executor-side pyarrow batches, and pushes =/range "
    "predicates into MANIFEST [min,max] pruning via the DSv2-python "
    "pushFilters hook — every filter is also returned unsupported so "
    "Spark re-applies it row-level (pruning stays cost-only, the "
    "versioned table's standing rule).  Three reads: versionAsOf=1, "
    "latest, and a range-filtered v1 whose disjoint files never open; "
    "the oracle replays each as predicates on the raw fixture.  The "
    "Delta-format interop surface (format-string reads) the "
    "env-blocked delta-spark would have provided.",
    tags=("versioned", "datasource", "source", "extension", "headline"),
    extended=True,
)
def versioned_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.sources.vds import register_versioned_source
    from diabetes_etl_spark.sources.versioned import VersionedTable

    register_versioned_source(spark)
    base = tempfile.mkdtemp(prefix="spark_graft_vds_")
    atexit.register(shutil.rmtree, base, True)
    path = os.path.join(base, "tbl")
    vt = VersionedTable(spark, path, stats_cols=("l_orderkey",))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    vt.overwrite(
        li.filter(F.col("l_orderkey") < _DS_CUT)
        .repartitionByRange(4, "l_orderkey")
    )
    vt.append(li.filter(F.col("l_orderkey") >= _DS_CUT))

    def rd(**opts):
        r = spark.read.format("versioned").option("path", path)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    parts = [
        _agg(rd(versionAsOf="1"), "v1"),
        _agg(rd(), "v2"),
        _agg(
            rd(versionAsOf="1").filter(
                F.col("l_orderkey").between(_DS_LO, _DS_HI)
            ),
            "v1_pruned",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("snapshot")


@register(
    "stream_versioned_source",
    oracle=f"""
SELECT 'run1' AS phase, COUNT(*) AS n_rows,
  {sql_dec_sum("l_quantity", 2)} AS sum_qty
FROM lineitem WHERE l_orderkey < {_DS_CUT}
UNION ALL
SELECT 'total', COUNT(*), {sql_dec_sum("l_quantity", 2)}
FROM lineitem
ORDER BY phase
""",
    doc="The versioned table as a STREAMING source "
    "(sources/vds.py:VersionedStreamReader — the Delta streaming-"
    "source analogue through Spark 4's Python DataSourceStreamReader): "
    "offsets are manifest versions, each microbatch reads exactly the "
    "files ADDED between offsets (path set-difference on metadata "
    "only — a 100 TB history costs a batch only its churn), and the "
    "offset checkpoints through Spark's offset log.  The query runs "
    "one availableNow drain of a 2-commit table into a parquet sink, "
    "appends a third commit, drains AGAIN over the SAME checkpoint, "
    "and aggregates the sink after each phase: run1 must hold exactly "
    "commits 1-2 and the final sink exactly all three — any re-read "
    "or loss across the restart hash-mismatches the oracle.  "
    "Delete/rewrite commits raise unless ignoreChanges=true (the "
    "Delta contract; tested in tests/test_vds.py).",
    tags=("streaming", "versioned", "datasource", "extension", "headline"),
)
def stream_versioned_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.sources.vds import register_versioned_source
    from diabetes_etl_spark.sources.versioned import VersionedTable

    register_versioned_source(spark)
    base = tempfile.mkdtemp(prefix="spark_graft_vds_stream_")
    atexit.register(shutil.rmtree, base, True)
    path = os.path.join(base, "tbl")
    sink = os.path.join(base, "sink")
    ck = os.path.join(base, "ck")
    vt = VersionedTable(spark, path)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    half = _DS_CUT // 2
    vt.overwrite(li.filter(F.col("l_orderkey") < half))
    vt.append(
        li.filter(
            (F.col("l_orderkey") >= half) & (F.col("l_orderkey") < _DS_CUT)
        )
    )

    def drain() -> None:
        sdf = (
            spark.readStream.format("versioned")
            .option("path", path)
            .load()
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    run1 = (
        spark.read.parquet(sink)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("l_quantity"), 2).alias("sum_qty"),
        )
        .select(F.lit("run1").alias("phase"), "n_rows", "sum_qty")
        .collect()[0]
    )
    vt.append(li.filter(F.col("l_orderkey") >= _DS_CUT))
    drain()
    total = (
        spark.read.parquet(sink)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            dec_sum(F.col("l_quantity"), 2).alias("sum_qty"),
        )
        .select(F.lit("total").alias("phase"), "n_rows", "sum_qty")
    )
    run1_df = spark.createDataFrame([tuple(run1)], total.schema)
    return run1_df.unionByName(total).orderBy("phase")
