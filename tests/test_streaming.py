"""Structured Streaming behavior tests (SURVEY.md §5.4): exactly-once
incremental file ingestion with availableNow + checkpoint, the streaming
diabetes bronze through the pipeline engine, and stateful dedup.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from diabetes_etl_spark.context import RunContext
from diabetes_etl_spark.diabetes.pipeline_def import build_diabetes_pipeline
from diabetes_etl_spark.diabetes.schema import DIABETES_SCHEMA
from diabetes_etl_spark.pipeline.registry import PipelineRunner
from diabetes_etl_spark.sources.tables import load_events_stream, load_table
from diabetes_etl_spark.streaming.ingest import incremental_file_ingest, run_to_sink
from diabetes_etl_spark.streaming.ingest import stream_snapshot
from perfbench.datagen import write_pima_csv

CSV_DIR = "/root/reference/data"


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    """The reference Pima CSVs when present, else three generated
    128-row Pima-shaped files under the same names: the counts asserted
    below (128 rows per file) hold for either."""
    if os.path.isdir(CSV_DIR):
        return CSV_DIR
    out = tmp_path_factory.mktemp("pima")
    for i in range(3):
        write_pima_csv(str(out / f"diabetes_part_{i + 1}.csv"), 1, i, 128)
    return str(out)


def test_incremental_ingest_exactly_once(spark, tmp_path, csv_dir):
    src = tmp_path / "raw"
    out = tmp_path / "bronze"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def run_once():
        stream = incremental_file_ingest(spark, str(src), DIABETES_SCHEMA)
        run_to_sink(stream, str(out), str(ckpt))
        return spark.read.parquet(str(out)).count()

    shutil.copy(f"{csv_dir}/diabetes_part_1.csv", src / "part_1.csv")
    assert run_once() == 128

    # new file arrives → only the new file is ingested
    shutil.copy(f"{csv_dir}/diabetes_part_2.csv", src / "part_2.csv")
    assert run_once() == 256

    # re-run with no new files → no duplicates (exactly-once)
    assert run_once() == 256


def test_streaming_bronze_through_pipeline(spark, tmp_path, csv_dir):
    src = tmp_path / "raw"
    src.mkdir()
    for i in (1, 2, 3):
        shutil.copy(f"{csv_dir}/diabetes_part_{i}.csv", src / f"part_{i}.csv")
    ctx = RunContext(fixed_now="2024-06-01 12:00:00", fixed_run_id="stream-test")
    runner = PipelineRunner(
        build_diabetes_pipeline(str(src), ctx=ctx, streaming=True),
        spark,
        mode="warehouse",
        warehouse=str(tmp_path / "wh"),
    )
    bronze = runner.materialize("diabetes_bronze")
    assert bronze.count() == 384
    assert set(bronze.columns) >= {"file_name", "ingestion_timestamp", "Glucose"}
    silver = runner.materialize("diabetes_silver")
    assert silver.count() == 384
    # file_name audit column extracted per source file
    assert (
        bronze.select("file_name").distinct().count() == 3
    )


def test_streaming_watermark_dedup(spark, sf_dir):
    """dropDuplicatesWithinWatermark removes re-delivered events."""
    ev = load_events_stream(spark, sf_dir)
    doubled = ev.union(ev)  # simulate at-least-once redelivery
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    snap = stream_snapshot(spark, deduped)
    n = load_table(spark, sf_dir, "events").count()
    assert snap.count() == n


def test_streaming_sliding_window_counts(spark, sf_dir):
    """Streaming sliding-window agg equals the batch equivalent."""
    ev = load_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"))
    )
    snap = stream_snapshot(spark, agg, output_mode="complete")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"))
    )
    got = {(r["window"]["start"], r["n"]) for r in snap.collect()}
    want = {(r["window"]["start"], r["n"]) for r in batch.collect()}
    assert got == want


def test_stateful_profiles_accumulate_across_batches(spark, tmp_path, sf_dir):
    """applyInPandasWithState must carry per-key state between
    micro-batches: two files + maxFilesPerTrigger=1 -> two batches; the
    final profile must equal the batch aggregate over BOTH files, and a
    user seen in both batches must have been re-emitted with a larger
    cumulative count."""
    from diabetes_etl_spark.streaming.stateful import (
        latest_profiles,
        running_user_profiles,
    )
    from diabetes_etl_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    src = str(tmp_path / "events_src")
    half = events.filter(F.col("event_id") % 2 == 0)
    other = events.subtract(half)
    half.coalesce(1).write.parquet(src)
    other.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    snap = stream_snapshot(spark, running_user_profiles(stream),
                           output_mode="update")
    final = {
        r.user_id: (r.n_events, r.n_purchases)
        for r in latest_profiles(snap).collect()
    }
    expected = {
        r.user_id: (r.n_events, r.n_purchases)
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchases"),
        )
        .collect()
    }
    assert final == expected
    # at least one key emitted twice with growing count = state carried over
    emissions = snap.groupBy("user_id").count().filter("count >= 2").count()
    assert emissions > 0


def test_transform_with_state_gated_on_protobuf(spark, sf_dir):
    """The Spark-4 transformWithStateInPandas twin is env-gated: its
    wire protocol needs google.protobuf, absent here (COVERAGE.md).
    With the package present the operator runs the same profile logic
    as the applyInPandasWithState gate query; without it, it must
    raise the clear NotImplementedError, not the raw worker crash."""
    from diabetes_etl_spark.sources.tables import load_events_stream
    from diabetes_etl_spark.streaming.stateful import (
        running_user_profiles_tws,
        transform_with_state_available,
    )

    stream = load_events_stream(spark, sf_dir)
    if not transform_with_state_available():
        import pytest

        with pytest.raises(NotImplementedError, match="protobuf"):
            running_user_profiles_tws(stream)
        return
    from diabetes_etl_spark.streaming.ingest import stream_snapshot
    from diabetes_etl_spark.streaming.stateful import latest_profiles

    snap = stream_snapshot(
        spark, running_user_profiles_tws(stream), output_mode="update"
    )
    assert latest_profiles(snap).count() > 0


def test_incremental_aggregate_maintenance_equals_batch(spark, tmp_path, sf_dir):
    """Materialized-view maintenance: per-micro-batch partial
    aggregates merged into a VersionedTable (streaming/aggmaint.py)
    must land on exactly the batch groupBy of ALL events — history is
    never rescanned, yet the stored aggregate is indistinguishable
    from a full recompute."""
    from pyspark.sql import functions as F  # noqa: F811

    from diabetes_etl_spark.sources.tables import (
        load_events_stream,
        load_table,
    )
    from diabetes_etl_spark.sources.versioned import VersionedTable
    from diabetes_etl_spark.streaming.aggmaint import merge_partial_aggs

    store = VersionedTable(spark, str(tmp_path / "agg_store"))

    def refresh(batch, batch_id):
        merge_partial_aggs(store, batch, ["event_type"], ["value"])

    stream = load_events_stream(spark, sf_dir).select("event_type", "value")
    q = (
        stream.writeStream.foreachBatch(refresh)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r.event_type, r.n_rows, str(r.sum_value))
        for r in store.read().collect()
    )
    want = sorted(
        (r.event_type, r.n_rows, str(r.sum_value))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("value").cast("decimal(28,2)")).alias("sum_value"),
        )
        .collect()
    )
    assert got == want
    assert len(store.history()) >= 1  # at least one atomic refresh


def test_incremental_join_aggregate_maintenance_equals_batch(
    spark, tmp_path, sf_dir
):
    """Join-view maintenance (streaming/aggmaint.py:
    merge_join_partial_aggs): a (orders fact ⋈ customer dim) revenue-
    by-market-segment aggregate maintained from insert-only fact
    micro-batches must equal the batch recompute over ALL facts after
    every refresh — Δ(F ⋈ D) = ΔF ⋈ D, history never rescanned."""
    from pyspark.sql import functions as F  # noqa: F811

    from diabetes_etl_spark.sources.tables import load_table
    from diabetes_etl_spark.sources.versioned import VersionedTable
    from diabetes_etl_spark.streaming.aggmaint import (
        merge_join_partial_aggs,
    )

    orders = load_table(spark, sf_dir, "orders")
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    store = VersionedTable(spark, str(tmp_path / "join_agg_store"))

    # three insert-only micro-batches split deterministically
    batches = [orders.filter(F.col("o_orderkey") % 3 == k) for k in range(3)]
    seen = None
    for k, b in enumerate(batches):
        fact = b.select(
            F.col("o_custkey").alias("c_custkey"), "o_totalprice"
        )
        merge_join_partial_aggs(
            store, fact, dim, "c_custkey", ["c_mktsegment"],
            ["o_totalprice"],
        )
        seen = batches[: k + 1]
        want = sorted(
            (r.c_mktsegment, r.n_rows, str(r.sum_o_totalprice))
            for r in (
                seen[0] if k == 0
                else seen[0].unionByName(seen[1]) if k == 1
                else seen[0].unionByName(seen[1]).unionByName(seen[2])
            )
            .select(F.col("o_custkey").alias("c_custkey"), "o_totalprice")
            .join(dim, "c_custkey")
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias(
                    "sum_o_totalprice"
                ),
            )
            .collect()
        )
        got = sorted(
            (r.c_mktsegment, r.n_rows, str(r.sum_o_totalprice))
            for r in store.read().collect()
        )
        assert got == want, f"refresh {k} diverged from batch recompute"
    # atomic refresh history: one committed version per micro-batch
    assert len(store.history()) == 3


def test_join_aggregate_maintenance_broadcasts_dim(spark, tmp_path, sf_dir):
    """The refresh plan must broadcast the dimension by default — the
    delta join is shuffle-free (the maintenance cost is ∝ batch)."""
    from pyspark.sql import functions as F  # noqa: F811

    from diabetes_etl_spark.sources.tables import load_table
    from diabetes_etl_spark.streaming.aggmaint import partial_aggs

    orders = load_table(spark, sf_dir, "orders").limit(100)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    fact = orders.select(F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    enriched = fact.join(F.broadcast(dim), "c_custkey")
    plan = (
        partial_aggs(enriched, ["c_mktsegment"], ["o_totalprice"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cdc_aggregate_maintenance_handles_retractions(spark, tmp_path):
    """Insert/delete deltas (updates as D+I pairs) maintained into the
    store must equal the aggregate of the SURVIVING rows after every
    batch, and fully-retracted groups must vanish from the store."""
    from pyspark.sql import functions as F  # noqa: F811

    from diabetes_etl_spark.sources.versioned import VersionedTable
    from diabetes_etl_spark.streaming.aggmaint import merge_cdc_partial_aggs

    store = VersionedTable(spark, str(tmp_path / "cdc_agg"))
    schema = "k string, v double, op string"
    batches = [
        [("a", 10.0, "I"), ("a", 5.0, "I"), ("b", 3.0, "I")],
        # update a's 10.0 -> 12.5 (D old + I new); delete b's only row
        [("a", 10.0, "D"), ("a", 12.5, "I"), ("b", 3.0, "D")],
        [("c", 1.0, "I"), ("a", 5.0, "D")],
    ]
    live: list[tuple[str, float]] = []
    for rows in batches:
        merge_cdc_partial_aggs(
            store, spark.createDataFrame(rows, schema), ["k"], "op", ["v"]
        )
        for k, v, op in rows:
            if op == "I":
                live.append((k, v))
            else:
                live.remove((k, v))
        got = sorted(
            (r.k, r.n_rows, str(r.sum_v)) for r in store.read().collect()
        )
        want = {}
        for k, v in live:
            n, s = want.get(k, (0, 0.0))
            want[k] = (n + 1, s + v)
        want_rows = sorted(
            (k, n, f"{s:.2f}") for k, (n, s) in want.items() if n > 0
        )
        assert got == want_rows
    # 'b' fully retracted: absent, not a zero row
    assert "b" not in {r.k for r in store.read().collect()}


def test_cdc_aggregate_maintenance_rejects_unknown_ops(spark, tmp_path):
    import pytest as _pytest

    from diabetes_etl_spark.sources.versioned import VersionedTable
    from diabetes_etl_spark.streaming.aggmaint import merge_cdc_partial_aggs

    store = VersionedTable(spark, str(tmp_path / "cdc_agg_bad"))
    df = spark.createDataFrame(
        [("a", 1.0, "UPSERT")], "k string, v double, op string"
    )
    with _pytest.raises(ValueError, match="unknown op code"):
        merge_cdc_partial_aggs(store, df, ["k"], "op", ["v"])


def test_ingest_quarantines_malformed_rows(spark, tmp_path):
    """PERMISSIVE + corrupt_record_col: bad CSV lines land in the
    quarantine column with clean fields NULL; good rows parse; the
    stream completes (a poison row must never kill ingestion)."""
    from pyspark.sql import functions as F  # noqa: F811
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
    )

    from diabetes_etl_spark.streaming.ingest import (
        incremental_file_ingest,
        stream_snapshot,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.csv").write_text("a,b\n1,2\nnot_an_int,9\n3,4\n")
    schema = StructType(
        [StructField("a", IntegerType()), StructField("b", IntegerType())]
    )
    df = incremental_file_ingest(
        spark,
        str(src),
        schema,
        with_audit_columns=False,
        corrupt_record_col="_bad",
    )
    out = stream_snapshot(spark, df).collect()
    good = sorted((r.a, r.b) for r in out if r._bad is None)
    bad = [r._bad for r in out if r._bad is not None]
    assert good == [(1, 2), (3, 4)]
    assert bad == ["not_an_int,9"]
    # caller schema must not have been mutated by the quarantine column
    assert [f.name for f in schema.fields] == ["a", "b"]


def test_ingest_dropmalformed_and_guards(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql.types import IntegerType, StructField, StructType

    from diabetes_etl_spark.streaming.ingest import (
        incremental_file_ingest,
        stream_snapshot,
    )

    src = tmp_path / "in2"
    src.mkdir()
    (src / "a.csv").write_text("a,b\n1,2\nbroken_row_xyz\n3,4\n")
    schema = StructType(
        [StructField("a", IntegerType()), StructField("b", IntegerType())]
    )
    df = incremental_file_ingest(
        spark, str(src), schema, with_audit_columns=False,
        mode="DROPMALFORMED",
    )
    got = sorted((r.a, r.b) for r in stream_snapshot(spark, df).collect())
    assert got == [(1, 2), (3, 4)]
    with _pytest.raises(ValueError, match="unknown parser mode"):
        incremental_file_ingest(spark, str(src), schema, mode="YOLO")
    with _pytest.raises(ValueError, match="requires PERMISSIVE"):
        incremental_file_ingest(
            spark, str(src), schema, mode="FAILFAST",
            corrupt_record_col="_bad",
        )


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER interval join: matched
    pairs join; an impression with no click inside its interval is
    EMITTED WITH NULLS once a LATER micro-batch advances the watermark
    past its window end — the state-eviction semantics inner joins
    never exercise (outer results flush on the NEXT batch, so the test
    drives two availableNow runs over one checkpoint)."""
    from pyspark.sql import functions as F  # noqa: F811

    left_dir = tmp_path / "imps"
    right_dir = tmp_path / "clicks"
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    left_dir.mkdir()
    right_dir.mkdir()
    (left_dir / "b1.csv").write_text("imp_id,user,ts\n1,u1,10\n2,u2,20\n")
    (right_dir / "b1.csv").write_text("click_user,cts\nu1,15\n")

    def run_once():
        imps = (
            spark.readStream.format("csv")
            .schema("imp_id int, user string, ts long")
            .option("header", "true")
            .load(str(left_dir))
            .select(
                "imp_id", "user",
                F.col("ts").cast("timestamp").alias("imp_time"),
            )
            .withWatermark("imp_time", "5 seconds")
        )
        clicks = (
            spark.readStream.format("csv")
            .schema("click_user string, cts long")
            .option("header", "true")
            .load(str(right_dir))
            .select(
                "click_user",
                F.col("cts").cast("timestamp").alias("click_time"),
            )
            .withWatermark("click_time", "5 seconds")
        )
        joined = imps.join(
            clicks,
            (F.col("user") == F.col("click_user"))
            & (F.col("click_time") >= F.col("imp_time"))
            & (
                F.col("click_time")
                <= F.col("imp_time") + F.expr("INTERVAL 30 SECONDS")
            ),
            "leftOuter",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # batch 2: watermark-advancing rows on BOTH sides flush the
    # unmatched impression's state as a NULL-extended result
    (left_dir / "b2.csv").write_text("imp_id,user,ts\n99,wm,500\n")
    (right_dir / "b2.csv").write_text("click_user,cts\nwmc,500\n")
    run_once()

    rows = {
        r.imp_id: (r.click_user, str(r.click_time) if r.click_time else None)
        for r in spark.read.parquet(out_dir).collect()
        if r.imp_id in (1, 2)
    }
    assert rows[1][0] == "u1"  # matched within the interval
    assert rows[2] == (None, None)  # unmatched, flushed with NULLs
