"""Temporal SCD2 joins (operators/temporal.py): interval containment,
boundary convention (start inclusive / end exclusive), open current
versions, pre-history facts, and snapshots."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.temporal import temporal_join


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def _history(spark):
    # user 1: v10 [01:00, 02:00), v20 [02:00, open); user 2: v99 [03:00, open)
    return spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01T01:00:00"), _ts("2024-01-01T02:00:00")),
            (1, 20, _ts("2024-01-01T02:00:00"), None),
            (2, 99, _ts("2024-01-01T03:00:00"), None),
        ],
        "user_id long, state int, __start_at timestamp, __end_at timestamp",
    )


def test_temporal_join_picks_version_valid_at_fact_time(spark):
    facts = spark.createDataFrame(
        [
            (1, 100, _ts("2024-01-01T01:30:00")),  # inside v10
            (1, 101, _ts("2024-01-01T05:00:00")),  # open v20
            (1, 102, _ts("2024-01-01T00:30:00")),  # before any version
            (2, 103, _ts("2024-01-01T03:00:00")),  # exactly at start
        ],
        "user_id long, event_id long, ts timestamp",
    )
    out = {
        r.event_id: r.state
        for r in temporal_join(facts, _history(spark), ["user_id"], "ts").collect()
    }
    assert out == {100: 10, 101: 20, 102: None, 103: 99}


def test_temporal_join_boundary_belongs_to_newer_version(spark):
    facts = spark.createDataFrame(
        [(1, 200, _ts("2024-01-01T02:00:00"))],
        "user_id long, event_id long, ts timestamp",
    )
    rows = temporal_join(facts, _history(spark), ["user_id"], "ts").collect()
    assert len(rows) == 1  # intervals partition time: exactly one match
    assert rows[0].state == 20  # start inclusive, end exclusive


def test_temporal_join_inner_drops_prehistory_facts(spark):
    facts = spark.createDataFrame(
        [(1, 300, _ts("2024-01-01T00:10:00"))],
        "user_id long, event_id long, ts timestamp",
    )
    assert (
        temporal_join(
            facts, _history(spark), ["user_id"], "ts", how="inner"
        ).count()
        == 0
    )
    with pytest.raises(ValueError, match="how"):
        temporal_join(facts, _history(spark), ["user_id"], "ts", how="full")


def test_temporal_join_plan_is_single_equi_join(spark):
    facts = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01T01:30:00"))],
        "user_id long, event_id long, ts timestamp",
    )
    plan = (
        temporal_join(facts, _history(spark), ["user_id"], "ts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the interval predicate rides the equi-join as a residual — no
    # cartesian/range-explode anywhere
    assert "CartesianProduct" not in plan
    assert plan.count("Join") >= 1


def test_twa_hand_case_step_interpolation(spark):
    """TWA of a step series: value 10 held 3s then 20 held 1s ->
    (10*3 + 20*1)/4 = 12.5; the last observation is open-ended and
    excluded from weighting."""
    from datetime import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        (1, 1, datetime(2024, 1, 1, 0, 0, 0), 10.0),
        (1, 2, datetime(2024, 1, 1, 0, 0, 3), 20.0),
        (1, 3, datetime(2024, 1, 1, 0, 0, 4), 99.0),  # open-ended
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = df.select(
        "user_id", "value",
        (F.unix_micros(F.lead("ts").over(w))
         - F.unix_micros(F.col("ts"))).alias("dur_us"),
    )
    agg = seg.groupBy("user_id").agg(
        F.sum(F.when(F.col("dur_us").isNotNull(),
                     (F.col("value") * F.col("dur_us"))
                     .cast("decimal(38,2)"))
              .otherwise(F.lit(0).cast("decimal(38,2)"))).alias("wsum"),
        F.sum(F.when(F.col("dur_us").isNotNull(), F.col("dur_us"))
              .otherwise(0)).alias("tot"),
    ).collect()[0]
    assert float(agg["wsum"]) / agg["tot"] == 12.5
