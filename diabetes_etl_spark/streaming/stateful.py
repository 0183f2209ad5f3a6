"""Custom stateful streaming operator via applyInPandasWithState —
the extension tier's arbitrary-state example (SURVEY.md §7.5; no
reference counterpart: the reference pipeline is processing-time only).

Pattern: per-key mutable state that survives across micro-batches,
updated from Arrow-batched pandas frames.  This is the Spark-native
shape for operators that windowed aggregation can't express (running
profiles, custom sessionization, online sketches).  State stays small
and fixed-width per key; each micro-batch emits the refreshed profile
row for keys it touched (update mode).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUT_SCHEMA = (
    "user_id long, n_events long, n_purchases long, max_value double, "
    "last_ts_micros long"
)
_STATE_SCHEMA = (
    "n_events long, n_purchases long, max_value double, last_ts_micros long"
)


def _update_user_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, n_p, mx, last = state.get
    else:
        n, n_p, mx, last = 0, 0, None, None
    for pdf in pdfs:
        n += len(pdf)
        n_p += int((pdf["event_type"] == "purchase").sum())
        bmax = pdf["value"].max(skipna=True)
        if pd.notna(bmax):
            mx = float(bmax) if mx is None else max(mx, float(bmax))
        blast = pdf["ts"].max()
        if pd.notna(blast):
            micros = blast.value // 1000  # pandas ns -> micros
            last = micros if last is None else max(last, micros)
    state.update((n, n_p, mx, last))
    yield pd.DataFrame(
        [(user_id, n, n_p, mx, last)],
        columns=[
            "user_id", "n_events", "n_purchases", "max_value",
            "last_ts_micros",
        ],
    )


def running_user_profiles(events_stream: DataFrame) -> DataFrame:
    """Per-user running profile maintained as arbitrary streaming state.

    Counts and extrema only — deterministic under any batch/row order,
    so on bounded input the final state per key equals the batch
    groupBy (asserted against the DuckDB oracle and in
    tests/test_streaming.py).
    """
    return (
        events_stream.select("user_id", "event_type", "value", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_profile,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def latest_profiles(snapshot: DataFrame) -> DataFrame:
    """Collapse the update-mode emission log to the newest row per key
    (n_events is cumulative, so max(n_events) identifies it)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        snapshot.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# -- online Misra-Gries heavy-hitter state (round 10) ------------------------

_MG_OUT_SCHEMA = (
    "event_type string, uids array<long>, counts array<long>, n_total long"
)
_MG_STATE_SCHEMA = (
    "uids array<long>, counts array<long>, n_total long"
)
_MG_K = 512


def _mg_updater(k: int):
    """Build the per-key state-update function for a given summary
    capacity (parameterized so tests can force the eviction path with
    a tiny k)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (etype,) = key
        if state.exists:
            uids, counts, n_total = state.get
            c = dict(zip(uids, counts))
        else:
            c, n_total = {}, 0
        for pdf in pdfs:
            n_total += len(pdf)
            for uid, cnt in pdf["user_id"].value_counts().items():
                c[int(uid)] = c.get(int(uid), 0) + int(cnt)
            if len(c) > k:
                # mergeable-summaries merge (Agarwal et al. 2012):
                # subtract the (k+1)-th largest count from everyone,
                # drop <= 0 — keeps the summary at k entries with
                # additive error bounded by n/k, and absent keys
                # provably have count <= n/k
                thr = sorted(c.values(), reverse=True)[k]
                c = {u: v - thr for u, v in c.items() if v - thr > 0}
        state.update((list(c.keys()), list(c.values()), n_total))
        yield pd.DataFrame(
            [(etype, list(c.keys()), list(c.values()), n_total)],
            columns=["event_type", "uids", "counts", "n_total"],
        )

    return update


def running_mg_heavy_users(events_stream: DataFrame, k: int = _MG_K) -> DataFrame:
    """Online Misra-Gries summary of per-user activity per event type —
    the ONLINE SKETCH case of this module's pattern: state is a
    bounded (k = 512 entries) array-typed summary, never the full
    per-user count table, so a key whose user cardinality grows
    without bound still holds O(k) state.  At fixture scale k covers
    every distinct user, so the final summary counts are EXACT and
    the batch groupBy oracle applies (the covering-parameter
    discipline of sketch_kmv_event_overlap); the eviction path is
    exercised separately in tests with a tiny k.
    """
    return (
        events_stream.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            _mg_updater(k),
            outputStructType=_MG_OUT_SCHEMA,
            stateStructType=_MG_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
