"""Round state of the iterative driver-loop operators: pagerank,
personalized pagerank, label propagation and k-core peeling
(operators/graph.py), connected components and its star variant
(operators/components.py), k-means (operators/clustering.py) and PQ
training (operators/pq.py).

Each of them materializes its state once per round, so round k's plan
reads a snapshot instead of replaying rounds 1..k-1 (without that the
lineage, and the plan, grow quadratically).  :class:`RoundStore` holds
that state in one of two media, chosen only by whether the operator
was given a ``work_dir``.

Durable (``work_dir`` given): committed parquet under ``work_dir``.

- ``snapshot(name, df)`` writes ``<work_dir>/<name>`` once and reads it
  back.  A committed snapshot is reused, so an expensive upstream (a
  pair pipeline, an embedding scan) runs once, across restarts too.
- ``commit(k, df)`` writes round k to ``<work_dir>/<prefix>_<k:05d>``,
  coalesced to the store's partition cap (O(nodes) state);
  ``commit_rows(k, df)`` writes it as one file (bounded centroid
  state).  Both read the round back.  ``commit_observed(k, df,
  **metrics)`` is ``commit`` that also returns aggregates over the
  round, taken by an ``Observation`` on the write itself.
- Parquet's ``_SUCCESS`` file is the commit protocol.  A directory
  without it is a partial write: it is never read, and the next
  attempt overwrites it.  ``resume(max_round)`` returns the highest
  committed round, so a restarted driver continues from there.
- ``mark(name, k)`` records how a loop ended (``CONVERGED``,
  ``STAR_SWITCH``), so a rerun takes the same exit without iterating.

The state lives in the filesystem, not in executor block storage, so
losing an executor never loses a round: this is the medium for a
1000-executor preemptible fleet (point ``work_dir`` at HDFS/S3).  A
``work_dir`` holds one invocation's state and must not be shared
across different inputs or parameters.

Volatile (no ``work_dir``): per-invocation state, nothing persists.

- ``snapshot`` and ``commit`` are ``localCheckpoint`` blocks in executor
  storage (memory, spilling to local disk).  ``localCheckpoint(
  eager=False)`` is not job-free: under AQE the call runs the map
  stage of every exchange in the plan at once (the adaptive plan must
  be finalized to hand out its RDD); only the last stage waits for
  the first action.  ``commit_observed`` checkpoints eagerly: its
  last stage is the job that fills the ``Observation``.
- ``commit_rows`` collects the rows and rebuilds a local relation.
  ``createDataFrame(rows, schema)`` keeps the exact doubles, so the
  arithmetic is bit-identical to the parquet medium; a round costs one
  collect job and no file round-trip.
- ``resume`` finds nothing and the markers are no-ops.

Executor or driver loss restarts the invocation from scratch, the
right trade for a one-shot query.

Partition cap: the per-round write partition count must scale with
the CLUSTER, not be a constant.  A hardcoded ``coalesce(8)`` keeps file
counts tidy at test scale but serializes tens of GB through 8 writer
tasks per iteration on a 1000-executor job.  ``state_write_partitions``
derives the cap from ``defaultParallelism`` (about the total executor
cores), floored at 8 so tiny local runs still avoid per-round
small-file spam.  Used with ``coalesce`` the result is min(current
partitions, cap): small states stay compact, large states keep (at
least) one write task per core.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession

_MIN_STATE_PARTITIONS = 8


def state_write_partitions(
    spark: SparkSession, requested: int | None = None
) -> int:
    """Partition cap for a per-round state commit: ``requested`` when
    the caller sized it, else max(8, defaultParallelism)."""
    if requested is not None:
        if requested < 1:
            raise ValueError(
                f"state partitions must be >= 1, got {requested}"
            )
        return requested
    return max(
        _MIN_STATE_PARTITIONS, spark.sparkContext.defaultParallelism
    )


class RoundStore:
    """One operator invocation's round state (module docstring):
    durable under ``work_dir``, volatile when it is None.  Rounds are
    named ``<prefix>_<k:05d>``; ``partitions`` caps a durable
    ``commit`` (None writes the frame's own partitioning)."""

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str | None,
        prefix: str = "round",
        partitions: int | None = None,
    ):
        self.spark, self.work_dir = spark, work_dir
        self.prefix, self.partitions = prefix, partitions
        if work_dir is not None:
            os.makedirs(work_dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def _round(self, k: int) -> str:
        return self._path(f"{self.prefix}_{k:05d}")

    def _committed(self, path: str) -> bool:
        return os.path.exists(os.path.join(path, "_SUCCESS"))

    def _write(self, path: str, df: DataFrame) -> DataFrame:
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def snapshot(self, name: str, df: DataFrame) -> DataFrame:
        """``df`` materialized once."""
        if self.work_dir is None:
            return df.localCheckpoint(eager=False)
        path = self._path(name)
        if self._committed(path):
            return self.spark.read.parquet(path)
        return self._write(path, df)

    def resume(self, max_round: int) -> tuple[int, DataFrame] | None:
        """(k, state) of the highest committed round <= ``max_round``."""
        if self.work_dir is None:
            return None
        for k in range(max_round, -1, -1):
            if self._committed(self._round(k)):
                return k, self.spark.read.parquet(self._round(k))
        return None

    def commit(self, k: int, df: DataFrame) -> DataFrame:
        """Round k of O(nodes) state."""
        if self.work_dir is None:
            return df.localCheckpoint(eager=False)
        if self.partitions is not None:
            df = df.coalesce(self.partitions)
        return self._write(self._round(k), df)

    def commit_observed(
        self, k: int, df: DataFrame, **metrics: Column
    ) -> tuple[DataFrame, dict]:
        """Round k of O(nodes) state, plus the named aggregate
        ``metrics`` over it, taken by an ``Observation`` on the job that
        materializes the round, so they cost no job of their own."""
        obs = Observation()
        df = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
        if self.work_dir is None:
            return df.localCheckpoint(eager=True), obs.get
        return self.commit(k, df), obs.get

    def commit_rows(self, k: int, df: DataFrame) -> DataFrame:
        """Round k of bounded (centroid-sized) state."""
        if self.work_dir is None:
            return self.spark.createDataFrame(df.collect(), df.schema)
        return self._write(self._round(k), df.coalesce(1))

    def mark(self, name: str, k: int) -> None:
        if self.work_dir is not None:
            with open(self._path(name), "w", encoding="utf-8") as fh:
                fh.write(str(k))

    def marked(self, name: str) -> bool:
        return self.work_dir is not None and os.path.exists(
            self._path(name)
        )
