"""CDC apply-changes: SCD Type 1 (latest-wins) and Type 2 (full
version history) upsert/delete streams into a bucket-partitioned
parquet target — the engine's analogue of DLT's ``apply_changes`` API
(the reference pipeline itself doesn't call it, but it is the flagship
DLT surface a migrating user expects).

Semantics (the public ``dlt.apply_changes`` contract for SCD type 1):

- per key, the row with the highest ``(sequence_col, *tiebreak_cols)``
  wins;
- late/out-of-order rows lose to an already-applied newer row — even
  across separate runs (the target retains the sequence columns, so
  every merge re-resolves winners against what was applied before);
- a winning row matching ``delete_expr`` removes the key FROM THE LIVE
  STATE but persists in the target as a tombstone carrying its
  sequence — otherwise a late upsert older than the delete would find
  no applied row to lose to and resurrect the key.  Tombstones are
  filtered out of the returned state; :func:`vacuum_tombstones` is the
  retention sweep (Delta VACUUM analogue) that drops them once they
  age past the late-data horizon.

Implementation: ``foreachBatch`` + bucket-partitioned parquet.

- The target is laid out in ``__bucket = xxhash64(keys) % n_buckets``
  units.  Each micro-batch reduces to its per-key winners (one window
  over the batch — small), reads back ONLY the buckets those winners
  touch, re-resolves winners against them, and republishes just those
  buckets.  Buckets the batch doesn't name are never read or written,
  so merge cost scales with ``batch_size x target_size / n_buckets``,
  not with target size.  At warehouse scale the same statement maps
  onto Delta MERGE (see pipeline/registry.py's delta gate); this file
  is the format-independent expression of the operator.

One commit protocol publishes the rewritten buckets: the shared
manifest log, sources/manifest.py.

- A merge writes its rows into a write-once ``__data/<run-id>/`` dir
  that no reader looks at yet, then commits the next manifest, which
  carries the complete bucket -> file list mapping, with
  put-if-absent.  The manifest is the commit point: a crash before it
  lands leaves the previous state intact, and a writer racing another
  to the same version gets ``ConcurrentCommitError`` instead of
  clobbering it.  Nothing relies on rename, so the protocol is the
  same on a local FS, HDFS and an object store.
- Every run ends with the log's retention sweep at its fixed
  retention (the newest ``manifest.KEEP_LAST`` manifests): data only
  pruned manifests referenced is deleted at once, data no manifest
  ever referenced only after the log's grace period (it may be a
  concurrent writer's in-flight commit).  A target's disk use stays
  bounded.
- Targets written by the older rename protocol (``__bucket=<b>/``
  dirs at the target root, swapped in place) still read and merge:
  a bucket a crash left behind as ``__bucket=<b>__pre_swap`` is
  restored first, and the first commit absorbs the bucket dirs by
  reference (its manifest lists them in place, no rewrite).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from diabetes_etl_spark.sources import manifest

_DATA_DIR = "__data"


def _winners(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _with_deleted(df: DataFrame) -> DataFrame:
    """Compatibility shim: SCD1 targets written before tombstones were
    persisted carry no __deleted column (treat every stored row as
    live — exactly what the old layout meant), and a mixed
    rename-layout/manifest union can surface it as NULL."""
    if "__deleted" not in df.columns:
        return df.withColumn("__deleted", F.lit(False))
    return df.withColumn(
        "__deleted", F.coalesce(F.col("__deleted"), F.lit(False))
    )


def _legacy_bucket_entries(target_dir: str) -> dict:
    """Bucket entries for a target the rename protocol wrote: its
    ``__bucket=<b>/`` dirs, referenced in place.  A bucket whose swap a
    crash interrupted is restored first (backup present without a live
    dir); a backup whose swap completed is dropped."""
    if not os.path.isdir(target_dir):
        return {}
    for name in os.listdir(target_dir):
        if not name.endswith("__pre_swap"):
            continue
        backup = os.path.join(target_dir, name)
        live = backup[: -len("__pre_swap")]
        if os.path.exists(live):
            shutil.rmtree(backup)  # crash after swap completed
        else:
            os.rename(backup, live)  # crash inside the window
    return {
        d.split("=", 1)[1]: {"dir": d}
        for d in sorted(os.listdir(target_dir))
        if d.startswith("__bucket=")
    }


def _current_bucket_entries(target_dir: str) -> tuple[int, dict]:
    """(latest manifest version, bucket -> entry map), falling back to
    the rename layout when no manifest has ever been committed."""
    ver, doc = manifest.latest(target_dir)
    if doc is None:
        return 0, _legacy_bucket_entries(target_dir)
    return ver, dict(doc["buckets"])


def _affected_entries(target_dir: str, affected: list[int]) -> dict:
    _, entries = _current_bucket_entries(target_dir)
    wanted = {str(b) for b in affected}
    return {b: e for b, e in entries.items() if b in wanted}


def _write_manifest_data(
    df: DataFrame, target_dir: str
) -> dict[int, list[str]]:
    """Write merged rows into a fresh write-once ``__data/<run-id>/``
    dir (invisible until a manifest references it) and return the
    bucket -> relative file list mapping.  ``__bucket`` is kept as a
    DATA column (the partition dir uses a twin ``__pb``), so manifest
    files read back standalone — no partition-inference/basePath
    coupling to directory layout, which object-store listings make
    expensive and fragile."""
    run_id = f"{os.getpid()}.{uuid.uuid4().hex[:12]}"
    out = os.path.join(target_dir, _DATA_DIR, run_id)
    (
        df.withColumn("__pb", F.col("__bucket"))
        .write.partitionBy("__pb")
        .mode("overwrite")
        .parquet(out)
    )
    files: dict[int, list[str]] = {}
    for name in sorted(os.listdir(out)):
        if not name.startswith("__pb="):
            continue
        b = int(name.split("=", 1)[1])
        bucket_dir = os.path.join(out, name)
        files[b] = sorted(
            os.path.relpath(os.path.join(bucket_dir, f), target_dir)
            for f in os.listdir(bucket_dir)
            if f.endswith(".parquet")
        )
    return files


def _read_bucket_entries(
    spark: SparkSession, target_dir: str, entries: dict
) -> DataFrame | None:
    """Read the rows behind a set of manifest bucket entries.  Legacy
    dir entries need basePath partition inference (their files lack the
    __bucket column); manifest file entries read standalone.  The two
    shapes union by name."""
    legacy_dirs = [
        os.path.join(target_dir, e["dir"]) for e in entries.values() if "dir" in e
    ]
    file_lists = [
        os.path.join(target_dir, f)
        for e in entries.values()
        if "files" in e
        for f in e["files"]
    ]
    parts = []
    if legacy_dirs:
        parts.append(
            spark.read.option("basePath", target_dir).parquet(*legacy_dirs)
        )
    if file_lists:
        parts.append(spark.read.parquet(*file_lists))
    if not parts:
        return None
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    return df


def _commit_buckets(
    rows: DataFrame, target_dir: str, affected: list[int]
) -> dict[int, list[str]]:
    """Publish ``rows`` as the new contents of the affected buckets:
    one data run plus the next manifest (module docstring).  A bucket
    absent from ``rows`` is dropped — an empty new state is a legal
    one.  Returns the bucket -> relative file list just written."""
    files = _write_manifest_data(rows, target_dir)
    ver, buckets = _current_bucket_entries(target_dir)
    for b in affected:
        if b in files:
            buckets[str(b)] = {"files": files[b]}
        else:
            buckets.pop(str(b), None)
    manifest.publish(target_dir, ver + 1, {"buckets": buckets})
    return files


def _sweep(target_dir: str) -> int:
    return manifest.sweep(
        target_dir,
        _DATA_DIR,
        lambda doc: (
            f for e in doc["buckets"].values() for f in e.get("files", ())
        ),
    )


def _parquet_rows(paths: list[str]) -> int:
    """Row count from parquet FOOTERS only — a driver-side metadata
    read per file, no data-page scan and no Spark job."""
    import pyarrow.parquet as pq

    total = 0
    for p in paths:
        total += pq.ParquetFile(p).metadata.num_rows
    return total


def _entry_files(target_dir: str, entries: dict) -> list[str]:
    out: list[str] = []
    for e in entries.values():
        if "files" in e:
            out.extend(os.path.join(target_dir, f) for f in e["files"])
        else:
            d = os.path.join(target_dir, e["dir"])
            out.extend(
                os.path.join(d, f)
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
    return out


def read_target(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """Read the current state of an apply-changes target (all buckets);
    None when no batch has ever committed a bucket.  ``__bucket`` is a
    data column of manifest files; rename-layout dirs recover it from
    the partition path."""
    _, entries = _current_bucket_entries(target_dir)
    return _read_bucket_entries(spark, target_dir, entries)


def _apply_changes(
    spark: SparkSession,
    changes: DataFrame,
    target_dir: str,
    keys: list[str],
    delete_expr: str | None,
    n_buckets: int,
    checkpoint: str,
    resolve: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> DataFrame | None:
    """The merge skeleton both SCD types share.  Each micro-batch is
    tagged with its ``__bucket`` and ``__deleted`` flag; ``resolve(
    tagged, existing)`` computes the new rows of the buckets the batch
    names from the batch and those buckets' current rows (None when
    they are empty), and the result is committed.  The stream drains
    with availableNow, the run ends with the retention sweep, and the
    raw target is returned."""

    def merge(batch: DataFrame, _batch_id: int) -> None:
        if not batch.columns:
            return
        tagged = batch.withColumn(
            "__bucket",
            F.pmod(
                F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)
            ).cast("int"),
        ).withColumn(
            # NULL from delete_expr must mean "not a delete", never a
            # phantom NULL tombstone that no filter or vacuum matches
            # (same coalesce convention as expectation conditions,
            # pipeline/registry.py)
            "__deleted",
            F.coalesce(F.expr(delete_expr), F.lit(False))
            if delete_expr
            else F.lit(False),
        )
        affected = sorted(
            r[0] for r in tagged.select("__bucket").distinct().collect()
        )
        if not affected:
            return
        existing = _read_bucket_entries(
            spark, target_dir, _affected_entries(target_dir, affected)
        )
        _commit_buckets(resolve(tagged, existing), target_dir, affected)

    (
        changes.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    _sweep(target_dir)
    return read_target(spark, target_dir)


def apply_changes_scd1(
    spark: SparkSession,
    changes: DataFrame,
    target_dir: str,
    keys: list[str],
    sequence_col: str,
    tiebreak_cols: list[str] | None = None,
    delete_expr: str | None = None,
    n_buckets: int = 16,
    checkpoint: str | None = None,
) -> DataFrame | None:
    """Drain the ``changes`` stream (availableNow) into ``target_dir``
    with latest-wins upsert semantics; returns the resulting state (or
    None if nothing has ever been applied).

    ``changes`` must be a streaming DataFrame containing ``keys``,
    ``sequence_col`` and any ``tiebreak_cols``.  ``delete_expr`` is a
    SQL boolean over the change row; a winning delete removes the key.
    """
    order_cols = [sequence_col, *(tiebreak_cols or [])]

    def resolve(tagged: DataFrame, existing: DataFrame | None) -> DataFrame:
        best = _winners(tagged, keys, order_cols)
        if existing is None:
            return best
        # the target stores __deleted tombstones alongside live rows;
        # tombstones are WRITTEN (their sequence must outlive the row so
        # later out-of-order upserts still lose) and filtered on read
        return _winners(
            _with_deleted(existing).unionByName(best), keys, order_cols
        )

    raw = _apply_changes(
        spark, changes, target_dir, keys, delete_expr, n_buckets,
        checkpoint or tempfile.mkdtemp(prefix="cdc_scd1_ck_"), resolve,
    )
    if raw is None:
        return None
    # live state only: tombstones and the layout column are internal
    return (
        _with_deleted(raw)
        .filter(~F.col("__deleted"))
        .drop("__deleted", "__bucket")
    )


def apply_changes_scd2(
    spark: SparkSession,
    changes: DataFrame,
    target_dir: str,
    keys: list[str],
    sequence_col: str,
    tiebreak_cols: list[str] | None = None,
    delete_expr: str | None = None,
    n_buckets: int = 16,
    checkpoint: str | None = None,
) -> DataFrame | None:
    """SCD Type 2 apply-changes: every change VERSION is kept, with
    ``__start_at`` = its own sequence value and ``__end_at`` = the next
    version's sequence (NULL while current) — DLT's
    ``stored_as_scd_type=2`` contract.

    A delete row closes the key's current version and is itself kept
    as a tombstone version flagged ``__deleted`` (so the history shows
    WHEN the key disappeared); re-upserting later re-opens history.
    Late rows splice into their correct historical position — the
    per-key window is recomputed over the merged history, which is
    bucket-scoped like SCD1 (only buckets the batch names are read or
    rewritten).
    """
    order_cols = [sequence_col, *(tiebreak_cols or [])]

    def resolve(incoming: DataFrame, existing: DataFrame | None) -> DataFrame:
        history = (
            incoming
            if existing is None
            else existing.drop("__start_at", "__end_at").unionByName(incoming)
        )
        # exact-duplicate versions (same key + sequence + tiebreaks)
        # collapse to one row — reprocessing a file is idempotent
        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).asc() for c in order_cols]
        )
        return (
            _winners(history, [*keys, *order_cols], ["__deleted"])
            .withColumn("__start_at", F.col(sequence_col))
            .withColumn("__end_at", F.lead(sequence_col).over(w))
        )

    raw = _apply_changes(
        spark, changes, target_dir, keys, delete_expr, n_buckets,
        checkpoint or tempfile.mkdtemp(prefix="cdc_scd2_ck_"), resolve,
    )
    if raw is None:
        return None
    # history keeps tombstone VERSIONS (__deleted marks them); only the
    # physical layout column is internal
    return raw.drop("__bucket")


def vacuum_tombstones(
    spark: SparkSession,
    target_dir: str,
    keep_after: tuple[str, object],
) -> int:
    """Drop SCD1 tombstones whose sequence is < ``keep_after`` —
    the retention sweep completing the delete lifecycle.

    ``keep_after`` must be at or behind the late-data horizon: a
    tombstone may only be dropped once no change older than it can
    still arrive (the same contract as a streaming watermark; dropping
    earlier re-opens the resurrection window the tombstone closed).

    Bucket-scoped like the merges: only buckets that actually hold
    expired tombstones are read and rewritten (committed as the next
    manifest, then the retention sweep runs); untouched buckets keep
    their files.  The removed count comes from parquet FOOTER row
    counts (before minus after over the affected buckets), not an
    extra data scan.  Returns the number of tombstones removed.  Like
    any file-replacing maintenance (sources/maintenance.py:
    compact_files), DataFrames created over the target BEFORE the
    sweep go stale — re-read after vacuuming.

    SCD1-only by contract, and ENFORCED: an SCD2 target (schema
    carries __start_at/__end_at) is rejected, because dropping its
    tombstone VERSIONS would corrupt neighbors' validity bounds that
    still reference their sequence values.
    """
    # validate BEFORE any I/O — misuse should be free
    if not (isinstance(keep_after, tuple) and len(keep_after) == 2):
        raise TypeError(
            "keep_after must be (sequence_col_name, threshold_value)"
        )
    seq_col, threshold = keep_after
    all_rows = read_target(spark, target_dir)
    if all_rows is None:
        return 0
    if {"__start_at", "__end_at"} & set(all_rows.columns):
        raise ValueError(
            "vacuum_tombstones is SCD1-only: target carries __start_at/"
            "__end_at (SCD2 history), whose tombstone versions anchor "
            "neighbors' validity bounds and must not be swept"
        )
    all_rows = _with_deleted(all_rows)
    expired = F.col("__deleted") & (F.col(seq_col) < F.lit(threshold))
    affected = sorted(
        r[0]
        for r in all_rows.filter(expired).select("__bucket").distinct().collect()
    )
    if not affected:
        return 0
    # re-read ONLY the affected buckets' files for the rewrite:
    # untouched buckets are never scanned again
    entries = _affected_entries(target_dir, affected)
    rows_before = _parquet_rows(_entry_files(target_dir, entries))
    keep = _with_deleted(
        _read_bucket_entries(spark, target_dir, entries)
    ).filter(~expired)
    files = _commit_buckets(keep, target_dir, affected)
    rows_after = _parquet_rows(
        [os.path.join(target_dir, f) for fs in files.values() for f in fs]
    )
    _sweep(target_dir)
    return rows_before - rows_after
