"""CDC apply-changes (streaming/cdc.py) semantics: latest-wins upsert,
late-data rejection across separate runs, deletes, bucket-scoped
rewrites, bounded disk use, and targets in the older rename layout
(including a bucket an interrupted swap left behind)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Row

from diabetes_etl_spark.sources import manifest
from diabetes_etl_spark.streaming.cdc import (
    apply_changes_scd1,
    read_target,
)

SCHEMA = "user_id bigint, seq bigint, value string, op string"


def _write_changes(spark, src_dir: str, name: str, rows) -> None:
    # the file stream source lists files, not nested dirs: land each
    # change batch as a single parquet FILE in src_dir
    tmp = os.path.join(src_dir, f"__tmp_{name}")
    spark.createDataFrame(
        [Row(user_id=u, seq=s, value=v, op=op) for u, s, v, op in rows],
        SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    shutil.move(
        os.path.join(tmp, part), os.path.join(src_dir, f"{name}.parquet")
    )
    shutil.rmtree(tmp)


def _run(spark, base: str, n_buckets: int = 4):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(base, "src"))
    )
    return apply_changes_scd1(
        spark,
        stream,
        target_dir=os.path.join(base, "target"),
        keys=["user_id"],
        sequence_col="seq",
        delete_expr="op = 'delete'",
        n_buckets=n_buckets,
        checkpoint=os.path.join(base, "ck"),
    )


def _state(df) -> dict:
    return {r.user_id: (r.seq, r.value) for r in df.collect()}


def _rename_layout(spark, target: str, rows, n_buckets: int = 4) -> None:
    """Hand-build a target in the rename layout older versions wrote:
    one ``__bucket=<b>/`` dir per bucket at the target root, rows
    carrying their ``__deleted`` tombstone flag."""
    from pyspark.sql import functions as F

    spark.createDataFrame(rows, SCHEMA + ", __deleted boolean").withColumn(
        "__bucket",
        F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).cast("int"),
    ).write.partitionBy("__bucket").mode("overwrite").parquet(target)


def _bucket_entries(target: str) -> dict:
    return manifest.latest(target)[1]["buckets"]


def test_upsert_latest_wins_and_late_rows_lose_across_runs(spark, tmp_path):
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_changes(
        spark, src, "b1",
        [(1, 10, "a", "upsert"), (1, 20, "b", "upsert"), (2, 5, "x", "upsert")],
    )
    got = _state(_run(spark, base))
    assert got == {1: (20, "b"), 2: (5, "x")}

    # second run, same checkpoint: only the new file is processed, and
    # its LATE row for key 1 (seq 15 < applied 20) must lose while the
    # genuinely newer row for key 2 wins
    _write_changes(
        spark, src, "b2",
        [(1, 15, "late", "upsert"), (2, 6, "y", "upsert")],
    )
    got = _state(_run(spark, base))
    assert got == {1: (20, "b"), 2: (6, "y")}


def test_winning_delete_removes_key_and_late_delete_loses(spark, tmp_path):
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_changes(
        spark, src, "b1",
        [
            (1, 10, "a", "upsert"),
            (1, 20, None, "delete"),   # newest for key 1 -> key gone
            (2, 9, None, "delete"),
            (2, 12, "kept", "upsert"),  # delete is older -> upsert wins
        ],
    )
    got = _state(_run(spark, base))
    assert got == {2: (12, "kept")}


def test_merge_touches_only_named_buckets(spark, tmp_path):
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_changes(
        spark, src, "b1",
        [(u, 1, f"v{u}", "upsert") for u in range(12)],
    )
    _run(spark, base)
    target = os.path.join(base, "target")
    before = _bucket_entries(target)
    assert len(before) >= 2  # several buckets exist

    # one more change for a single key: only that key's bucket may change
    _write_changes(spark, src, "b2", [(0, 2, "v0b", "upsert")])
    final = _run(spark, base)
    after = _bucket_entries(target)
    assert set(after) == set(before)
    changed = [b for b in before if before[b] != after[b]]
    assert len(changed) == 1
    assert _state(final)[0] == (2, "v0b")


def test_crash_recovery_restores_interrupted_swap(spark, tmp_path):
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    target = os.path.join(base, "target")
    _rename_layout(spark, target, [(1, 10, "a", "upsert", False)])
    bucket = next(
        d for d in os.listdir(target) if d.startswith("__bucket=")
    )
    live = os.path.join(target, bucket)
    # a rename-layout target left by a crash inside the swap window:
    # live dir renamed to the backup, replacement never arrived
    os.rename(live, live + "__pre_swap")
    recovered = read_target(spark, target)
    assert _state(recovered) == {1: (10, "a")}
    assert os.path.isdir(live) and not os.path.isdir(live + "__pre_swap")
    # and the restored bucket merges like any other
    _write_changes(spark, src, "b1", [(1, 20, "b", "upsert")])
    assert _state(_run(spark, base)) == {1: (20, "b")}


def test_empty_target_reads_none(spark, tmp_path):
    assert read_target(spark, str(tmp_path / "nope")) is None


# -- SCD Type 2 -------------------------------------------------------------


def _run2(spark, base: str, n_buckets: int = 4):
    from diabetes_etl_spark.streaming.cdc import apply_changes_scd2

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(base, "src"))
    )
    return apply_changes_scd2(
        spark,
        stream,
        target_dir=os.path.join(base, "target2"),
        keys=["user_id"],
        sequence_col="seq",
        delete_expr="op = 'delete'",
        n_buckets=n_buckets,
        checkpoint=os.path.join(base, "ck2"),
    )


def _history(df) -> list:
    # Row.__getattr__ rejects dunder names: use item access
    return sorted(
        (r["user_id"], r["seq"], r["value"], r["__start_at"], r["__end_at"])
        for r in df.collect()
    )


def test_scd2_keeps_versions_with_validity_bounds(spark, tmp_path):
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_changes(
        spark, src, "b1",
        [(1, 10, "a", "upsert"), (1, 20, "b", "upsert"), (2, 5, "x", "upsert")],
    )
    got = _history(_run2(spark, base))
    assert got == [
        (1, 10, "a", 10, 20),
        (1, 20, "b", 20, None),
        (2, 5, "x", 5, None),
    ]


def test_scd2_late_row_splices_into_history(spark, tmp_path):
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_changes(
        spark, src, "b1", [(1, 10, "a", "upsert"), (1, 30, "c", "upsert")]
    )
    _run2(spark, base)
    # late version seq=20 must land BETWEEN the existing versions,
    # closing a's validity at 20 and ending itself at 30
    _write_changes(spark, src, "b2", [(1, 20, "late", "upsert")])
    got = _history(_run2(spark, base))
    assert got == [
        (1, 10, "a", 10, 20),
        (1, 20, "late", 20, 30),
        (1, 30, "c", 30, None),
    ]


def test_scd2_delete_closes_history_as_tombstone(spark, tmp_path):
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_changes(
        spark, src, "b1",
        [(1, 10, "a", "upsert"), (1, 20, None, "delete")],
    )
    final = _run2(spark, base)
    got = _history(final)
    assert got == [(1, 10, "a", 10, 20), (1, 20, None, 20, None)]
    tombstones = {(r.user_id, r.seq) for r in final.filter("__deleted").collect()}
    assert tombstones == {(1, 20)}
    # current LIVE state = end_at IS NULL and not deleted -> empty
    assert final.filter("__end_at IS NULL AND NOT __deleted").count() == 0


# -- pipeline integration (dlt.apply_changes shape) -------------------------


def test_pipeline_apply_changes_incremental(spark, tmp_path):
    from diabetes_etl_spark.pipeline.registry import Pipeline, PipelineRunner

    base = str(tmp_path)
    src = os.path.join(base, "src")
    wh = os.path.join(base, "wh")
    os.makedirs(src)
    _write_changes(
        spark, src, "b1", [(1, 10, "a", "upsert"), (2, 5, "x", "upsert")]
    )

    def build():
        p = Pipeline("cdc_demo")

        @p.table(name="changes_bronze", streaming=True)
        def changes_bronze(ctx):
            return (
                ctx.spark.readStream.schema(SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )

        p.apply_changes(
            target="user_state",
            source="changes_bronze",
            keys=["user_id"],
            sequence_by="seq",
            apply_as_deletes="op = 'delete'",
            comment="latest user state (SCD1)",
        )
        return p

    r1 = PipelineRunner(build(), spark, mode="warehouse", warehouse=wh)
    out = r1.run(targets=["user_state"])["user_state"]
    assert _state(out) == {1: (10, "a"), 2: (5, "x")}
    # registered as a queryable view, like every other dataset
    assert _state(spark.sql("SELECT * FROM user_state")) == {
        1: (10, "a"), 2: (5, "x"),
    }

    # second run on a FRESH runner: durable checkpoint + target mean
    # only the new file is read and merged against applied state
    _write_changes(
        spark, src, "b2", [(1, 8, "late", "upsert"), (2, 9, None, "delete")]
    )
    r2 = PipelineRunner(build(), spark, mode="warehouse", warehouse=wh)
    out = r2.run(targets=["user_state"])["user_state"]
    assert _state(out) == {1: (10, "a")}  # late row lost, key 2 deleted


def test_pipeline_apply_changes_scd2_and_validation(spark, tmp_path):
    from diabetes_etl_spark.pipeline.registry import Pipeline, PipelineRunner

    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_changes(
        spark, src, "b1", [(1, 10, "a", "upsert"), (1, 20, "b", "upsert")]
    )
    p = Pipeline("cdc_demo2")

    @p.table(name="changes_bronze", streaming=True)
    def changes_bronze(ctx):
        return ctx.spark.readStream.schema(SCHEMA).parquet(src)

    p.apply_changes(
        target="user_history",
        source="changes_bronze",
        keys=["user_id"],
        sequence_by="seq",
        scd_type=2,
    )
    out = PipelineRunner(p, spark).run(targets=["user_history"])[
        "user_history"
    ]
    assert _history(out) == [(1, 10, "a", 10, 20), (1, 20, "b", 20, None)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported scd_type"):
        p.apply_changes(
            target="bad", source="changes_bronze", keys=["user_id"],
            sequence_by="seq", scd_type=3,
        )


def test_pipeline_apply_changes_manifest_mode(spark, tmp_path):
    from diabetes_etl_spark.pipeline.registry import Pipeline, PipelineRunner

    base = str(tmp_path)
    src = os.path.join(base, "src")
    wh = os.path.join(base, "wh")
    os.makedirs(src)
    _write_changes(spark, src, "b1", [(1, 10, "a", "upsert")])
    p = Pipeline("cdc_manifest_demo")

    @p.table(name="changes_bronze", streaming=True)
    def changes_bronze(ctx):
        return ctx.spark.readStream.schema(SCHEMA).parquet(src)

    p.apply_changes(
        target="user_state_m",
        source="changes_bronze",
        keys=["user_id"],
        sequence_by="seq",
        apply_as_deletes="op = 'delete'",
    )
    out = PipelineRunner(p, spark, mode="warehouse", warehouse=wh).run(
        targets=["user_state_m"]
    )["user_state_m"]
    assert _state(out) == {1: (10, "a")}
    assert os.path.isdir(os.path.join(wh, "user_state_m", "_manifests"))


def test_delete_tombstone_blocks_late_resurrection_across_runs(
    spark, tmp_path
):
    """A late upsert OLDER than an applied delete must stay dead: the
    delete persists as a tombstone carrying its sequence (the SCD1
    contract 'late rows lose even across separate runs' applies to
    deletes too)."""
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_changes(spark, src, "b1", [(1, 10, "a", "upsert")])
    _run(spark, base)
    _write_changes(spark, src, "b2", [(1, 30, None, "delete")])
    got = _state(_run(spark, base))
    assert got == {}
    # the late upsert (seq 20 < delete's 30) arrives in a LATER run
    _write_changes(spark, src, "b3", [(1, 20, "late", "upsert")])
    got = _state(_run(spark, base))
    assert got == {}  # key stays deleted
    # a genuinely newer upsert re-creates the key
    _write_changes(spark, src, "b4", [(1, 40, "back", "upsert")])
    got = _state(_run(spark, base))
    assert got == {1: (40, "back")}


def test_sampling_output_column_collisions_rejected(spark):
    import pytest as _pytest

    from diabetes_etl_spark.operators.sampling import (
        repeat_sample,
        training_shuffle,
    )

    df = spark.range(5).withColumnRenamed("id", "doc_id")
    sharded = training_shuffle(df, n_shards=2)
    with _pytest.raises(ValueError, match="shuffle_key"):
        training_shuffle(sharded, n_shards=4)
    repeated = repeat_sample(df, rates={}, default_rate=1.0)
    with _pytest.raises(ValueError, match="copy_idx"):
        repeat_sample(repeated, rates={}, default_rate=1.0)


# -- manifest commit protocol (object-store-safe) ---------------------------


def test_manifest_mode_latest_wins_delete_and_late_rows(spark, tmp_path):
    """The full SCD1 contract under the manifest protocol: latest wins,
    deletes tombstone, late rows lose across runs — with no bucket dirs
    at the target root (data lives under __data/, commits under
    _manifests/)."""
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_changes(
        spark, src, "b1",
        [(1, 10, "a", "upsert"), (1, 20, "b", "upsert"), (2, 5, "x", "upsert")],
    )
    got = _state(_run(spark, base))
    assert got == {1: (20, "b"), 2: (5, "x")}
    target = os.path.join(base, "target")
    assert os.path.isdir(os.path.join(target, "_manifests"))
    assert not [d for d in os.listdir(target) if d.startswith("__bucket=")]

    _write_changes(
        spark, src, "b2",
        [(1, 15, "late", "upsert"), (2, 30, None, "delete")],
    )
    got = _state(_run(spark, base))
    assert got == {1: (20, "b")}
    # and a late upsert older than the applied delete stays dead
    _write_changes(spark, src, "b3", [(2, 25, "zombie", "upsert")])
    assert _state(_run(spark, base)) == {1: (20, "b")}


def test_manifest_crash_before_publish_leaves_state_intact(spark, tmp_path):
    """The crash window of the manifest protocol: data files written,
    manifest never published.  Readers must still see the previous
    state; the retention sweep reaps the garbage after the grace
    period."""
    from diabetes_etl_spark.streaming.cdc import _sweep

    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_changes(spark, src, "b1", [(1, 10, "a", "upsert")])
    _run(spark, base)
    target = os.path.join(base, "target")

    # simulate a writer that died between data write and manifest
    # publish: a data dir exists that no manifest references
    orphan = os.path.join(target, "__data", "99999.deadbeef0000")
    os.makedirs(orphan)
    spark.createDataFrame(
        [Row(user_id=1, seq=99, value="ghost", op="upsert")], SCHEMA
    ).write.mode("overwrite").parquet(orphan)

    assert _state(
        read_target(spark, target).filter("NOT __deleted")
    ) == {1: (10, "a")}  # ghost invisible
    # inside the grace period the orphan is protected (in-flight write)
    assert _sweep(target) == 0
    assert os.path.isdir(orphan)
    old = os.path.getmtime(orphan) - manifest.GRACE_SECONDS - 60
    os.utime(orphan, (old, old))
    assert _sweep(target) == 1
    assert not os.path.exists(orphan)
    # committed data untouched
    assert _state(
        read_target(spark, target).filter("NOT __deleted")
    ) == {1: (10, "a")}


def test_manifest_migration_absorbs_legacy_layout(spark, tmp_path):
    """First manifest commit on a rename-layout target references the
    untouched legacy bucket dirs in place — no rewrite — and merges
    correctly against their rows."""
    from pyspark.sql import functions as F

    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    target = os.path.join(base, "target")
    buckets = {
        u: spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(u).cast("bigint")), F.lit(4)).cast("int")
        )
        .first()[0]
        for u in (1, 2)
    }
    assert buckets[1] != buckets[2]  # the scenario needs two buckets
    spark.createDataFrame(
        [
            (1, 10, "a", "upsert", buckets[1]),
            (2, 40, "keep", "upsert", buckets[2]),
        ],
        SCHEMA + ", __bucket int",
    ).write.partitionBy("__bucket").mode("overwrite").parquet(target)
    legacy_dir = os.path.join(target, f"__bucket={buckets[1]}")
    untouched_dir = os.path.join(target, f"__bucket={buckets[2]}")

    # late row for key 1 (loses to legacy seq 10) + fresh key 1 update
    _write_changes(spark, src, "b1", [(1, 20, "b", "upsert")])
    got = _state(_run(spark, base))
    assert got == {1: (20, "b"), 2: (40, "keep")}
    # key 2's bucket was not named by the batch: still legacy, in place
    assert os.path.isdir(untouched_dir)
    import json as _json

    mdir = os.path.join(target, "_manifests")
    latest = sorted(os.listdir(mdir))[-1]
    with open(os.path.join(mdir, latest)) as fh:
        man = _json.load(fh)
    entries = man["buckets"]
    assert entries[str(buckets[2])] == {"dir": f"__bucket={buckets[2]}"}
    assert "files" in entries[str(buckets[1])]
    # rewritten bucket's legacy dir is now unreferenced garbage — but
    # never silently deleted (readers of older manifests may hold it);
    # it is simply no longer consulted
    assert os.path.isdir(legacy_dir)


def test_manifest_concurrent_commit_detected(tmp_path):
    from diabetes_etl_spark.sources.manifest import ConcurrentCommitError

    target = str(tmp_path / "t")
    doc = {"buckets": {"0": {"files": []}}}
    manifest.publish(target, 1, doc)
    with pytest.raises(ConcurrentCommitError, match="v1 already committed"):
        manifest.publish(target, 1, doc)
    manifest.publish(target, 2, doc)  # next version fine


def test_truncated_manifest_falls_back_to_previous_version(spark, tmp_path):
    """A corrupt newest manifest (non-atomic writer died mid-PUT) must
    be skipped, not crash the reader or hide the committed state."""
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_changes(spark, src, "b1", [(1, 10, "a", "upsert")])
    _run(spark, base)
    target = os.path.join(base, "target")
    mdir = os.path.join(target, "_manifests")
    with open(os.path.join(mdir, f"v{2:020d}.json"), "w") as fh:
        fh.write('{"version": 2, "buck')  # truncated JSON
    assert _state(
        read_target(spark, target).filter("NOT __deleted")
    ) == {1: (10, "a")}


def test_scd2_manifest_late_splice(spark, tmp_path):
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)

    def run2m():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        from diabetes_etl_spark.streaming.cdc import apply_changes_scd2

        return apply_changes_scd2(
            spark,
            stream,
            target_dir=os.path.join(base, "t2"),
            keys=["user_id"],
            sequence_col="seq",
            delete_expr="op = 'delete'",
            n_buckets=4,
            checkpoint=os.path.join(base, "ck2"),
        )

    _write_changes(
        spark, src, "b1", [(1, 10, "a", "upsert"), (1, 30, "c", "upsert")]
    )
    run2m()
    _write_changes(spark, src, "b2", [(1, 20, "late", "upsert")])
    got = _history(run2m())
    assert got == [
        (1, 10, "a", 10, 20),
        (1, 20, "late", 20, 30),
        (1, 30, "c", 30, None),
    ]


def test_old_layout_target_without_deleted_column_still_merges(
    spark, tmp_path
):
    """Targets written before tombstones were persisted have no
    __deleted column; the compatibility shim must treat their rows as
    live in both the merge and the returned state."""
    from pyspark.sql import functions as F

    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    target = os.path.join(base, "target")
    bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(1).cast("bigint")), F.lit(4)).cast("int")
    ).first()[0]
    # hand-write an OLD-layout target: no __deleted column
    spark.createDataFrame(
        [(1, 10, "a", "upsert", bucket)], SCHEMA + ", __bucket int"
    ).write.partitionBy("__bucket").mode("overwrite").parquet(target)

    # merge a late row for the old key plus a fresh key
    _write_changes(
        spark, src, "b1",
        [(1, 5, "late", "upsert"), (2, 7, "x", "upsert")],
    )
    got = _state(_run(spark, base))
    assert got == {1: (10, "a"), 2: (7, "x")}  # old row won; late lost


def test_repeated_runs_keep_disk_bounded(spark, tmp_path):
    """Every run ends with the retention sweep: five runs that each
    rewrite the same key's bucket leave only the run dirs the newest
    two manifests reference."""
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    for i in range(5):
        _write_changes(spark, src, f"b{i}", [(1, 10 + i, f"v{i}", "upsert")])
        assert _state(_run(spark, base)) == {1: (10 + i, f"v{i}")}
    target = os.path.join(base, "target")
    assert len(os.listdir(os.path.join(target, "__data"))) <= 2
    assert _state(
        read_target(spark, target).filter("NOT __deleted")
    ) == {1: (14, "v4")}


def test_rename_layout_target_merges_and_upgrades(spark, tmp_path):
    """A target in the rename layout older versions wrote (live rows
    and tombstones in ``__bucket=<b>/`` dirs) merges with the full SCD1
    contract, and its first commit references the untouched buckets'
    dirs in place."""
    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    target = os.path.join(base, "target")
    _rename_layout(
        spark,
        target,
        [
            (1, 10, "a", "upsert", False),
            (2, 30, None, "delete", True),
            (3, 5, "c", "upsert", False),
        ],
    )
    dirs = {d for d in os.listdir(target) if d.startswith("__bucket=")}
    _write_changes(
        spark, src, "b1",
        [
            (1, 20, "b", "upsert"),  # newer: wins
            (2, 25, "zombie", "upsert"),  # older than the tombstone: loses
            (4, 1, "d", "upsert"),  # new key
        ],
    )
    assert _state(_run(spark, base)) == {
        1: (20, "b"), 3: (5, "c"), 4: (1, "d"),
    }
    kept = {e["dir"] for e in _bucket_entries(target).values() if "dir" in e}
    assert kept <= dirs
    assert all(os.path.isdir(os.path.join(target, d)) for d in kept)
