"""VersionedTable: atomic manifest commits, snapshot isolation, time
travel, rollback, optimistic concurrency, file-stats data skipping,
and vacuum (sources/versioned.py — the native stand-in for the
reference's Delta tables)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from diabetes_etl_spark.sources.manifest import (
    GRACE_SECONDS,
    ConcurrentCommitError,
    log_dir,
)
from diabetes_etl_spark.sources.versioned import VersionedTable


@pytest.fixture
def vt(spark, tmp_path):
    return VersionedTable(spark, str(tmp_path / "tbl"), stats_cols=("k",))


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_overwrite_append_time_travel(spark, vt):
    v1 = vt.overwrite(_df(spark, 0, 10))
    v2 = vt.append(_df(spark, 10, 15))
    assert (v1, v2) == (1, 2)
    assert vt.read().count() == 15
    assert vt.read(version_as_of=1).count() == 10
    # snapshot isolation: a DataFrame resolved at v2 keeps its file
    # list even after later commits
    snap = vt.read(version_as_of=2)
    vt.overwrite(_df(spark, 0, 3))
    assert snap.count() == 15
    assert vt.read().count() == 3


def test_history_and_rollback_preserve_audit_trail(spark, vt):
    vt.overwrite(_df(spark, 0, 10))
    vt.append(_df(spark, 10, 20))
    vt.rollback(1)
    hist = vt.history()
    assert [h.version for h in hist] == [3, 2, 1]
    assert hist[0].operation == "rollback_to_1"
    assert vt.read().count() == 10
    # rollback is additive: v2 is still readable
    assert vt.read(version_as_of=2).count() == 20


def test_concurrent_commit_detected(spark, vt):
    vt.overwrite(_df(spark, 0, 5))
    # another writer commits v2 out from under this one's overwrite
    other = VersionedTable(spark, vt.path, stats_cols=("k",))
    files = other._write_data(_df(spark, 100, 105))
    other._commit("overwrite", files, 1, _df(spark, 100, 105).schema.json())
    with pytest.raises(ConcurrentCommitError):
        v, _ = 1, vt._publish(2, {"version": 2, "files": [], "schema": "{}"})
    # overwrite recomputes from latest, so it lands as v3
    assert vt.overwrite(_df(spark, 0, 2)) == 3


def test_append_retries_through_lost_race(spark, vt, monkeypatch):
    """An append that loses the manifest race must recompute the
    pointer and keep BOTH writers' rows — its own data files are
    already on disk and commute with the committed append."""
    vt.overwrite(_df(spark, 0, 10))
    real_publish = vt._publish
    raced = {"done": False}

    def racing_publish(version, doc):
        if not raced["done"]:
            raced["done"] = True
            VersionedTable(vt.spark, vt.path).append(_df(vt.spark, 50, 60))
        return real_publish(version, doc)

    monkeypatch.setattr(vt, "_publish", racing_publish)
    vt.append(_df(spark, 10, 20))
    assert vt.read().count() == 30  # 10 base + 10 other + 10 ours


def test_torn_manifest_ignored(spark, vt):
    """A truncated newest manifest (writer died mid-PUT without the
    atomic link) must be skipped — previous version stays committed."""
    vt.overwrite(_df(spark, 0, 10))
    mdir = log_dir(vt.path)
    with open(os.path.join(mdir, f"v{2:020d}.json"), "w") as fh:
        fh.write('{"version": 2, "files": [')  # torn
    assert vt.read().count() == 10
    # the next commit must supersede the torn file's version slot:
    # _latest() says v1, _commit targets v2 which EXISTS as garbage —
    # put-if-absent refuses, append retries land on v3? No: the torn
    # file occupies the name, so the commit must fail loudly rather
    # than silently overwrite.
    with pytest.raises(ConcurrentCommitError):
        vt.overwrite(_df(spark, 0, 1))


def test_uncommitted_data_invisible(spark, vt):
    vt.overwrite(_df(spark, 0, 10))
    # a crashed writer left data files but no manifest
    vt._write_data(_df(spark, 500, 600))
    assert vt.read().count() == 10


def test_stats_pruning_skips_disjoint_files(spark, vt):
    """between= must drop files whose [min,max] is disjoint BEFORE
    Spark reads them, and keep results identical."""
    # three appends → three disjoint k-ranges in separate data dirs
    vt.overwrite(_df(spark, 0, 100).repartition(1))
    vt.append(_df(spark, 100, 200).repartition(1))
    vt.append(_df(spark, 200, 300).repartition(1))
    _, doc = vt._latest()
    assert len(doc["files"]) == 3
    pruned = vt.read(between=("k", 120, 180))
    full = vt.read().filter(F.col("k").between(120, 180))
    assert sorted(r.k for r in pruned.collect()) == sorted(
        r.k for r in full.collect()
    )
    # plan reads exactly one file
    scanned = pruned.inputFiles()
    assert len(scanned) == 1


def test_delete_where_rewrites_only_matching_files(spark, vt):
    vt.overwrite(_df(spark, 0, 100).repartition(1))
    vt.append(_df(spark, 100, 200).repartition(1))
    _, before = vt._latest()
    untouched = {e["path"] for e in before["files"] if e["stats"]["k"][0] >= 100}
    vt.delete_where("k < 50")
    _, after = vt._latest()
    # the 100-199 file carried over BY REFERENCE (same path, no rewrite)
    assert untouched <= {e["path"] for e in after["files"]}
    assert vt.read().count() == 150
    assert vt.read().filter(F.col("k") < 50).count() == 0


def test_vacuum_drops_unreferenced_data_only(spark, vt):
    vt.overwrite(_df(spark, 0, 10))
    vt.overwrite(_df(spark, 0, 20))
    vt.overwrite(_df(spark, 0, 30))
    removed = vt.vacuum(keep_last=1)
    assert removed == 2
    assert vt.read().count() == 30
    with pytest.raises(ValueError):
        vt.read(version_as_of=1)
    # retained data intact after a second (idempotent) vacuum
    assert vt.vacuum(keep_last=1) == 0
    assert vt.read().count() == 30


def test_vacuum_keeps_in_flight_writers_data(spark, vt):
    """A commit's data lands before its manifest: vacuum must not reap
    a fresh, never-referenced run dir, or the commit would publish a
    version pointing at deleted files."""
    vt.overwrite(_df(spark, 0, 10))
    vt.overwrite(_df(spark, 0, 20))
    files = vt._write_data(_df(spark, 20, 25))  # in flight: unpublished
    assert vt.vacuum(keep_last=1) == 1  # only v1's superseded data
    ver, doc = vt._latest()
    vt._commit("append", doc["files"] + files, ver, doc["schema"])
    assert vt.read().count() == 25


def test_empty_table_read_errors(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "none"))
    with pytest.raises(ValueError):
        vt.read()


def test_schema_preserved_across_empty_prune(spark, vt):
    vt.overwrite(_df(spark, 0, 10).repartition(1))
    out = vt.read(between=("k", 1000, 2000))
    assert out.columns == ["k", "v"]
    assert out.count() == 0


def test_merge_upserts_and_carries_untouched_files(spark, vt):
    """Keys 150-159 update in place + 300-309 insert; the 0-99 file's
    range is disjoint from the batch envelope so it must survive BY
    REFERENCE (same manifest path, no rewrite)."""
    vt.overwrite(_df(spark, 0, 100).repartition(1))
    vt.append(_df(spark, 100, 200).repartition(1))
    _, before = vt._latest()
    low_file = {e["path"] for e in before["files"] if e["stats"]["k"][1] < 100}
    assert len(low_file) == 1
    updates = spark.range(150, 160).select(
        F.col("id").alias("k"), F.lit(-1).alias("v")
    ).unionByName(
        spark.range(300, 310).select(F.col("id").alias("k"), F.lit(-2).alias("v"))
    )
    vt.merge(updates, "k")
    _, after = vt._latest()
    assert low_file <= {e["path"] for e in after["files"]}
    out = vt.read()
    assert out.count() == 210
    assert out.filter(F.col("v") == -1).count() == 10
    assert out.filter(F.col("v") == -2).count() == 10
    # unmatched rows in the overlapping file kept their values
    assert out.filter((F.col("k") == 120) & (F.col("v") == 240)).count() == 1
    # pre-merge version still readable (time travel unaffected)
    assert vt.read(version_as_of=2).filter(F.col("v") < 0).count() == 0


def test_merge_into_empty_table_is_insert(spark, vt):
    vt.merge(_df(spark, 0, 5), "k")
    assert vt.read().count() == 5


def test_merge_requires_stats_on_key(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "nostats"))
    vt.overwrite(_df(spark, 0, 5))
    with pytest.raises(ValueError):
        vt.merge(_df(spark, 0, 2), "k")


def test_merge_empty_batch_is_noop_commit(spark, vt):
    vt.overwrite(_df(spark, 0, 5))
    vt.merge(_df(spark, 0, 0), "k")
    assert vt.read().count() == 5
    assert vt.history()[0].operation == "merge"


def test_streaming_foreachbatch_merge_into_versioned_table(spark, tmp_path, sf_dir):
    """The streaming upsert-to-warehouse shape: foreachBatch computes
    per-user winners and MERGEs them into a VersionedTable — the
    manifest commit gives each micro-batch snapshot isolation, and the
    final state equals the batch latest-row-per-key computation."""
    from pyspark.sql.window import Window

    from diabetes_etl_spark.sources.tables import (
        load_events_stream,
        load_table,
    )

    vt = VersionedTable(
        spark, str(tmp_path / "user_state"), stats_cols=("user_id",)
    )

    def upsert(batch, batch_id):
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        winners = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "event_id", "value")
        )
        vt.merge(winners, "user_id")

    stream = load_events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "value"
    )
    q = stream.writeStream.foreachBatch(upsert).trigger(
        availableNow=True
    ).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).start()
    q.awaitTermination(120)

    expect = {
        (r.user_id, r.event_id)
        for r in load_table(spark, sf_dir, "events")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .collect()
    }
    got = {(r.user_id, r.event_id) for r in vt.read().collect()}
    assert got == expect
    assert vt.history()[0].operation == "merge"


def test_writer_type_mismatch_aligned_to_table_schema(spark, vt):
    """The flake that motivated _align: updates carrying INT where the
    table holds BIGINT must be cast on write, and reads must use the
    MANIFEST schema (never per-file inference) — otherwise the table
    works or crashes depending on which file the vectorized reader
    samples first."""
    vt.overwrite(_df(spark, 0, 10))  # v is bigint
    updates = spark.range(3, 6).select(
        F.col("id").alias("k"), F.lit(-1).alias("v")  # v is INT here
    )
    vt.merge(updates, "k")
    vt.append(
        spark.range(50, 52).select(
            F.col("id").cast("int").alias("k"), F.lit(7).alias("v")
        )
    )
    out = vt.read()
    assert dict(out.dtypes)["v"] == "bigint"
    assert dict(out.dtypes)["k"] == "bigint"
    assert out.count() == 12
    assert out.filter(F.col("v") == -1).count() == 3
    # column-set mismatches are rejected, not silently reordered away
    with pytest.raises(ValueError, match="schema mismatch"):
        vt.append(spark.range(3).select(F.col("id").alias("wrong")))


def test_delete_where_keeps_null_predicate_rows(spark, vt):
    """SQL DELETE semantics: rows where the predicate evaluates NULL
    are KEPT (deleted only on TRUE) — regardless of which files the
    stats pruner selects for rewrite."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, None)], "k long, v long"
    )
    vt.overwrite(df)
    vt.delete_where("v < 20")
    rows = {(r.k, r.v) for r in vt.read().collect()}
    assert rows == {(2, None), (3, 30), (4, None)}


def test_vacuum_rejects_keep_last_below_one(spark, vt):
    vt.overwrite(_df(spark, 0, 10))
    with pytest.raises(ValueError):
        vt.vacuum(keep_last=0)
    with pytest.raises(ValueError):
        vt.vacuum(keep_last=-3)
    assert vt.read().count() == 10


def test_binary_stats_col_records_no_stats_and_never_prunes(spark, tmp_path):
    """A stats_col whose type isn't in the ordered-stats allowlist
    (binary here) records NO stats — its files are conservatively
    unprunable, never wrongly prunable."""
    vt = VersionedTable(spark, str(tmp_path / "bin"), stats_cols=("b", "k"))
    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\x01")), (2, bytearray(b"\xff"))],
        "k long, b binary",
    )
    vt.overwrite(df.coalesce(1))
    _, doc = vt._latest()
    data_files = [e for e in doc["files"] if e["rows"] > 0]
    assert data_files
    for e in data_files:
        assert "b" not in e["stats"]          # binary: no stats recorded
        assert "k" in e["stats"]              # long: stats as before
    # a between= on the statless column reads every file (no pruning)
    assert vt.read(between=("b", b"\x00", b"\x01")).count() >= 0
    assert vt.read().count() == 2


def test_compact_merges_small_files_preserving_history(spark, vt):
    vt.overwrite(_df(spark, 0, 50).repartition(1))
    for lo in range(50, 250, 50):
        vt.append(_df(spark, lo, lo + 50).repartition(1))
    ver_before, doc_before = vt._latest()
    n_files_before = len(doc_before["files"])
    assert n_files_before >= 5
    new_ver = vt.compact(target_bytes=1 << 30)
    assert new_ver == ver_before + 1
    _, doc_after = vt._latest()
    assert len(doc_after["files"]) < n_files_before
    # contents row-identical
    assert sorted(
        (r.k, r.v) for r in vt.read().collect()
    ) == [(k, 2 * k) for k in range(250)]
    # time travel to the pre-compaction version still works, and the
    # old manifest is byte-identical (history preserved, not rewritten)
    assert vt.read(version_as_of=ver_before).count() == 250
    _, still = vt._latest()
    assert vt._manifest_at(ver_before)["files"] == doc_before["files"]
    # big-file carry-over: nothing to do → no empty commit
    assert vt.compact(target_bytes=1) is None
    assert vt._latest()[0] == new_ver


def test_compact_crash_before_publish_leaves_table_unchanged(
    spark, vt, monkeypatch
):
    vt.overwrite(_df(spark, 0, 40).repartition(1))
    vt.append(_df(spark, 40, 80).repartition(1))
    ver, doc = vt._latest()

    def boom(version, doc):
        raise RuntimeError("crash between data write and manifest publish")

    monkeypatch.setattr(vt, "_publish", boom)
    with pytest.raises(RuntimeError):
        vt.compact(target_bytes=1 << 30)
    monkeypatch.undo()
    # table state untouched: same version, same files, same rows
    ver2, doc2 = vt._latest()
    assert (ver2, doc2["files"]) == (ver, doc["files"])
    assert vt.read().count() == 80
    # the orphaned compaction output is reaped by the first vacuum
    # after the grace period
    data_dirs = os.listdir(os.path.join(vt.path, "_data"))
    referenced = {e["path"].split("/")[1] for e in doc2["files"]}
    assert set(data_dirs) - referenced  # orphan exists
    old = time.time() - GRACE_SECONDS - 60
    for rid in set(data_dirs) - referenced:
        os.utime(os.path.join(vt.path, "_data", rid), (old, old))
    vt.vacuum(keep_last=10)
    data_dirs = set(os.listdir(os.path.join(vt.path, "_data")))
    assert not data_dirs - referenced
    assert vt.read().count() == 80


def test_compact_zorder_enables_two_dimensional_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER contract: after z-order compaction on (x, y),
    a between= on EITHER column prunes files — the pre-compaction
    layout (appended in x order) can only prune on x, every file's y
    stats span the full domain."""
    vt = VersionedTable(spark, str(tmp_path / "z"), stats_cols=("x", "y"))
    # 8 appends ordered by x; y is independent of x (decorrelated via
    # multiplicative hash), so insertion order carries no y locality
    for part in range(8):
        df = spark.range(part * 512, (part + 1) * 512).select(
            F.col("id").alias("x"),
            ((F.col("id") * 2654435761) % 4096).alias("y"),
        )
        vt.append(df.coalesce(1))
    _, doc = vt._latest()
    n_before = len([e for e in doc["files"] if e["rows"] > 0])

    def files_read(between):
        sel = vt.read(between=between)
        _, cur = vt._latest()
        col, lo, hi = between
        return len([
            e for e in cur["files"]
            if e["rows"] > 0 and (
                col not in e.get("stats", {})
                or not (e["stats"][col][1] < lo or e["stats"][col][0] > hi)
            )
        ])

    # pre-compaction: x prunes (insertion order), y cannot
    assert files_read(("x", 0, 100)) == 1
    assert files_read(("y", 0, 255)) == n_before

    rows_before = sorted((r.x, r.y) for r in vt.read().collect())
    ver = vt.compact(target_bytes=1 << 30, zorder_by=("x", "y"))
    assert ver is not None
    # contents identical after clustering
    assert sorted((r.x, r.y) for r in vt.read().collect()) == rows_before

    # force multiple output files for the pruning assertion
    vt2 = VersionedTable(spark, str(tmp_path / "z2"), stats_cols=("x", "y"))
    for part in range(8):
        df = spark.range(part * 512, (part + 1) * 512).select(
            F.col("id").alias("x"),
            ((F.col("id") * 2654435761) % 4096).alias("y"),
        )
        vt2.append(df.coalesce(1))
    data = vt2.read()
    from diabetes_etl_spark.sources.versioned import _zorder

    vt3 = VersionedTable(spark, str(tmp_path / "z3"), stats_cols=("x", "y"))
    vt3.overwrite(_zorder(data, ("x", "y"), 8))
    _, doc3 = vt3._latest()
    n_files = len([e for e in doc3["files"] if e["rows"] > 0])
    assert n_files >= 4

    def pruned(vt_, col, lo, hi):
        _, cur = vt_._latest()
        total = len([e for e in cur["files"] if e["rows"] > 0])
        kept = len([
            e for e in cur["files"]
            if e["rows"] > 0 and (
                col not in e.get("stats", {})
                or not (e["stats"][col][1] < lo or e["stats"][col][0] > hi)
            )
        ])
        return total - kept

    # z-ordered layout prunes on BOTH dimensions
    assert pruned(vt3, "x", 0, 511) > 0
    assert pruned(vt3, "y", 0, 511) > 0
    # and the clustered table still returns exactly the right rows
    assert vt3.read(between=("y", 0, 255)).count() == sum(
        1 for _, y in rows_before if 0 <= y <= 255
    )


# -- schema evolution (append merge_schema — Delta mergeSchema parity) ------


def test_append_merge_schema_adds_nullable_column(spark, vt):
    vt.overwrite(_df(spark, 0, 5))
    wide = _df(spark, 5, 8).withColumn("tag", F.lit("new"))
    vt.append(wide, merge_schema=True)
    got = vt.read()
    assert got.columns == ["k", "v", "tag"]
    rows = {r.k: r.tag for r in got.collect()}
    assert all(rows[k] is None for k in range(5))   # old files -> NULL
    assert all(rows[k] == "new" for k in range(5, 8))


def test_append_merge_schema_fills_missing_committed_column(spark, vt):
    vt.overwrite(_df(spark, 0, 3))
    narrow = spark.range(3, 5).select(F.col("id").alias("k"))  # no v
    vt.append(narrow, merge_schema=True)
    rows = {r.k: r.v for r in vt.read().collect()}
    assert rows[4] is None and rows[1] == 2


def test_append_without_merge_schema_stays_strict(spark, vt):
    vt.overwrite(_df(spark, 0, 3))
    wide = _df(spark, 3, 4).withColumn("oops", F.lit(1))
    with pytest.raises(ValueError, match="schema mismatch"):
        vt.append(wide)


def test_time_travel_reads_pre_evolution_schema(spark, vt):
    vt.overwrite(_df(spark, 0, 3))
    vt.append(_df(spark, 3, 5).withColumn("tag", F.lit("t")), merge_schema=True)
    assert vt.read(version_as_of=1).columns == ["k", "v"]
    assert vt.read().columns == ["k", "v", "tag"]


def test_merge_schema_evolution_survives_lost_race(spark, vt, monkeypatch):
    """An evolving append that loses the manifest race to a plain
    append must still commit the UNION schema (its own new column
    survives) without rewriting any data file."""
    vt.overwrite(_df(spark, 0, 3))
    real_latest = vt._latest
    raced = {"done": False}

    def latest_with_interloper():
        out = real_latest()
        if not raced["done"]:
            raced["done"] = True
            # interloper commits between our read and our publish
            VersionedTable(spark, vt.path, stats_cols=("k",)).append(
                _df(spark, 100, 102)
            )
        return out

    monkeypatch.setattr(vt, "_latest", latest_with_interloper)
    vt.append(
        _df(spark, 3, 5).withColumn("tag", F.lit("t")), merge_schema=True
    )
    got = vt.read()
    assert got.columns == ["k", "v", "tag"]
    rows = {r.k: r.tag for r in got.collect()}
    assert rows[101] is None and rows[4] == "t"
    assert got.count() == 7


# -- table_changes: row-level change feed (round-7) -------------------------


def _cdf_rows(df):
    return sorted(
        (r._commit_version, r._change_type)
        + tuple(r[c] for c in df.columns if not c.startswith("_"))
        for r in df.collect()
    )


def test_table_changes_append_and_delete(spark, tmp_path):
    from diabetes_etl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "cdf"))
    vt.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))  # v1
    vt.append(spark.createDataFrame([(3, "c")], "id long, v string"))  # v2
    vt.delete_where("id = 1")  # v3

    ch = vt.table_changes(1)
    rows = _cdf_rows(ch)
    assert (2, "insert", 3, "c") in rows
    assert (3, "delete", 1, "a") in rows
    # row 2 never changed after v1: absent from the feed
    assert not any(r[2] == 2 for r in rows)


def test_table_changes_upsert_is_delete_plus_insert(spark, tmp_path):
    from diabetes_etl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "cdf2"), stats_cols=("id",))
    vt.overwrite(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, x double")
    )
    vt.merge(
        spark.createDataFrame([(2, 25.0), (3, 30.0)], "id long, x double"),
        key_col="id",
    )
    rows = _cdf_rows(vt.table_changes(1))
    assert (2, "delete", 2, 20.0) in rows
    assert (2, "insert", 2, 25.0) in rows
    assert (2, "insert", 3, 30.0) in rows
    # id 1 lives in a rewritten-or-carried file; if its file was
    # rewritten the unchanged ROW still cancels in exceptAll
    assert not any(r[1:] == ("delete", 1, 10.0) for r in rows)
    assert not any(r[1:] == ("insert", 1, 10.0) for r in rows)


def test_table_changes_skips_untouched_files(spark, tmp_path):
    """The common-file cancellation: an append's diff must read only
    the new files (the big v1 file is in both manifests)."""
    from diabetes_etl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "cdf3"))
    vt.overwrite(spark.range(1000).selectExpr("id", "id * 2 AS y"))  # v1
    vt.append(spark.createDataFrame([(5000, 1)], "id long, y long"))  # v2
    old_doc = vt._manifest_at(1)
    new_doc = vt._manifest_at(2)
    old_only, new_only = vt._changed_file_sets(old_doc, new_doc)
    assert old_only == []  # append rewrites nothing
    assert sum(e.get("rows", 0) for e in new_only) == 1
    rows = _cdf_rows(vt.table_changes(1))
    assert rows == [(2, "insert", 5000, 1)]


def test_table_changes_bad_range_and_vacuum_horizon(spark, tmp_path):
    import pytest as _pytest

    from diabetes_etl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "cdf4"))
    vt.overwrite(spark.createDataFrame([(1,)], "id long"))
    with _pytest.raises(ValueError, match="must be >"):
        vt.table_changes(1)
    for i in range(4):
        vt.append(spark.createDataFrame([(10 + i,)], "id long"))
    vt.vacuum(keep_last=2)
    with _pytest.raises(ValueError, match="vacuumed"):
        vt.table_changes(1).collect()


def test_table_changes_feeds_cdc_aggregate_maintenance(spark, tmp_path):
    """End-to-end: the change feed's (insert/delete) rows drive the
    retraction-aware aggregate maintenance — maintained view equals
    the aggregate of the CURRENT snapshot."""
    from pyspark.sql import functions as F

    from diabetes_etl_spark.sources.versioned import VersionedTable
    from diabetes_etl_spark.streaming.aggmaint import merge_cdc_partial_aggs

    src = VersionedTable(spark, str(tmp_path / "cdf_src"), stats_cols=("k",))
    view = VersionedTable(spark, str(tmp_path / "cdf_view"))
    src.overwrite(
        spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 3.0)], "k string, v double"
        )
    )  # v1
    # bootstrap the view from the v1 snapshot
    boot = src.read(version_as_of=1).withColumn("op", F.lit("I"))
    merge_cdc_partial_aggs(view, boot, ["k"], "op", ["v"])
    src.merge(
        spark.createDataFrame([("b", 9.0)], "k string, v double"), key_col="k"
    )  # upsert changes nothing keyed... merge on k rewrites b rows
    src.delete_where("k = 'a' AND v = 1.0")
    feed = src.table_changes(1).withColumn(
        "op", F.when(F.col("_change_type") == "insert", "I").otherwise("D")
    )
    merge_cdc_partial_aggs(view, feed, ["k"], "op", ["v"])
    got = sorted((r.k, r.n_rows, str(r.sum_v)) for r in view.read().collect())
    want = sorted(
        (r.k, r.n_rows, str(r.sum_v))
        for r in src.read()
        .groupBy("k")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("v").cast("decimal(28,2)")).alias("sum_v"),
        )
        .collect()
    )
    assert got == want


# -- per-file Bloom point-lookup pruning (round-7) ---------------------------


def test_bloom_point_lookup_prunes_files(spark, tmp_path):
    from diabetes_etl_spark.sources.versioned import (
        VersionedTable,
        _bloom_maybe_contains,
    )

    vt = VersionedTable(
        spark, str(tmp_path / "blm"), bloom_cols=("key",)
    )
    df = spark.range(4000).selectExpr(
        "concat('user-', id) AS key", "id AS v"
    ).repartitionByRange(8, "v")
    vt.overwrite(df)
    _, doc = vt._latest()
    assert len(doc["files"]) >= 4
    assert all("key" in e.get("bloom", {}) for e in doc["files"])
    # a present key: exactly its rows come back
    got = vt.read(point=("key", "user-1234")).collect()
    assert [(r.key, r.v) for r in got] == [("user-1234", 1234)]
    # pruning really happens: most files' blooms reject the key
    kept = sum(
        1
        for e in doc["files"]
        if _bloom_maybe_contains(
            e["bloom"]["key"], "user-1234", vt.bloom_m, vt.bloom_k
        )
    )
    assert kept < len(doc["files"])
    # an absent key: empty result (usually zero files read; a bloom
    # false positive just costs a residual-filtered read)
    assert vt.read(point=("key", "no-such-user")).count() == 0


def test_bloom_point_lookup_is_never_a_correctness_decision(spark, tmp_path):
    """Files without a bloom for the column are conservatively kept:
    a table whose early commits predate bloom_cols still answers point
    reads correctly."""
    from diabetes_etl_spark.sources.versioned import VersionedTable

    plain = VersionedTable(spark, str(tmp_path / "blm2"))
    plain.overwrite(
        spark.createDataFrame([("a", 1), ("b", 2)], "key string, v int")
    )
    bloomy = VersionedTable(
        spark, str(tmp_path / "blm2"), bloom_cols=("key",)
    )
    bloomy.append(
        spark.createDataFrame([("c", 3)], "key string, v int")
    )
    assert [
        (r.key, r.v) for r in bloomy.read(point=("key", "a")).collect()
    ] == [("a", 1)]
    assert [
        (r.key, r.v) for r in bloomy.read(point=("key", "c")).collect()
    ] == [("c", 3)]


def test_bloom_words_match_operator_family(spark, tmp_path):
    """The file bloom uses the same pairwise-independent family as
    operators/sketch.py — integer keys hash via their string form,
    matching Spark's CAST."""
    from diabetes_etl_spark.sources.versioned import (
        _bloom_maybe_contains,
        _file_bloom_words,
        VersionedTable,
    )

    vt = VersionedTable(spark, str(tmp_path / "blm3"), bloom_cols=("k",))
    vt.overwrite(
        spark.createDataFrame([(i,) for i in range(50)], "k long").coalesce(1)
    )
    _, doc = vt._latest()
    e = next(e for e in doc["files"] if "k" in e.get("bloom", {}))
    for i in range(50):
        assert _bloom_maybe_contains(e["bloom"]["k"], i, 4096, 3)
    misses = sum(
        _bloom_maybe_contains(e["bloom"]["k"], 10_000 + i, 4096, 3)
        for i in range(200)
    )
    assert misses < 10  # fp rate far below the 5% envelope at n=50


# -- metadata-only aggregates ------------------------------------------------


def test_metadata_aggregates_exact_and_scan_free(spark, tmp_path):
    """COUNT/MIN/MAX from the manifest match a full scan at every
    version — and keep answering after the data files are MOVED AWAY
    (proof no parquet is opened at answer time)."""
    import os
    import shutil

    from diabetes_etl_spark.sources.versioned import VersionedTable

    path = str(tmp_path / "t")
    vt = VersionedTable(spark, path, stats_cols=("k", "v", "s"))
    df1 = spark.createDataFrame(
        [(i, float(i) / 2, f"s{i}") for i in range(10)],
        "k long, v double, s string",
    )
    vt.overwrite(df1)
    vt.append(
        spark.createDataFrame(
            [(i, float(i) * 3, f"s{i}") for i in range(10, 25)],
            "k long, v double, s string",
        ).repartition(3)
    )
    vt.delete_where("k < 5")

    for ver in (1, 2, 3):
        m = vt.metadata_aggregates(version=ver)
        rows = vt.read(version_as_of=ver).collect()
        assert m["n_rows"] == len(rows), ver
        ks = [r.k for r in rows]
        vs = [r.v for r in rows]
        assert m["stats"]["k"] == (min(ks), max(ks)), ver
        assert m["stats"]["v"] == (min(vs), max(vs)), ver
        # strings refuse (footer min/max may be truncated bounds)
        assert m["stats"]["s"] is None
    latest = vt.metadata_aggregates()
    assert latest["version"] == 3
    assert latest["n_files"] >= 1 and latest["n_bytes"] > 0

    # the scan-free proof: hide the data, the manifest still answers
    shutil.move(os.path.join(path, "_data"), str(tmp_path / "hidden"))
    m = vt.metadata_aggregates(version=3)
    assert m["n_rows"] == latest["n_rows"]
    assert m["stats"]["k"] == latest["stats"]["k"]


def test_metadata_aggregates_empty_and_missing(spark, tmp_path):
    import pytest as _pytest

    from diabetes_etl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "e"), stats_cols=("k",))
    with _pytest.raises(ValueError, match="no commits"):
        vt.metadata_aggregates()
    vt.overwrite(spark.createDataFrame([(1,)], "k long"))
    with _pytest.raises(ValueError, match="does not exist"):
        vt.metadata_aggregates(version=7)
