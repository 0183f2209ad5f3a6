"""Round-8 maintenance features (round-7 VERDICT #4/#5/#6/#8):

- the Delta-`txn` idempotence handshake on the versioned table
  (consumer cursors committed atomically with the data, carried
  forward and restored with rollback);
- schema evolution type WIDENING (int chain, float→double) on
  merge_schema appends, with loud errors on incompatible changes;
- MIN/MAX maintenance under retractions via bounded per-group
  candidate state (exact while the extremum stays within k retained;
  flagged recompute otherwise).
"""

from __future__ import annotations

import pytest

from diabetes_etl_spark.sources.versioned import VersionedTable
from diabetes_etl_spark.streaming.aggmaint import maintain_minmax_state


# -- application transaction ids (app_txn) ----------------------------------


def test_app_txn_survives_unrelated_commits(spark, tmp_path):
    """An unrelated writer's commit must carry the consumer cursor
    forward, not erase it (the Delta `txn` carry-forward)."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1,)], "k long")
    t.overwrite(df, app_txn=("feed", 7))
    assert t.last_app_version("feed") == 7
    t.append(df)  # unrelated append, no app_txn
    assert t.last_app_version("feed") == 7
    t.overwrite(df, app_txn=("feed", 9))
    assert t.last_app_version("feed") == 9
    assert t.last_app_version("other") is None


def test_rollback_restores_app_txn_cursor_with_data(spark, tmp_path):
    """Round-8 ADVICE medium regression: rollback() must restore the
    rolled-back version's app_txn map, not carry the LATEST map
    forward — otherwise a consumer view restores old data while
    keeping the newer feed cursor and the gap is never re-consumed."""
    t = VersionedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1,)], "k long")
    v_at_7 = t.overwrite(df, app_txn=("feed", 7))
    t.overwrite(spark.createDataFrame([(2,)], "k long"), app_txn=("feed", 9))
    assert t.last_app_version("feed") == 9

    t.rollback(v_at_7)
    # data AND cursor rewind together: the consumer re-reads upstream
    # versions 8..9 instead of silently skipping them
    assert [r.k for r in t.read().collect()] == [1]
    assert t.last_app_version("feed") == 7

    # rolling back to a pre-cursor version clears the cursor too
    if v_at_7 > 1:
        t.rollback(v_at_7 - 1)
        assert t.last_app_version("feed") is None


# -- schema evolution: type widening ----------------------------------------


def test_merge_schema_widens_int_to_long(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 10)], "k int, v int"))
    big = spark.createDataFrame([(2, 2**40)], "k int, v long")
    t.append(big, merge_schema=True)
    got = t.read()
    assert dict(got.dtypes)["v"] == "bigint"
    rows = {r.k: r.v for r in got.collect()}
    # pre-widening file's int32 values read correctly under bigint
    assert rows[1] == 10 and rows[2] == 2**40
    # time travel: v1 keeps its committed narrow schema
    assert dict(t.read(version_as_of=1).dtypes)["v"] == "int"


def test_merge_schema_widens_float_to_double_and_narrow_upcasts(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 1.5)], "k int, v float"))
    t.append(
        spark.createDataFrame([(2, 2.25)], "k int, v double"),
        merge_schema=True,
    )
    assert dict(t.read().dtypes)["v"] == "double"
    # a NARROWER batch after the widening upcasts to the table type
    t.append(
        spark.createDataFrame([(3, 3.5)], "k int, v float"),
        merge_schema=True,
    )
    assert dict(t.read().dtypes)["v"] == "double"
    assert {r.k: r.v for r in t.read().collect()} == {
        1: 1.5, 2: 2.25, 3: 3.5,
    }


def test_merge_schema_incompatible_change_fails_loudly(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 10)], "k int, v int"))
    bad = spark.createDataFrame([(2, "oops")], "k int, v string")
    with pytest.raises(ValueError, match="incompatible schema change"):
        t.append(bad, merge_schema=True)
    # int-chain vs float-chain never silently cross (precision loss)
    lossy = spark.createDataFrame([(2, 2.5)], "k int, v double")
    with pytest.raises(ValueError, match="incompatible schema change"):
        t.append(lossy, merge_schema=True)


# -- min/max under retraction -----------------------------------------------


def _mm_batch(spark, *tuples):
    return spark.createDataFrame(
        list(tuples), "g string, v double, op string"
    )


def test_minmax_deleting_current_max_stays_exact_within_k(spark, tmp_path):
    store = VersionedTable(spark, str(tmp_path / "mm"))
    ins = [("a", float(v), "I") for v in range(1, 21)]
    maintain_minmax_state(
        store, _mm_batch(spark, *ins), ["g"], "v", "op", k=4
    )
    row = store.read().first()
    assert row.group_max == 20.0 and row.n_rows == 20
    assert row.candidates == [20.0, 19.0, 18.0, 17.0]
    assert row.trunc_floor == 16.0

    # delete the current max twice across separate batches — the
    # candidate state absorbs both exactly
    maintain_minmax_state(
        store, _mm_batch(spark, ("a", 20.0, "D")), ["g"], "v", "op", k=4
    )
    assert store.read().first().group_max == 19.0
    maintain_minmax_state(
        store,
        _mm_batch(spark, ("a", 19.0, "D"), ("a", 18.0, "D")),
        ["g"], "v", "op", k=4,
    )
    row = store.read().first()
    assert row.group_max == 17.0 and row.n_rows == 17
    assert not row.needs_recompute

    # a fresh insert above the watermark re-fills the pool
    maintain_minmax_state(
        store, _mm_batch(spark, ("a", 42.0, "I")), ["g"], "v", "op", k=4
    )
    assert store.read().first().group_max == 42.0


def test_minmax_flags_recompute_when_candidates_exhaust(spark, tmp_path):
    store = VersionedTable(spark, str(tmp_path / "mm"))
    ins = [("a", float(v), "I") for v in range(1, 11)]
    maintain_minmax_state(
        store, _mm_batch(spark, *ins), ["g"], "v", "op", k=3
    )
    dels = [("a", float(v), "D") for v in (10, 9, 8)]
    maintain_minmax_state(
        store, _mm_batch(spark, *dels), ["g"], "v", "op", k=3
    )
    row = store.read().first()
    # 7 rows survive but every candidate was deleted: the true max (7)
    # hides among truncated history — flagged, never guessed
    assert row.n_rows == 7
    assert row.group_max is None
    assert row.needs_recompute


def test_minmax_group_disappears_at_zero_and_min_mode(spark, tmp_path):
    store = VersionedTable(spark, str(tmp_path / "mm"))
    maintain_minmax_state(
        store,
        _mm_batch(spark, ("a", 5.0, "I"), ("a", 3.0, "I"), ("b", 1.0, "I")),
        ["g"], "v", "op", k=2, mode="min",
    )
    rows = {r.g: r for r in store.read().collect()}
    assert rows["a"].group_min == 3.0 and rows["b"].group_min == 1.0
    # deleting a's two rows removes the group entirely
    maintain_minmax_state(
        store,
        _mm_batch(spark, ("a", 5.0, "D"), ("a", 3.0, "D")),
        ["g"], "v", "op", k=2, mode="min",
    )
    assert [r.g for r in store.read().collect()] == ["b"]


def test_minmax_tie_at_watermark_delete_not_dominated(spark, tmp_path):
    """Round-8 ADVICE high regression: deleting a pool-RESIDENT value
    that ties ``trunc_floor`` must remove it from the pool, not be
    skipped as dominated.  k=2, insert [9,5,5,3] then delete [9,5,5]:
    the old ``v <= floor`` pre-check left a stale 5 in the pool and
    reported group_max=5.0 with needs_recompute=False while the true
    surviving max is 3.0."""
    store = VersionedTable(spark, str(tmp_path / "mm"))
    maintain_minmax_state(
        store,
        _mm_batch(
            spark, ("a", 9.0, "I"), ("a", 5.0, "I"),
            ("a", 5.0, "I"), ("a", 3.0, "I"),
        ),
        ["g"], "v", "op", k=2,
    )
    row = store.read().first()
    assert row.candidates == [9.0, 5.0] and row.trunc_floor == 5.0

    maintain_minmax_state(
        store,
        _mm_batch(spark, ("a", 9.0, "D"), ("a", 5.0, "D"), ("a", 5.0, "D")),
        ["g"], "v", "op", k=2,
    )
    row = store.read().first()
    assert row.n_rows == 1
    # never a silently wrong answer: the pool exhausted (the second 5
    # was a truncated copy), so the group flags for recompute instead
    # of reporting the stale 5.0
    assert row.group_max is None and row.needs_recompute


def test_minmax_tie_at_watermark_partial_delete_stays_exact(spark, tmp_path):
    """Sibling of the tie regression where the pool still holds a live
    tie copy afterwards: k=3, insert [9,5,5,5,3] truncates one 5; the
    floor-tying delete removes a pool copy and the reported max stays
    exact without a recompute."""
    store = VersionedTable(spark, str(tmp_path / "mm"))
    maintain_minmax_state(
        store,
        _mm_batch(
            spark, ("a", 9.0, "I"), ("a", 5.0, "I"), ("a", 5.0, "I"),
            ("a", 5.0, "I"), ("a", 3.0, "I"),
        ),
        ["g"], "v", "op", k=3,
    )
    row = store.read().first()
    assert row.candidates == [9.0, 5.0, 5.0] and row.trunc_floor == 5.0

    maintain_minmax_state(
        store,
        _mm_batch(spark, ("a", 9.0, "D"), ("a", 5.0, "D")),
        ["g"], "v", "op", k=3,
    )
    row = store.read().first()
    assert row.group_max == 5.0 and row.n_rows == 3
    assert not row.needs_recompute
    # deleting the remaining two 5s (one pool-resident, one truncated)
    # exhausts the pool — flagged, with the surviving 3 recoverable
    maintain_minmax_state(
        store,
        _mm_batch(spark, ("a", 5.0, "D"), ("a", 5.0, "D")),
        ["g"], "v", "op", k=3,
    )
    row = store.read().first()
    assert row.n_rows == 1
    assert row.group_max is None and row.needs_recompute


def test_minmax_rejects_bogus_retraction_and_ops(spark, tmp_path):
    store = VersionedTable(spark, str(tmp_path / "mm"))
    maintain_minmax_state(
        store, _mm_batch(spark, ("a", 5.0, "I")), ["g"], "v", "op", k=4
    )
    from py4j.protocol import Py4JJavaError

    with pytest.raises((Py4JJavaError, Exception), match="no matching"):
        maintain_minmax_state(
            store, _mm_batch(spark, ("a", 99.0, "D")), ["g"], "v", "op", k=4
        )
    with pytest.raises(ValueError, match="unknown op code"):
        maintain_minmax_state(
            store, _mm_batch(spark, ("a", 1.0, "X")), ["g"], "v", "op", k=4
        )


# -- shallow clone ----------------------------------------------------------


def test_shallow_clone_reads_source_and_diverges_independently(spark, tmp_path):
    src = VersionedTable(spark, str(tmp_path / "src"), stats_cols=("k",))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, g string")
    src.overwrite(df)
    src.append(spark.createDataFrame([(3, "c")], "k long, g string"))

    clone = src.clone_to(str(tmp_path / "clone"))
    assert sorted(r.k for r in clone.read().collect()) == [1, 2, 3]
    # zero data copied: the clone has no _data dir yet
    import os as _os

    assert not _os.path.isdir(str(tmp_path / "clone" / "_data"))

    # divergence: writes to the clone never touch the source...
    clone.append(spark.createDataFrame([(4, "d")], "k long, g string"))
    assert sorted(r.k for r in clone.read().collect()) == [1, 2, 3, 4]
    assert sorted(r.k for r in src.read().collect()) == [1, 2, 3]
    # ...and source writes never change the clone (frozen file list)
    src.delete_where("k <= 2")
    assert sorted(r.k for r in clone.read().collect()) == [1, 2, 3, 4]

    # clone vacuum reaps only its own run dirs: source files survive
    clone.append(spark.createDataFrame([(5, "e")], "k long, g string"))
    clone.vacuum(keep_last=1)
    assert sorted(r.k for r in src.read().collect()) == [3]


def test_shallow_clone_of_old_version_and_occupied_dest(spark, tmp_path):
    import pytest as _pytest

    src = VersionedTable(spark, str(tmp_path / "src"))
    src.overwrite(spark.createDataFrame([(1,)], "k long"))
    src.append(spark.createDataFrame([(2,)], "k long"))
    old = src.clone_to(str(tmp_path / "old"), version_as_of=1)
    assert [r.k for r in old.read().collect()] == [1]
    with _pytest.raises(ValueError, match="already has commits"):
        src.clone_to(str(tmp_path / "old"))


# -- N-column Z-order -------------------------------------------------------


def test_zorder_three_columns_prunes_all_dimensions(spark, tmp_path):
    """compact(zorder_by=(x, y, z)) must leave every clustered
    dimension file-prunable: after clustering, a narrow between= on
    ANY of the three columns skips files."""
    import random

    t = VersionedTable(
        spark, str(tmp_path / "t"), stats_cols=("x", "y", "z")
    )
    rng = random.Random(5)
    rows = [
        (rng.randrange(1024), rng.randrange(1024), rng.randrange(1024))
        for _ in range(4000)
    ]
    from diabetes_etl_spark.sources.versioned import _zorder

    df = spark.createDataFrame(rows, "x int, y int, z int").repartition(8)
    t.overwrite(_zorder(df, ("x", "y", "z"), 8))
    v, doc = t._latest()
    n_files = len([e for e in doc["files"] if e["rows"] > 0])
    assert n_files > 1

    def pruned(col):
        files = [
            e for e in doc["files"]
            if col in e.get("stats", {})
            and not (e["stats"][col][1] < 0 or e["stats"][col][0] > 127)
        ]
        return n_files - len(files)

    for col in ("x", "y", "z"):
        assert pruned(col) > 0, col
    # correctness unchanged
    got = t.read(between=("y", 0, 127)).count()
    assert got == sum(1 for _, y, _ in rows if y <= 127)


def test_zorder_rejects_single_column(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"), stats_cols=("x",))
    t.overwrite(spark.createDataFrame([(i,) for i in range(100)], "x int")
                .repartition(4))
    with pytest.raises(ValueError, match="at least 2"):
        t.compact(target_bytes=1 << 30, zorder_by=("x",))


# -- CHECK constraints ------------------------------------------------------


def test_check_constraints_guard_every_write_path(spark, tmp_path):
    t = VersionedTable(
        spark, str(tmp_path / "t"), stats_cols=("k",),
        constraints=("v >= 0", "k IS NOT NULL"),
    )
    ok = spark.createDataFrame([(1, 5.0), (2, 0.0)], "k long, v double")
    t.overwrite(ok)

    bad = spark.createDataFrame([(3, -1.0)], "k long, v double")
    with pytest.raises(ValueError, match="CHECK constraint violated.*v >= 0"):
        t.append(bad)
    # failed write left no trace: same version, same rows
    assert len(t.history()) == 1
    assert t.read().count() == 2

    # NULL evaluates as a violation (strict guard semantics)
    nullish = spark.createDataFrame(
        [(4, None)], "k long, v double"
    )
    with pytest.raises(ValueError, match="v >= 0"):
        t.append(nullish)

    # merge path validates too
    with pytest.raises(ValueError, match="v >= 0"):
        t.merge(spark.createDataFrame([(1, -9.0)], "k long, v double"), "k")

    # clean writes flow through every path
    t.append(spark.createDataFrame([(5, 1.5)], "k long, v double"))
    t.merge(spark.createDataFrame([(1, 7.0)], "k long, v double"), "k")
    t.delete_where("k = 2")
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows == {1: 7.0, 5: 1.5}


def test_minmax_null_values_dropped_not_confused_with_state(spark, tmp_path):
    """NULL-valued delta rows must be dropped (SQL MIN/MAX
    convention), never parsed as the state row inside the merge."""
    store = VersionedTable(spark, str(tmp_path / "mm"))
    batch = spark.createDataFrame(
        [("a", 5.0, "I"), ("a", None, "I"), ("b", None, "I")],
        "g string, v double, op string",
    )
    maintain_minmax_state(store, batch, ["g"], "v", "op", k=4)
    rows = {r.g: r for r in store.read().collect()}
    assert rows["a"].group_max == 5.0 and rows["a"].n_rows == 1
    assert "b" not in rows  # all-null group contributes nothing
    # second batch with nulls against existing state
    maintain_minmax_state(
        store,
        spark.createDataFrame(
            [("a", None, "D"), ("a", 7.0, "I")],
            "g string, v double, op string",
        ),
        ["g"], "v", "op", k=4,
    )
    assert store.read().first().group_max == 7.0
