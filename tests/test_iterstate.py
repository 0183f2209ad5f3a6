"""Round-state store (operators/iterstate.py:RoundStore) contract, in
both media: durable (committed parquet under a work_dir) and volatile
(executor checkpoints and driver rows)."""

from __future__ import annotations

import os
import pathlib

import pytest

from diabetes_etl_spark.operators.iterstate import RoundStore


@pytest.fixture(params=["durable", "volatile"])
def store(request, spark, tmp_path):
    wd = str(tmp_path / "wd") if request.param == "durable" else None
    return RoundStore(spark, wd, "round", partitions=2)


def test_resume_returns_highest_committed_round_and_skips_junk(
    spark, store
):
    for k in range(3):
        store.commit(k, spark.range(5).selectExpr(f"id + {k} AS v"))
    if store.work_dir is None:
        assert store.resume(5) is None
        return
    # a partial write: the round directory exists but has no _SUCCESS
    junk = os.path.join(store.work_dir, "round_00003")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    k, df = store.resume(5)
    assert k == 2
    assert sorted(r.v for r in df.collect()) == [2, 3, 4, 5, 6]
    # rounds above max_round are out of reach
    assert store.resume(1)[0] == 1


def test_markers_persist_only_in_durable_medium(spark, store):
    assert not store.marked("CONVERGED")
    store.mark("CONVERGED", 4)
    if store.work_dir is None:
        assert not store.marked("CONVERGED")
    else:
        assert store.marked("CONVERGED")
        again = RoundStore(spark, store.work_dir, "round")
        assert again.marked("CONVERGED")
        assert not again.marked("STAR_SWITCH")


def test_commit_rows_keeps_exact_doubles_in_both_media(spark, tmp_path):
    vals = [0.1, 1 / 3, 2.0**-40, -1e300, 5e-324, 123456.789012345678]
    df = spark.createDataFrame(list(enumerate(vals)), "i int, c double")
    got = {}
    for medium, wd in (("durable", str(tmp_path / "d")), ("volatile", None)):
        out = RoundStore(spark, wd, "centroids").commit_rows(0, df)
        got[medium] = sorted((r.i, r.c) for r in out.collect())
    assert got["durable"] == got["volatile"] == list(enumerate(vals))


def test_durable_snapshot_is_written_once(spark, tmp_path):
    wd = str(tmp_path / "wd")
    first = RoundStore(spark, wd).snapshot("points", spark.range(4))
    assert first.count() == 4
    stamp = os.path.getmtime(os.path.join(wd, "points", "_SUCCESS"))
    # a rerun reuses the committed snapshot instead of recomputing it
    again = RoundStore(spark, wd).snapshot("points", spark.range(99))
    assert sorted(r.id for r in again.collect()) == [0, 1, 2, 3]
    assert os.path.getmtime(os.path.join(wd, "points", "_SUCCESS")) == stamp


def test_only_iterstate_handles_round_commits():
    """Round paths, _SUCCESS checks and markers live in one module."""
    ops = pathlib.Path(__file__).resolve().parents[1] / (
        "diabetes_etl_spark/operators"
    )
    for path in sorted(ops.glob("*.py")):
        if path.name == "iterstate.py":
            continue
        src = path.read_text(encoding="utf-8")
        assert "_SUCCESS" not in src, path.name
        assert "def _round_path" not in src, path.name
        assert "_connected_components_volatile" not in src, path.name
