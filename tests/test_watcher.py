"""File-arrival trigger tests (SURVEY.md §2.8 operational entry point;
reference: src/diabetes_etl_pipeline.py:10 — "Pipeline will
automatically trigger when new CSV files are uploaded").

The trigger fires a fresh PipelineRunner per arrival; the streaming
checkpoint keeps ingestion incremental and exactly-once no matter how
many times the trigger fires.
"""

from __future__ import annotations

import os
import shutil
import threading

import pytest

from diabetes_etl_spark.context import RunContext
from diabetes_etl_spark.diabetes.pipeline_def import build_diabetes_pipeline
from diabetes_etl_spark.pipeline.registry import PipelineRunner
from diabetes_etl_spark.streaming.watcher import FileArrivalTrigger
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


def test_file_arrival_fires_incremental_runs(spark, tmp_path, csv_dir):
    src = tmp_path / "landing"
    src.mkdir()
    wh = str(tmp_path / "wh")
    ctx = RunContext(fixed_now="2024-06-01 12:00:00", fixed_run_id="watch")

    def run_pipeline():
        # fresh runner per update (runners memoize); same warehouse +
        # checkpoint = incremental exactly-once across runs
        PipelineRunner(
            build_diabetes_pipeline(str(src), ctx=ctx, streaming=True),
            spark,
            mode="warehouse",
            warehouse=wh,
        ).run(["diabetes_bronze"])

    trig = FileArrivalTrigger((str(src),), run_pipeline, poll_interval=0.05)

    # empty dir, nothing new -> no run
    assert trig.poll_once() is False
    assert trig.runs == 0

    # file arrives -> a run fires and ingests it
    shutil.copy(f"{csv_dir}/diabetes_part_1.csv", src / "part_1.csv")
    assert trig.poll_once() is True
    assert spark.read.parquet(f"{wh}/diabetes_bronze").count() == 128

    # no change -> no run
    assert trig.poll_once() is False
    assert trig.runs == 1

    # second arrival -> incremental run, no re-ingest of file 1
    shutil.copy(f"{csv_dir}/diabetes_part_2.csv", src / "part_2.csv")
    assert trig.poll_once() is True
    bronze = spark.read.parquet(f"{wh}/diabetes_bronze")
    assert bronze.count() == 256
    assert bronze.select("file_name").distinct().count() == 2


def test_watch_loop_background_thread(spark, tmp_path, csv_dir):
    src = tmp_path / "landing"
    src.mkdir()
    wh = str(tmp_path / "wh")
    ctx = RunContext(fixed_now="2024-06-01 12:00:00", fixed_run_id="watch2")
    ran = threading.Event()

    def run_pipeline():
        PipelineRunner(
            build_diabetes_pipeline(str(src), ctx=ctx, streaming=True),
            spark,
            mode="warehouse",
            warehouse=wh,
        ).run(["diabetes_bronze"])
        ran.set()

    trig = FileArrivalTrigger((str(src),), run_pipeline, poll_interval=0.05)
    stop = threading.Event()
    t = trig.start_background(stop, max_runs=1, timeout=30)
    shutil.copy(f"{csv_dir}/diabetes_part_3.csv", src / "part_3.csv")
    assert ran.wait(timeout=60), "watcher never fired on file arrival"
    stop.set()
    t.join(timeout=30)
    assert trig.runs == 1
    assert spark.read.parquet(f"{wh}/diabetes_bronze").count() == 128


def test_watch_survives_failed_run(tmp_path):
    """A run that raises (e.g. ExpectationFailed from a staged-publish
    validation) must NOT kill the watch loop: the error is recorded and
    later arrivals still fire runs (round-3 ADVICE, medium)."""
    src = tmp_path / "landing"
    src.mkdir()
    calls = []

    def run_pipeline():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("expectation failed on update 1")

    trig = FileArrivalTrigger(
        (str(src),), run_pipeline, poll_interval=0.01
    )
    stop = threading.Event()
    t = trig.start_background(stop, max_runs=1, timeout=20)
    (src / "bad.csv").write_text("a\n1\n")
    # wait until the failing run has been attempted
    for _ in range(1000):
        if trig.errors:
            break
        stop.wait(0.01)
    assert trig.errors == 1
    assert isinstance(trig.last_error, RuntimeError)
    assert trig.runs == 0  # failed run doesn't count as completed
    # a NEW arrival after the failure still triggers a (now clean) run
    (src / "good.csv").write_text("a\n2\n")
    for _ in range(1000):
        if trig.runs:
            break
        stop.wait(0.01)
    stop.set()
    t.join(timeout=10)
    assert trig.runs == 1
    assert len(calls) == 2


def test_time_based_refresh_fires_without_arrivals(tmp_path):
    """refresh_interval fires bounded runs on a clock even when the
    listing never changes — the reference's scheduled 1-min dashboard
    refresh cadence (VERDICT round 3, next-round #8)."""
    src = tmp_path / "landing"
    src.mkdir()
    fired = []
    trig = FileArrivalTrigger(
        (str(src),),
        lambda: fired.append(1),
        poll_interval=0.01,
        refresh_interval=0.05,
    )
    stop = threading.Event()
    n = trig.watch(stop=stop, max_runs=3, timeout=20)
    assert n == 3
    assert len(fired) == 3


def test_no_refresh_interval_means_arrival_only(tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    fired = []
    trig = FileArrivalTrigger(
        (str(src),), lambda: fired.append(1), poll_interval=0.01
    )
    stop = threading.Event()
    n = trig.watch(stop=stop, timeout=0.2)
    assert n == 0 and fired == []


def test_ignores_hidden_and_foreign_files(tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    fired = []
    trig = FileArrivalTrigger(
        (str(src),), lambda: fired.append(1), poll_interval=0.01
    )
    (src / ".inprogress.csv").write_text("x")
    (src / "_SUCCESS").write_text("")
    (src / "notes.txt").write_text("not a csv")
    assert trig.poll_once() is False
    (src / "real.csv").write_text("a,b\n1,2\n")
    assert trig.poll_once() is True
    assert fired == [1]


def test_refresh_interval_does_not_fire_immediately(tmp_path):
    """run_on_start=False + refresh_interval must NOT fire on the first
    poll: the refresh clock starts at watcher start, not at epoch."""
    src = tmp_path / "landing"
    src.mkdir()
    (src / "preexisting.csv").write_text("a,b\n1,2\n")
    fired = []
    trig = FileArrivalTrigger(
        (str(src),),
        lambda: fired.append(1),
        poll_interval=0.01,
        refresh_interval=10.0,
    )
    stop = threading.Event()
    n = trig.watch(stop=stop, timeout=0.2)
    assert n == 0 and fired == []
