"""Regression tests for the round-9 ADVICE findings (fixed round 10).

1. **(high)** ``VersionedStreamReader`` with ``maxVersionsPerTrigger``
   must be restart-safe on the CLEAN-restart path, where Spark calls
   ``latestOffset()`` BEFORE ``partitions()``: the admission-control
   cursor used to reset to ``startingversion`` on reconstruction, so
   the capped offset could land BEHIND the checkpointed one and the
   next batch would re-emit already-consumed manifest versions.
   ``commit(end)`` now persists a per-stream cursor floor under the
   table path and ``latestOffset()`` never regresses below it.
2. ``dq.verify`` with an empty checks list returns an empty report
   (same schema) instead of raising at plan construction from
   ``F.coalesce(None, ...)``.
3. ``classifier.rank_metrics`` on single-class input (no positives or
   no negatives) yields intentional NULL auc/gini/ks — the repo's
   degenerate-input convention — not silent NaN from a 0 denominator.
4. Resolving an explicit ``versionAsOf`` that does not exist raises
   ``ValueError`` naming the version, instead of a raw
   ``FileNotFoundError`` (the commit log's ``read_at`` contract,
   sources/manifest.py).
5. Iterative-operator scratch dirs come from ``util.scratch_dir``:
   conf-rooted (``spark.diabetes_etl.scratchDir``) for shared
   storage, driver-local tempdir ONLY under a local master, loud
   error otherwise — a driver-local parquet round-trip on a
   multi-node cluster would silently lose executor-written rows
   (the winnow/MMR latent assumption from ADVICE r9).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.classifier import rank_metrics
from diabetes_etl_spark.operators.dq import verify
from diabetes_etl_spark.operators.util import SCRATCH_CONF, scratch_dir
from diabetes_etl_spark.sources.manifest import read_at
from diabetes_etl_spark.sources.vds import VersionedStreamReader


# -- 1. capped stream: clean-restart offset floor ----------------------------


def _mk_manifests(n: int) -> str:
    base = tempfile.mkdtemp(prefix="vds_restart_")
    mdir = os.path.join(base, "_manifests")
    os.makedirs(mdir)
    for v in range(1, n + 1):
        with open(os.path.join(mdir, f"v{v:020d}.json"), "w") as f:
            json.dump({"version": v, "files": [], "schema": "{}"}, f)
    return base


def test_capped_stream_clean_restart_never_regresses_offset():
    base = _mk_manifests(9)
    r = VersionedStreamReader(base, {"maxversionspertrigger": "3"})
    assert r.latestOffset() == {"version": 3}
    r.commit({"version": 3})
    # CLEAN restart: a fresh reader instance gets latestOffset()
    # first (no partitions() call precedes it on this path)
    r2 = VersionedStreamReader(base, {"maxversionspertrigger": "3"})
    off = r2.latestOffset()["version"]
    assert off >= 3, "offset regressed behind the committed version"
    assert off == 6  # floor 3 + cap 3
    shutil.rmtree(base, ignore_errors=True)


def test_capped_stream_cursor_is_per_stream_id():
    base = _mk_manifests(6)
    a = VersionedStreamReader(
        base, {"maxversionspertrigger": "2", "streamid": "a"}
    )
    a.latestOffset()
    a.commit({"version": 2})
    # stream "b" starts from scratch — a's cursor must not leak in
    b = VersionedStreamReader(
        base, {"maxversionspertrigger": "2", "streamid": "b"}
    )
    assert b.latestOffset() == {"version": 2}
    # but a clean restart of "a" resumes at its own floor
    a2 = VersionedStreamReader(
        base, {"maxversionspertrigger": "2", "streamid": "a"}
    )
    assert a2.latestOffset() == {"version": 4}
    shutil.rmtree(base, ignore_errors=True)


def test_capped_stream_torn_cursor_degrades_to_no_floor():
    base = _mk_manifests(4)
    r = VersionedStreamReader(base, {"maxversionspertrigger": "2"})
    r.latestOffset()
    r.commit({"version": 2})
    cursor = os.path.join(base, "_streams", "default.cursor.json")
    with open(cursor, "w") as f:
        f.write("{torn")
    r2 = VersionedStreamReader(base, {"maxversionspertrigger": "2"})
    # unreadable floor -> cap restarts from startingversion, and it
    # never raises.  This direction is safe: partitions() reads
    # exactly the offset-log range, and its restart sync jumps the
    # cursor forward past the checkpoint on the first planned batch.
    assert r2.latestOffset() == {"version": 2}
    shutil.rmtree(base, ignore_errors=True)


# -- 2. dq.verify on an empty checks list ------------------------------------


def test_verify_empty_checks_returns_empty_report(spark):
    metrics = spark.createDataFrame(
        [("rows", 10.0)], "metric string, value double"
    )
    out = verify(metrics, [])
    assert out.columns == ["constraint", "metric", "value", "passed"]
    assert out.count() == 0


# -- 3. rank_metrics degenerate single-class input ---------------------------


def test_rank_metrics_single_class_yields_null_not_nan(spark):
    import math

    one_class = spark.createDataFrame(
        [(0.9, 1), (0.4, 1), (0.1, 1)], "score double, label int"
    )
    row = rank_metrics(one_class, "score", "label").collect()[0]
    assert row["n_pos"] == 3 and row["n_neg"] == 0
    for k in ("auc", "gini", "ks"):
        assert row[k] is None, f"{k} should be NULL, got {row[k]}"
        assert row[k] is None or not math.isnan(row[k])


# -- 4. versionAsOf error contract --------------------------------------------


def test_resolve_manifest_missing_version_is_value_error():
    base = _mk_manifests(2)
    with pytest.raises(ValueError, match=r"version 99 does not exist"):
        read_at(base, 99)
    shutil.rmtree(base, ignore_errors=True)


# -- 5. scratch_dir placement rules -------------------------------------------


def test_scratch_dir_honors_conf_root(spark):
    root = tempfile.mkdtemp(prefix="scratch_root_")
    spark.conf.set(SCRATCH_CONF, root)
    try:
        p = scratch_dir(spark, "unit_")
        assert p.startswith(root)
        p2 = scratch_dir(spark, "unit_")
        assert p2 != p  # unique per call
    finally:
        spark.conf.unset(SCRATCH_CONF)
        shutil.rmtree(root, ignore_errors=True)


def test_scratch_dir_local_master_falls_back_to_tempdir(spark):
    p = scratch_dir(spark, "unit_")
    assert os.path.isdir(p)


def test_scratch_dir_usable_for_parquet_roundtrip(spark):
    # the exact pattern every iterative operator uses
    p = scratch_dir(spark, "unit_rt_")
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    df.write.mode("overwrite").parquet(p)
    assert spark.read.parquet(p).count() == 10
