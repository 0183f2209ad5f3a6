"""The manifest commit log (sources/manifest.py): highest-parseable
resolution, put-if-absent commits, the read-at-version error contract,
the retention sweep, and the rule that no other module knows the
log's on-disk format."""

from __future__ import annotations

import os
import pathlib
import re
import time

import pytest

from diabetes_etl_spark.sources import manifest
from diabetes_etl_spark.sources.manifest import ConcurrentCommitError

_PKG = pathlib.Path(__file__).resolve().parent.parent / "diabetes_etl_spark"


def _files(doc):
    return (e["path"] for e in doc["files"])


def _commit_run(table: str, version: int, *runs: str) -> None:
    """Write one file into each run dir and commit a manifest whose
    file list is exactly those runs' files."""
    paths = []
    for rid in runs:
        d = os.path.join(table, "_data", rid)
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "part-0.parquet"), "w").close()
        paths.append(f"_data/{rid}/part-0.parquet")
    manifest.publish(table, version, {"files": [{"path": p} for p in paths]})


def _backdate(path: str) -> None:
    old = time.time() - manifest.GRACE_SECONDS - 60
    os.utime(path, (old, old))


def test_torn_newest_manifest_is_skipped(tmp_path):
    table = str(tmp_path)
    manifest.publish(table, 1, {"files": []})
    manifest.publish(table, 2, {"files": []})
    with open(os.path.join(manifest.log_dir(table), f"v{3:020d}.json"), "w") as fh:
        fh.write('{"version": 3, "fi')  # a writer died mid-PUT
    ver, doc = manifest.latest(table)
    assert (ver, doc["version"]) == (2, 2)
    assert manifest.versions(table) == [1, 2, 3]
    assert manifest.latest(str(tmp_path / "empty")) == (0, None)


def test_put_if_absent_conflict_raises(tmp_path):
    table = str(tmp_path)
    manifest.publish(table, 1, {"files": []})
    with pytest.raises(ConcurrentCommitError, match="v1 already committed"):
        manifest.publish(table, 1, {"files": ["other writer"]})
    assert manifest.read_at(table, 1) == {"version": 1, "files": []}
    # no temp file is left behind by either attempt
    assert os.listdir(manifest.log_dir(table)) == [f"v{1:020d}.json"]


def test_missing_or_torn_pinned_version_is_value_error(tmp_path):
    table = str(tmp_path)
    manifest.publish(table, 1, {"files": []})
    with pytest.raises(ValueError, match="version 7 does not exist"):
        manifest.read_at(table, 7)
    with open(os.path.join(manifest.log_dir(table), f"v{2:020d}.json"), "w") as fh:
        fh.write("{")
    with pytest.raises(ValueError, match="version 2"):
        manifest.read_at(table, 2)


def test_sweep_reaps_superseded_runs_at_once(tmp_path):
    table = str(tmp_path)
    _commit_run(table, 1, "r1")
    _commit_run(table, 2, "r2")
    _commit_run(table, 3, "r2", "r3")  # r2 carried over by reference
    assert manifest.sweep(table, "_data", _files, keep_last=1) == 1
    assert sorted(os.listdir(os.path.join(table, "_data"))) == ["r2", "r3"]
    assert manifest.versions(table) == [3]
    with pytest.raises(ValueError):
        manifest.sweep(table, "_data", _files, keep_last=0)


def test_sweep_grace_period_for_never_referenced_runs(tmp_path):
    table = str(tmp_path)
    _commit_run(table, 1, "r1")
    in_flight = os.path.join(table, "_data", "in-flight")
    os.makedirs(in_flight)
    # fresh and never referenced: maybe a writer's commit in flight
    assert manifest.sweep(table, "_data", _files) == 0
    assert os.path.isdir(in_flight)
    _backdate(in_flight)
    assert manifest.sweep(table, "_data", _files) == 1
    assert not os.path.exists(in_flight)
    assert os.path.isdir(os.path.join(table, "_data", "r1"))


def test_sweep_never_touches_absolute_path_entries(tmp_path):
    source = str(tmp_path / "src")
    _commit_run(source, 1, "r1")
    clone = str(tmp_path / "clone")
    abs_path = os.path.join(source, "_data", "r1", "part-0.parquet")
    manifest.publish(clone, 1, {"files": [{"path": abs_path}]})
    manifest.publish(clone, 2, {"files": []})
    assert manifest.sweep(clone, "_data", _files, keep_last=1) == 0
    assert os.path.exists(abs_path)


def test_sweep_keeps_torn_manifest_slots_above_retention(tmp_path):
    table = str(tmp_path)
    _commit_run(table, 1, "r1")
    _commit_run(table, 2, "r2")
    with open(os.path.join(manifest.log_dir(table), f"v{3:020d}.json"), "w") as fh:
        fh.write("{")
    manifest.sweep(table, "_data", _files, keep_last=1)
    # the committed state survives: the newest PARSEABLE manifest is kept
    assert manifest.latest(table)[0] == 2
    assert os.path.isdir(os.path.join(table, "_data", "r2"))


def test_only_the_manifest_module_knows_the_log_format():
    owner = _PKG / "sources" / "manifest.py"
    offenders = [
        str(p.relative_to(_PKG))
        for p in sorted(_PKG.rglob("*.py"))
        if p != owner
        and (
            "_manifests" in (text := p.read_text(encoding="utf-8"))
            or re.search(r":020d\}", text)
        )
    ]
    assert offenders == []
