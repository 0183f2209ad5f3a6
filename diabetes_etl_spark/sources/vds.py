"""The versioned table exposed as a Spark 4 PYTHON DATA SOURCE —
``spark.read.format("versioned").option("path", ...).load()`` — so
any Spark consumer (SQL, other sessions, notebooks) reads manifest
snapshots through the standard source API instead of importing
VersionedTable.

What the DSv2-python surface buys here:

- **Planning-time manifest resolution**: ``schema()`` and
  ``partitions()`` run on the driver, resolve ONE manifest (snapshot
  isolation — same contract as VersionedTable.read), and emit one
  InputPartition per manifest file, so Spark parallelizes by file
  exactly like a native parquet scan.
- **Filter pushdown → manifest pruning**: ``pushFilters`` receives
  Catalyst predicates; =, <, <=, >, >= on columns with recorded
  [min, max] stats prune FILES before any is opened.  Every filter is
  returned as unsupported so Spark re-applies it row-level — pruning
  stays a cost decision, never a correctness one (the versioned
  table's standing rule).
- **Executor-side Arrow batches**: ``read`` runs on executors and
  yields pyarrow record batches straight off the parquet file — no
  row-at-a-time Python.

Scale notes: the manifest carries file metadata only, so planning is
O(files); batch decode streams at Arrow granularity.  A native
DSv2/JVM source would beat the Python batch hop per byte — this
source is the INTEROP surface, the hot path remains
VersionedTable.read's direct parquet scan (same files, same plan).

Reference parity: Delta Lake's path-based `format("delta")` reads
(reference TBLPROPERTIES imply Delta; delta-spark is env-blocked —
COVERAGE.md §2.1); this provides the equivalent format-string read
over the native manifest tables.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from diabetes_etl_spark.sources import manifest

__all__ = ["VersionedDataSource", "register_versioned_source"]


@dataclass
class _FilePartition(InputPartition):
    path: str


class VersionedReader(DataSourceReader):
    def __init__(self, path: str, doc: dict) -> None:
        self._path = path
        self._files = list(doc["files"])
        self._bounds: dict[str, list[tuple[str, object]]] = {}

    def pushFilters(self, filters):  # noqa: N802 (API name)
        for f in filters:
            col = None
            if isinstance(
                f,
                (
                    EqualTo,
                    GreaterThan,
                    GreaterThanOrEqual,
                    LessThan,
                    LessThanOrEqual,
                ),
            ):
                # attributeOrColumn: ColumnPath tuple, top-level only
                if len(f.attribute) == 1:
                    col = f.attribute[0]
            if col is not None:
                kind = type(f).__name__
                self._bounds.setdefault(col, []).append((kind, f.value))
            # EVERY filter is re-applied by Spark row-level: pruning
            # below is advisory, exactly like VersionedTable.read
            yield f

    @staticmethod
    def _survives(stats: dict, col: str, kind: str, v) -> bool:
        if col not in stats:
            return True
        lo, hi = stats[col]
        if kind == "EqualTo":
            return lo <= v <= hi
        if kind == "GreaterThan":
            return hi > v
        if kind == "GreaterThanOrEqual":
            return hi >= v
        if kind == "LessThan":
            return lo < v
        if kind == "LessThanOrEqual":
            return lo <= v
        return True

    def partitions(self):
        out = []
        for e in self._files:
            stats = e.get("stats", {})
            keep = all(
                self._survives(stats, col, kind, v)
                for col, preds in self._bounds.items()
                for kind, v in preds
            )
            if keep:
                out.append(
                    _FilePartition(os.path.join(self._path, e["path"]))
                )
        # an empty scan still needs one partition object
        return out or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        yield from pf.iter_batches()


class VersionedDataSource(DataSource):
    """``spark.read.format("versioned").option("path", p)
    [.option("versionAsOf", n)].load()``"""

    @classmethod
    def name(cls) -> str:
        return "versioned"

    def _doc(self) -> tuple[str, dict]:
        path = self.options.get("path")
        if not path:
            raise ValueError("versioned source requires option 'path'")
        version = self.options.get("versionasof")
        if version is not None:
            return path, manifest.read_at(path, int(version))
        _, doc = manifest.latest(path)
        if doc is None:
            raise ValueError(f"versioned source: no committed version at {path}")
        return path, doc

    def schema(self):
        _, doc = self._doc()
        return StructType.fromJson(json.loads(doc["schema"]))

    def reader(self, schema) -> VersionedReader:
        path, doc = self._doc()
        return VersionedReader(path, doc)

    def streamReader(self, schema) -> "VersionedStreamReader":
        path, _ = self._doc()
        return VersionedStreamReader(path, self.options)


def register_versioned_source(spark) -> None:
    """Idempotent session registration.  Python-source filter
    pushdown is opt-in (SQL conf, runtime-settable) — without it
    Spark refuses a reader that implements pushFilters."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(VersionedDataSource)


# -- streaming source: manifest versions as microbatches ----------------------


@dataclass
class _VersionSlice(InputPartition):
    paths: tuple  # file paths added in this version range


class VersionedStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("versioned")`` — the Delta-style
    streaming source over manifest commits: each OFFSET is a manifest
    version, each microbatch reads exactly the files ADDED between
    the start and end versions (set difference by path — file
    metadata only, no data listing), so a 100 TB history costs a
    batch only its own churn.

    Contract (same as Delta's streaming source): the feed is APPEND-
    driven.  A commit that REMOVES files (delete_where / optimize
    rewrite) raises unless ``ignoreChanges=true`` — silently re-
    emitting or dropping rewritten rows would corrupt downstream
    exactly-once sinks; the error names the option, the user opts in.
    Offsets checkpoint through Spark's offset log, so restart resumes
    at the committed version — exactly-once with the txn handshake in
    streaming/changefeed.py."""

    def __init__(self, path: str, options) -> None:
        self._path = path
        self._ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        start = options.get("startingversion")
        self._start = int(start) if start is not None else 0
        # admission control (Delta's maxFilesPerTrigger analogue at
        # version granularity): each microbatch advances the offset at
        # most this many manifest versions, so a backfill over a long
        # commit history drains in bounded batches instead of one
        # giant catch-up batch that overwhelms the sink
        mvpt = options.get("maxversionspertrigger")
        self._max_versions = int(mvpt) if mvpt is not None else None
        # Restart safety for the cap: on a CLEAN restart (last batch
        # fully committed) Spark calls latestOffset() BEFORE
        # partitions(), so a cursor that resets to startingversion
        # would cap the next offset BEHIND the checkpointed one and
        # Spark would re-plan already-consumed versions — silent
        # duplication.  commit(end) therefore persists the committed
        # version to a per-stream cursor file under the table path
        # (keyed by the streamId option, default "default"), and the
        # planning cursor initializes from it.  The cursor is a FLOOR,
        # never a read position — over-estimating it only makes a
        # batch larger (partitions() reads exactly [start, end] from
        # the offset log), so two checkpoints sharing a streamId
        # degrade to weaker admission control, never to wrong data.
        sid = str(options.get("streamid", "default"))
        self._cursor_path = os.path.join(
            path,
            "_streams",
            "".join(c if c.isalnum() or c in "._-" else "_" for c in sid)
            + ".cursor.json",
        )
        self._last_planned = max(self._start, self._committed_floor())

    def _committed_floor(self) -> int:
        try:
            with open(self._cursor_path, encoding="utf-8") as f:
                return int(json.load(f)["version"])
        except (OSError, ValueError, KeyError, json.JSONDecodeError):
            return self._start

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        # the highest PARSEABLE manifest: a torn newest file is not a
        # commit, so it must never become an offset
        latest = max(self._start, manifest.latest(self._path)[0])
        if self._max_versions is not None:
            # clamp UP to the planning cursor (seeded from the
            # committed floor on restart): the returned offset must
            # never regress behind what a previous run committed
            capped = max(
                self._last_planned,
                min(latest, self._last_planned + self._max_versions),
            )
            self._last_planned = capped
            return {"version": capped}
        self._last_planned = latest
        return {"version": latest}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        # restart sync: the checkpointed offset is authoritative — jump
        # the admission-control cursor forward so a resumed stream
        # doesn't spend empty batches catching the cap up to the
        # checkpoint
        self._last_planned = max(self._last_planned, lo, hi)
        parts: list[_VersionSlice] = []
        prev_paths: set | None = None
        for v in range(lo, hi + 1):
            doc = manifest.read_at(self._path, v) if v > 0 else {"files": []}
            paths = {e["path"] for e in doc["files"]}
            if prev_paths is not None:
                removed = prev_paths - paths
                if removed and not self._ignore_changes:
                    raise ValueError(
                        f"versioned stream: commit v{v} removes "
                        f"{len(removed)} file(s) (delete/rewrite). "
                        "The append-driven stream cannot represent "
                        "this exactly-once; restart from a snapshot "
                        "or set option ignoreChanges=true to stream "
                        "added files only."
                    )
                added = sorted(paths - prev_paths)
                # one InputPartition PER ADDED FILE (not per version):
                # a commit written by a 32-task job yields 32 files, and
                # a per-version slice would read them all sequentially
                # through one Python worker — a one-task straggler
                # stage.  Per-file partitions parallelize the microbatch
                # exactly like the batch reader; the batch's row SET
                # (files added between offsets) is unchanged.
                parts.extend(
                    _VersionSlice((os.path.join(self._path, p),))
                    for p in added
                )
            prev_paths = paths
        return parts

    def read(self, partition: _VersionSlice):
        import pyarrow.parquet as pq

        for path in partition.paths:
            yield from pq.ParquetFile(path).iter_batches()

    def commit(self, end: dict) -> None:
        # Offsets of record live in Spark's checkpoint offset log; the
        # cursor file is ONLY the admission-control floor for clean
        # restarts (see __init__).  Atomic tmp+rename so a torn write
        # degrades to "no floor", never a corrupt one.
        v = int(end["version"])
        self._last_planned = max(self._last_planned, v)
        try:
            os.makedirs(os.path.dirname(self._cursor_path), exist_ok=True)
            tmp = self._cursor_path + ".tmp"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump({"version": v}, f)
            os.replace(tmp, self._cursor_path)
        except OSError:
            # best-effort: losing the floor only weakens the cap on the
            # next clean restart (one larger catch-up batch), it cannot
            # duplicate or drop data
            pass
