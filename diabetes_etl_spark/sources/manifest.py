"""The manifest commit log — the one owner of its on-disk format.

Every manifest-addressed table commits through this module:
sources/versioned.py:VersionedTable, the ``versioned`` data source
(sources/vds.py, batch and stream readers) and the apply-changes
targets of streaming/cdc.py.  The design is Delta Lake's transaction
log (one log, one put-if-absent commit, one retention sweep):

- **Layout.** A table directory holds ``_manifests/v<N>.json`` with N
  zero-padded to 20 digits (names sort by version) next to write-once
  data run dirs ``<data_root>/<run-id>/`` that no reader looks at until
  a manifest references them.
- **Commit** (:func:`publish`) is a put-if-absent of the next version's
  file: a hard link from a unique temp name on a local FS, a
  conditional PUT (If-None-Match) on an object store.  Nothing relies
  on rename.  A writer racing another to the same version gets
  :class:`ConcurrentCommitError` instead of clobbering it.
- **Resolution** (:func:`latest`): the committed state is the highest
  PARSEABLE manifest.  A torn newest file (a non-atomic writer died
  mid-PUT) is skipped, so the previous version stays committed; the
  torn file still holds its version slot, so the next commit to that
  version fails loudly instead of overwriting it.
- **Time travel** (:func:`read_at`) raises ``ValueError`` for a version
  that is missing, vacuumed or unreadable.
- **Retention** (:func:`sweep`) keeps the newest ``keep_last``
  parseable manifests and deletes older ones FIRST (so no retained
  version can ever reference a deleted file), then deletes every run
  dir only those pruned manifests referenced.  A run dir no manifest
  has ever referenced may belong to a writer whose commit is still in
  flight, so it is left alone until it is older than
  :data:`GRACE_SECONDS`.  Absolute-path entries (a shallow clone's
  references into its source table) never name a local run dir and
  are never touched.

What a manifest carries besides ``version`` is the table kind's own
business: a ``files`` list for VersionedTable, a ``buckets`` map for
CDC targets.  :func:`sweep` learns the data paths a document
references from the caller.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterable

# Manifests a retention sweep keeps unless the caller asks otherwise
# (VersionedTable.vacuum's default; every apply-changes run uses it).
KEEP_LAST = 2
# Age below which a never-referenced run dir is presumed in flight.
GRACE_SECONDS = 86400.0

_LOG_DIR = "_manifests"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the manifest version this writer was
    about to publish — retry against the new state (or enforce the
    single-writer contract upstream)."""


def log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _LOG_DIR)


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(log_dir(table_dir), f"v{version:020d}.json")


def versions(table_dir: str) -> list[int]:
    """Every version named in the log, ascending — torn files included
    (they still hold their slot)."""
    d = log_dir(table_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _load(table_dir: str, version: int) -> dict | None:
    try:
        with open(_manifest_path(table_dir, version), encoding="utf-8") as fh:
            doc = json.load(fh)
        int(doc["version"])
        return doc
    except (OSError, ValueError, KeyError, TypeError):
        return None


def read_at(table_dir: str, version: int) -> dict:
    doc = _load(table_dir, int(version))
    if doc is None:
        raise ValueError(
            f"version {int(version)} does not exist (or was vacuumed, or "
            f"is unreadable) for table {table_dir}"
        )
    return doc


def latest(table_dir: str) -> tuple[int, dict | None]:
    """(version, document) of the highest parseable manifest; (0, None)
    when nothing has been committed."""
    for v in reversed(versions(table_dir)):
        doc = _load(table_dir, v)
        if doc is not None:
            return int(doc["version"]), doc
    return 0, None


def publish(table_dir: str, version: int, doc: dict) -> None:
    """Put-if-absent commit of ``version`` carrying ``doc``."""
    d = log_dir(table_dir)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp.{os.getpid()}.{uuid.uuid4().hex[:12]}")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"version": version, **doc}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, _manifest_path(table_dir, version))
    except FileExistsError:
        raise ConcurrentCommitError(
            f"manifest v{version} already committed by another writer "
            f"for table {table_dir}"
        ) from None
    finally:
        os.unlink(tmp)


def sweep(
    table_dir: str,
    data_root: str,
    data_paths: Callable[[dict], Iterable[str]],
    keep_last: int = KEEP_LAST,
) -> int:
    """Retention sweep (module docstring).  ``data_root`` names the
    table kind's run-dir parent (relative to ``table_dir``);
    ``data_paths(doc)`` yields the data paths a manifest references.
    Returns the number of run dirs removed.

    ``keep_last`` must be >= 1: the current version is never removable
    (Delta's VACUUM has the same floor) — keep_last=0 would delete
    every manifest and then reap ALL data."""
    if keep_last < 1:
        raise ValueError(
            f"keep_last must be >= 1 (got {keep_last}): vacuum never "
            "removes the current version"
        )

    def runs(doc: dict | None) -> set[str]:
        out = set()
        for p in data_paths(doc) if doc is not None else ():
            parts = os.path.normpath(p).split(os.sep)
            if not os.path.isabs(p) and len(parts) >= 3 and parts[0] == data_root:
                out.add(parts[1])
        return out

    docs = {v: _load(table_dir, v) for v in versions(table_dir)}
    retained = [v for v, doc in docs.items() if doc is not None][-keep_last:]
    if not retained:
        return 0
    pruned = [v for v in docs if v < retained[0]]
    live = set().union(*(runs(docs[v]) for v in retained))
    superseded = set().union(*(runs(docs[v]) for v in pruned)) - live
    for v in pruned:
        os.unlink(_manifest_path(table_dir, v))
    root = os.path.join(table_dir, data_root)
    if not os.path.isdir(root):
        return 0
    horizon = time.time() - GRACE_SECONDS
    removed = 0
    for rid in os.listdir(root):
        path = os.path.join(root, rid)
        if rid in live or not os.path.isdir(path):
            continue
        if rid not in superseded and os.path.getmtime(path) > horizon:
            continue  # never referenced and young: maybe in flight
        shutil.rmtree(path, ignore_errors=True)
        removed += 1
    return removed
