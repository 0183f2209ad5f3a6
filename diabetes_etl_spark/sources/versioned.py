"""Versioned parquet table: snapshot isolation + time travel on a plain
filesystem / object store, no table-format runtime required.

The reference pipeline writes Delta tables (its ``autoOptimize``
TBLPROPERTIES — /root/reference/src/diabetes_etl_pipeline.py:49-52 —
exist only on Delta), but no Delta runtime ships in this environment
(install attempt recorded in COVERAGE.md).  This module supplies the
ACID-table semantics a Delta user actually relies on, natively:

- **Atomic commits.** Data files land in write-once
  ``_data/<run-id>/`` directories that are INVISIBLE until a manifest
  references them; the manifest itself commits via put-if-absent
  through the shared commit log, sources/manifest.py (hard-link on a
  local FS, a conditional PUT with If-None-Match on an object store).
  A reader never sees a half-written version.
- **Snapshot isolation.** Readers resolve ONE manifest and read
  exactly its file list; concurrent commits never change a running
  query's input set.
- **Time travel.** ``read(version_as_of=N)`` / ``history()`` /
  ``rollback(N)`` — a rollback is a NEW commit whose file list equals
  the old version's (never a destructive delete), so audit history is
  preserved, exactly like Delta's RESTORE.
- **Optimistic concurrency.** Losing a manifest race raises
  ``ConcurrentCommitError``; ``append`` retries automatically (an
  append commutes with any committed append — its own files are
  already on disk, only the manifest pointer is recomputed), while
  ``overwrite``/``delete_where``/``rollback`` surface the conflict to
  the caller (they read table state, so a blind retry could lose the
  other writer's rows).
- **File-level data skipping.** Each commit records per-file min/max
  for the declared ``stats_cols`` straight from the parquet footers
  (driver-side metadata read, no data pages); ``read`` with
  ``between=`` prunes files manifest-side before Spark ever lists
  them — the same pruning Delta file statistics give, and the
  mechanism that keeps a 100 TB table's point query from scanning
  100 TB.
- **Vacuum.** ``vacuum(keep_last=K)`` is the log's retention sweep:
  it prunes old manifests first, then the data directories only they
  referenced; a never-referenced directory is reaped only once it is
  past the grace period, so an in-flight writer's data survives.

Scale notes (100 TB lens): manifests carry file METADATA only (path,
rows, bytes, min/max), so a million-file table is a few hundred MB of
JSON read once on the driver — the same envelope as a Delta
transaction log checkpoint.  Reads hand Spark an explicit file list
(no recursive directory listing, the object-store killer).  Writes
stream through Spark writers; nothing row-shaped touches the driver.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.sources import manifest
from diabetes_etl_spark.sources.manifest import ConcurrentCommitError

_DATA_DIR = "_data"

# Arrow type-name prefixes whose parquet min/max footer stats are
# safely ordered for pruning; consulted by _write_data — a stats_col
# of any other type (binary, nested, decimal's raw-bytes edge cases)
# records NO stats, so its files are conservatively never pruned.
_STATS_OK = ("int", "uint", "double", "float", "timestamp", "date", "string", "large_string")


_BLOOM_SEED = 29


def _py_fingerprint(v) -> int:
    """Pure-Python twin of operators/text.py:fingerprint (rolling hash
    over the value's STRING form — matching Spark's CAST(x AS STRING)
    for ints/strings, the key types bloom_cols supports)."""
    acc = 0
    for ch in str(v):
        acc = (acc * 131 + ord(ch)) % 1_000_000_007
    return acc


def _bloom_positions(v, m: int, k: int) -> list[int]:
    from diabetes_etl_spark.operators.sketch import _cms_row_params

    fp = _py_fingerprint(v)
    out = []
    for j in range(k):
        a, b = _cms_row_params(j, _BLOOM_SEED)
        out.append(((a * fp + b) % 1_000_000_007) % m)
    return out


def _file_bloom_words(
    full: str, col: str, m: int, k: int
) -> list[int] | None:
    """Packed bloom words for one parquet file's column (one column
    read via Arrow; NULLs carry no identity and set no bits)."""
    import pyarrow.parquet as pq

    try:
        tbl = pq.read_table(full, columns=[col])
    except (KeyError, OSError, ValueError):
        return None
    if tbl.num_columns != 1:
        return None
    words = [0] * ((m + 63) // 64)
    for v in tbl.column(0).to_pylist():
        if v is None:
            continue
        for bit in _bloom_positions(v, m, k):
            words[bit >> 6] |= 1 << (bit & 63)
    return words


def _bloom_maybe_contains(words: list[int], v, m: int, k: int) -> bool:
    return all(
        (words[bit >> 6] >> (bit & 63)) & 1
        for bit in _bloom_positions(v, m, k)
    )


# Numeric widening chains for merge_schema type evolution (the Delta
# type-widening set that parquet readers can reconcile WITHOUT
# rewriting old files: Spark 4's vectorized reader up-promotes a
# narrower physical value to the wider requested type — SPARK-40876).
# Chains never cross kinds: long->double would silently lose precision
# for |v| > 2^53, so int-chain vs float-chain conflicts raise instead.
_WIDEN_CHAINS = (
    ("byte", "short", "integer", "long"),
    ("float", "double"),
)


def _widen_type(a, b):
    """The wider of two Spark types along a widening chain; the type
    itself when equal; None when not widenable (incompatible)."""
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    for chain in _WIDEN_CHAINS:
        if an in chain and bn in chain:
            return a if chain.index(an) >= chain.index(bn) else b
    return None


@dataclass(frozen=True)
class CommitInfo:
    version: int
    operation: str
    timestamp: float
    n_files: int
    n_rows: int


class VersionedTable:
    """A path-addressed versioned parquet table (see module docstring).

    Layout::

        <path>/<the manifest log — sources/manifest.py>
        <path>/_data/<run-id>/part-*.parquet
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        stats_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
        bloom_m: int = 4096,
        bloom_k: int = 3,
        constraints: tuple[str, ...] = (),
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.stats_cols = tuple(stats_cols)
        # Delta-style CHECK constraints: every write path validates
        # the INCOMING rows against each boolean SQL expression before
        # any file lands (one extra pass over the batch — the price a
        # constraint always costs); a violation aborts the commit with
        # the constraint text and a violation count, so bad data can
        # never become table state.  NULL-evaluating rows VIOLATE
        # (SQL CHECK semantics are permissive on NULL, but a data
        # table's guard wants the strict reading — documented
        # deviation, matching expect_or_drop's strictness in
        # pipeline/registry.py).
        self.constraints = tuple(constraints)
        # per-file Bloom filters for POINT lookups on high-cardinality
        # keys, where min/max stats prune nothing (a uuid-ish key's
        # range spans every file).  Computed at write time from the
        # written files' key column (one extra column read per file —
        # the cost real writers fold into their commit step) with the
        # same portable hash family as operators/sketch.py, stored as
        # packed words in the manifest (bloom_m bits = bloom_m/8 bytes
        # per file per column).  read(point=...) prunes manifest-side;
        # false positives only cost a residual-filtered file read.
        self.bloom_cols = tuple(bloom_cols)
        self.bloom_m = bloom_m
        self.bloom_k = bloom_k

    # -- manifest plumbing (the log itself: sources/manifest.py) ----------

    def _latest(self) -> tuple[int, dict | None]:
        return manifest.latest(self.path)

    def _manifest_at(self, version: int) -> dict:
        return manifest.read_at(self.path, version)

    def _publish(self, version: int, doc: dict) -> None:
        manifest.publish(self.path, version, doc)

    # -- data-file plumbing ------------------------------------------------

    def _check_constraints(self, df: DataFrame) -> None:
        for expr in self.constraints:
            bad = df.filter(
                ~F.expr(expr) | F.expr(expr).isNull()
            ).limit(1_000_000).count()
            if bad:
                raise ValueError(
                    f"CHECK constraint violated for {self.path}: "
                    f"{expr!r} fails for {bad} incoming row(s)"
                )

    def _write_data(self, df: DataFrame) -> list[dict]:
        """Write ``df`` into a fresh ``_data/<run-id>/`` dir and return
        file entries (relative path, rows, bytes, per-column min/max
        from the parquet footers)."""
        import pyarrow.parquet as pq

        self._check_constraints(df)

        rid = f"{os.getpid()}.{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, _DATA_DIR, rid)
        df.write.mode("overwrite").parquet(out)
        entries = []
        for name in sorted(os.listdir(out)):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(out, name)
            md = pq.read_metadata(full)
            stats: dict[str, list] = {}
            if self.stats_cols:
                arrow_schema = md.schema.to_arrow_schema()
                schema_names = arrow_schema.names
                for col in self.stats_cols:
                    if col not in schema_names:
                        continue
                    idx = schema_names.index(col)
                    if not str(arrow_schema.field(idx).type).startswith(
                        _STATS_OK
                    ):
                        continue
                    lo, hi = None, None
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics
                        if st is None or not st.has_min_max:
                            lo = hi = None
                            break
                        mn, mx = st.min, st.max
                        lo = mn if lo is None or mn < lo else lo
                        hi = mx if hi is None or mx > hi else hi
                    if lo is not None:
                        stats[col] = [_json_safe(lo), _json_safe(hi)]
            blooms: dict[str, list[int]] = {}
            for col in self.bloom_cols:
                words = _file_bloom_words(
                    full, col, self.bloom_m, self.bloom_k
                )
                if words is not None:
                    blooms[col] = words
            entry = {
                "path": os.path.join(_DATA_DIR, rid, name),
                "rows": md.num_rows,
                "bytes": os.path.getsize(full),
                "stats": stats,
            }
            if blooms:
                entry["bloom"] = blooms
            entries.append(entry)
        return entries

    def _commit(
        self,
        operation: str,
        files: list[dict],
        base_version: int,
        schema_json: str,
        app_txn: tuple[str, int] | None = None,
        txn_map_override: dict | None = None,
    ) -> int:
        version = base_version + 1
        doc = {
            "version": version,
            "operation": operation,
            "timestamp": time.time(),
            "schema": schema_json,
            "files": files,
        }
        # Application transaction ids (Delta's `txn` action): a writer
        # that processes an upstream feed records (app_id -> upstream
        # version) IN the same atomic commit as the data, so after a
        # crash the consumer reads its own table to learn exactly how
        # far it got — the idempotence handshake streaming sinks need
        # (streaming/changefeed.py is the consumer here).  The map
        # carries forward from the parent manifest so unrelated
        # commits never erase another app's cursor.
        # ``txn_map_override`` replaces the carry-forward wholesale —
        # rollback() uses it to restore the ROLLED-BACK version's
        # cursor map: carrying the latest map forward would restore
        # old data while keeping newer feed cursors, and the gap
        # between them would silently never be re-consumed (round-8
        # ADVICE medium).
        if txn_map_override is not None:
            prev = dict(txn_map_override)
        elif base_version > 0:
            try:
                prev = self._manifest_at(base_version).get("app_txn", {})
            except ValueError:
                prev = {}
        else:
            prev = {}
        merged_txn = dict(prev)
        if app_txn is not None:
            # one (app_id, version) pair or a list of them — a commit
            # that advances several consumer cursors atomically (e.g.
            # a join view bootstrapped against two upstream feeds)
            pairs = (
                [app_txn]
                if isinstance(app_txn, tuple) and len(app_txn) == 2
                and not isinstance(app_txn[0], tuple)
                else list(app_txn)
            )
            for app_id, app_version in pairs:
                merged_txn[str(app_id)] = int(app_version)
        if merged_txn:
            doc["app_txn"] = merged_txn
        self._publish(version, doc)
        return version

    def last_app_version(self, app_id: str) -> int | None:
        """The upstream version the latest commit recorded for
        ``app_id`` (None when no commit has) — the consumer-side read
        of the Delta-style `txn` idempotence handshake."""
        _, doc = self._latest()
        if doc is None:
            return None
        v = doc.get("app_txn", {}).get(str(app_id))
        return int(v) if v is not None else None

    # -- public API --------------------------------------------------------

    def _align(self, df: DataFrame, schema_json: str) -> DataFrame:
        """Conform ``df`` to the table schema: same column set required
        (by name), each column cast to the committed type.  Without
        this, a writer handing in `int` where the table holds `bigint`
        would commit parquet files whose physical type disagrees with
        the rest of the table — and reads would fail or succeed
        depending on which file Spark's vectorized reader hit first."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        target = StructType.fromJson(json.loads(schema_json))
        want = [f.name for f in target.fields]
        if sorted(df.columns) != sorted(want):
            raise ValueError(
                f"schema mismatch for {self.path}: table columns {want}, "
                f"input columns {list(df.columns)}"
            )
        return df.select(
            [F.col(f.name).cast(f.dataType) for f in target.fields]
        )

    def _evolve(self, df: DataFrame, schema_json: str) -> DataFrame:
        """Schema-evolution alignment (Delta ``mergeSchema`` parity):

        - committed columns the batch lacks fill with typed NULLs;
        - batch-only columns append to the schema as nullable fields;
        - a batch column NARROWER than its committed type upcasts to
          the committed type (unchanged schema);
        - a batch column WIDER along the numeric-widening chain
          (byte < short < int < long, float < double) WIDENS the
          committed type — Delta's type-widening: old files never
          rewrite, the reader's explicit manifest schema makes the
          parquet reader up-promote their narrower physical values
          (Spark 4 widening reads);
        - anything else (string vs numeric, long vs int-in-reverse,
          timestamp vs date, ...) raises loudly — an implicit lossy
          cast inside an "evolution" would silently corrupt data.

        Old files never rewrite in any case — time travel reads every
        version under the schema that version committed."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        target = StructType.fromJson(json.loads(schema_json))
        by_name = {f.name: f for f in target.fields}
        out_fields = []
        for f in target.fields:
            if f.name not in df.columns:
                out_fields.append(f)
                continue
            batch_t = df.schema[f.name].dataType
            wider = _widen_type(f.dataType, batch_t)
            if wider is None:
                raise ValueError(
                    f"incompatible schema change for {self.path}: column "
                    f"{f.name!r} is {f.dataType.simpleString()} in the "
                    f"table but {batch_t.simpleString()} in the batch — "
                    "only numeric widening (byte<short<int<long, "
                    "float<double) evolves under merge_schema; rewrite "
                    "the table to retype"
                )
            out_fields.append(StructField(f.name, wider, f.nullable))
        evolved = StructType(
            out_fields
            + [
                StructField(f.name, f.dataType, True)
                for f in df.schema.fields
                if f.name not in by_name
            ]
        )
        return df.select(
            [
                F.col(f.name).cast(f.dataType)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in evolved.fields
            ]
        )

    @staticmethod
    def _union_schema_json(committed_json: str, written_json: str) -> str:
        """Schema to commit after a lost append race under evolution:
        per shared column the WIDER of the other writer's committed
        type and our written type (both file sets are on disk; the
        widening read reconciles whichever is physically narrower),
        plus our written-file-only fields.  A non-widenable type
        conflict on a shared name means the other commit was an
        overwrite/rollback that retyped the table incompatibly —
        surface it, the files on disk disagree."""
        from pyspark.sql.types import StructField, StructType

        committed = StructType.fromJson(json.loads(committed_json))
        written = StructType.fromJson(json.loads(written_json))
        by_name = {f.name: f for f in written.fields}
        merged = []
        for f in committed.fields:
            w = by_name.get(f.name)
            if w is None or w.dataType == f.dataType:
                merged.append(f)
                continue
            wider = _widen_type(f.dataType, w.dataType)
            if wider is None:
                raise ConcurrentCommitError(
                    f"column {f.name!r} was retyped concurrently "
                    f"({f.dataType.simpleString()} vs "
                    f"written {w.dataType.simpleString()})"
                )
            merged.append(StructField(f.name, wider, f.nullable))
        have = {f.name for f in committed.fields}
        extra = [f for f in written.fields if f.name not in have]
        return StructType(merged + extra).json()

    def overwrite(
        self, df: DataFrame, app_txn: tuple[str, int] | None = None
    ) -> int:
        """Replace the table contents (CREATE OR REPLACE).  Conflicts
        with any concurrent commit: the caller decided the full new
        state from what it read, so a lost race must surface.
        ``app_txn=(app_id, upstream_version)`` records a consumer
        cursor atomically with the data (see :meth:`last_app_version`)."""
        ver, _ = self._latest()
        files = self._write_data(df)
        return self._commit(
            "overwrite", files, ver, df.schema.json(), app_txn=app_txn
        )

    def append(
        self,
        df: DataFrame,
        _retries: int = 5,
        merge_schema: bool = False,
        app_txn: tuple[str, int] | None = None,
    ) -> int:
        """Append rows.  Data files are written ONCE; on a lost
        manifest race only the pointer recomputes (append commutes
        with committed appends).

        ``merge_schema=True`` is Delta's ``mergeSchema``: batch-only
        columns evolve the table schema (nullable, appended after the
        committed columns), committed columns the batch lacks fill
        with NULL, and earlier versions keep their narrower schema —
        time travel reads each version under the schema it committed.
        The default stays STRICT (exact column set) so a typo'd
        producer column is an error, not a silent 1-column table
        evolution."""
        _, doc0 = self._latest()
        if doc0 is not None:
            df = (
                self._evolve(df, doc0["schema"])
                if merge_schema
                else self._align(df, doc0["schema"])
            )
        written_schema = df.schema.json()
        new_files = self._write_data(df)
        for _ in range(_retries):
            ver, doc = self._latest()
            base = list(doc["files"]) if doc else []
            if doc is None:
                schema = written_schema
            elif merge_schema:
                schema = self._union_schema_json(doc["schema"], written_schema)
            else:
                schema = doc["schema"]
            try:
                return self._commit(
                    "append", base + new_files, ver, schema, app_txn=app_txn
                )
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(
            f"append lost {_retries} manifest races for {self.path}"
        )

    def delete_where(self, condition: str) -> int:
        """Delete matching rows: rewrite ONLY the files whose stats
        ranges can contain a match (the rest carry over by reference —
        the Delta MERGE/DELETE file-granularity model)."""
        from pyspark.sql import functions as F

        ver, doc = self._latest()
        if doc is None:
            raise ValueError(f"table {self.path} has no committed version")
        cond = F.expr(condition)
        keep, rewrite = [], []
        for entry in doc["files"]:
            if self._maybe_matches(entry, condition):
                rewrite.append(entry)
            else:
                keep.append(entry)
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(doc["schema"]))
        new_files: list[dict] = []
        if rewrite:
            paths = [os.path.join(self.path, e["path"]) for e in rewrite]
            # SQL DELETE semantics: a row is deleted only when the
            # predicate is TRUE — NULL-evaluating rows survive (a bare
            # filter(~cond) would silently drop them, and only in the
            # files selected for rewrite)
            survivors = self.spark.read.schema(schema).parquet(*paths).filter(
                ~cond | cond.isNull()
            )
            new_files = self._write_data(survivors)
        return self._commit(
            "delete_where", keep + new_files, ver, doc["schema"]
        )

    def _maybe_matches(self, entry: dict, condition: str) -> bool:
        """Conservative: a file is rewritten unless its recorded stats
        PROVE no row matches.  Only simple ``col OP literal`` range
        checks are evaluated; anything unprovable rewrites."""
        import re

        m = re.match(
            r"^\s*(\w+)\s*(<=|>=|<|>|=)\s*([-\w.'\" ]+?)\s*$", condition
        )
        if not m:
            return True
        col, op, lit = m.groups()
        stats = entry.get("stats", {})
        if col not in stats:
            return True
        lo, hi = stats[col]
        lit = lit.strip("'\"")
        try:
            lit = type(lo)(lit) if not isinstance(lo, str) else lit
        except (TypeError, ValueError):
            return True
        if op == "=":
            return lo <= lit <= hi
        if op == "<":
            return lo < lit
        if op == "<=":
            return lo <= lit
        if op == ">":
            return hi > lit
        return hi >= lit

    def merge(
        self,
        updates: DataFrame,
        key_col: str,
        app_txn: tuple[str, int] | None = None,
    ) -> int:
        """Upsert by key (Delta MERGE WHEN MATCHED UPDATE / WHEN NOT
        MATCHED INSERT, whole-row semantics): rewrite ONLY the files
        whose recorded [min,max] range of ``key_col`` overlaps the
        batch's key envelope — every other file carries over by
        reference.  At 100 TB this is the difference between
        rewriting a partition's worth of files and rewriting the
        table: cost ∝ files-overlapping-batch, not table size.

        Driver-side state is two scalars (the batch's min/max key —
        one agg, no row collect).  ``updates`` must carry one row per
        key (pre-dedup upstream: CDC winners, aggregation output).
        Conflicts surface as ConcurrentCommitError (a merge read the
        table state, so a blind retry could lose a concurrent
        writer's rows)."""
        from pyspark.sql import functions as F

        ver, doc = self._latest()
        if doc is None:
            files = self._write_data(updates)
            return self._commit(
                "merge", files, ver, updates.schema.json(), app_txn=app_txn
            )
        if key_col not in self.stats_cols:
            raise ValueError(
                f"merge key {key_col!r} must be in stats_cols={self.stats_cols} "
                "(file pruning is the point of file-granularity merge)"
            )
        updates = self._align(updates, doc["schema"])
        env = updates.agg(
            F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
        ).first()
        lo, hi = env["lo"], env["hi"]
        if lo is None:
            return self._commit("merge", doc["files"], ver, doc["schema"])
        keep, rewrite = [], []
        for entry in doc["files"]:
            st = entry.get("stats", {}).get(key_col)
            if st is None or not (st[1] < lo or st[0] > hi):
                rewrite.append(entry)
            else:
                keep.append(entry)
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(doc["schema"]))
        new_files = list(self._write_data(updates))
        if rewrite:
            paths = [os.path.join(self.path, e["path"]) for e in rewrite]
            survivors = self.spark.read.schema(schema).parquet(*paths).join(
                updates.select(key_col), key_col, "left_anti"
            )
            new_files += self._write_data(
                survivors.select(*updates.columns)
            )
        return self._commit(
            "merge", keep + new_files, ver, doc["schema"], app_txn=app_txn
        )

    def compact(
        self,
        target_bytes: int = 128 * 1024 * 1024,
        min_files: int = 2,
        zorder_by: tuple[str, ...] | None = None,
    ) -> int | None:
        """Small-file compaction (the other half of Delta's OPTIMIZE,
        which the reference's ``autoOptimize`` TBLPROPERTIES implies —
        /root/reference/src/diabetes_etl_pipeline.py:49-52): rewrite
        every data file smaller than ``target_bytes`` into
        ceil(total/target) coalesced files, committed as a NEW version
        whose contents are row-identical.  Time travel is untouched —
        old manifests still reference the old small files, which stay
        on disk until ``vacuum`` retires those versions.

        Returns the new version, or ``None`` when fewer than
        ``min_files`` files are under the threshold (nothing to do —
        no empty commits).  Like overwrite/delete, a lost manifest
        race surfaces as ConcurrentCommitError: compaction read the
        file list, so a blind retry could drop a concurrent commit.

        Scale notes: the small-file set is chosen driver-side from
        manifest metadata (no listing, no data read); the rewrite
        reads ONLY the small files.  Big files carry over by
        reference, so cost ∝ small-file bytes, not table size.

        ``zorder_by=(col_a, col_b, ...)`` additionally CLUSTERS the
        rewritten rows on the Morton (bit-interleaved) order of N
        columns — Delta's OPTIMIZE ZORDER: each output file then
        covers a compact hyper-rectangle in the clustered space, so
        the footer min/max recorded for EVERY clustered column are
        tight and ``read``'s ``between=`` pruning works on any of the
        dimensions, not just the insertion order.  The z-value is
        built from min(16, 63//N)-bit range buckets (one in-plan
        min/max aggregate over the rewrite set, native bit
        expressions, no UDF) and rows route through
        ``repartitionByRange`` on it — at scale every output file is
        a contiguous z-range, which is exactly what makes
        multi-dimensional skipping effective on a 100 TB table.
        """
        ver, doc = self._latest()
        if doc is None:
            raise ValueError(f"table {self.path} has no committed version")
        small = [e for e in doc["files"] if e["bytes"] < target_bytes]
        if len(small) < min_files:
            return None
        keep = [e for e in doc["files"] if e["bytes"] >= target_bytes]
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(doc["schema"]))
        paths = [os.path.join(self.path, e["path"]) for e in small]
        total = sum(e["bytes"] for e in small)
        n_out = max(1, -(-total // target_bytes))  # ceil
        data = self.spark.read.schema(schema).parquet(*paths)
        if zorder_by is None:
            merged = data.coalesce(n_out)
        else:
            merged = _zorder(data, zorder_by, n_out)
        new_files = self._write_data(merged)
        return self._commit("compact", keep + new_files, ver, doc["schema"])

    def rollback(self, version: int) -> int:
        """Restore an old version as a NEW commit (Delta RESTORE).

        Unlike Delta's RESTORE (which keeps the newest `txn` map and
        so can strand changefeed consumers), the restored version's
        ``app_txn`` cursor map is restored WITH its data: a consumer
        view rolled back to version V wakes up with the cursors it had
        at V, replays the upstream gap, and reconverges — preserving
        the changefeed module's "no window where view and cursor
        disagree" guarantee across restores (round-8 ADVICE medium).
        """
        ver, _ = self._latest()
        old = self._manifest_at(version)
        return self._commit(
            f"rollback_to_{version}", old["files"], ver, old["schema"],
            txn_map_override=old.get("app_txn", {}),
        )

    def clone_to(
        self, dest_path: str, version_as_of: int | None = None
    ) -> "VersionedTable":
        """SHALLOW CLONE (Delta's): a new table at ``dest_path`` whose
        first commit references the SOURCE's data files by absolute
        path — zero data copied, instant, and the clone's history
        starts fresh.  Writes to the clone land in its own ``_data/``
        (relative paths) and never touch the source; writes to the
        source never change the clone (snapshot isolation via the
        frozen file list).  Entry-path resolution needs no reader
        changes: ``os.path.join(table, abs_path)`` IS the absolute
        path, and the clone's vacuum only ever reaps its OWN run
        dirs (absolute entries reference nothing local).

        The one Delta-matching caveat: vacuuming the SOURCE can
        delete files a shallow clone references — retain source
        history for the clone's lifetime, or rewrite the clone
        (e.g. ``clone.compact(target_bytes=huge)``) to localize it.
        """
        doc = (
            self._manifest_at(version_as_of)
            if version_as_of is not None
            else self._latest()[1]
        )
        if doc is None:
            raise ValueError(f"table {self.path} has no committed version")
        entries = [
            {
                **e,
                "path": e["path"]
                if os.path.isabs(e["path"])
                else os.path.join(self.path, e["path"]),
            }
            for e in doc["files"]
        ]
        dest = VersionedTable(
            self.spark,
            dest_path,
            stats_cols=self.stats_cols,
            bloom_cols=self.bloom_cols,
            bloom_m=self.bloom_m,
            bloom_k=self.bloom_k,
        )
        ver, existing = dest._latest()
        if existing is not None:
            raise ValueError(
                f"clone destination {dest_path} already has commits"
            )
        dest._commit(
            f"clone_of_{self.path}@v{doc['version']}",
            entries,
            ver,
            doc["schema"],
        )
        return dest

    def read(
        self,
        version_as_of: int | None = None,
        between: tuple[str, object, object] | None = None,
        point: tuple[str, object] | None = None,
    ) -> DataFrame:
        """Snapshot read.  ``between=(col, lo, hi)`` prunes files whose
        recorded [min,max] is disjoint from [lo,hi] BEFORE Spark sees
        the file list (manifest-level data skipping); the residual
        predicate still applies row-level, so pruning is never a
        correctness decision, only a cost one."""
        if version_as_of is None:
            ver, doc = self._latest()
            if doc is None:
                raise ValueError(f"table {self.path} has no committed version")
        else:
            doc = self._manifest_at(version_as_of)
        files = doc["files"]
        if between is not None:
            col, lo, hi = between
            files = [
                e
                for e in files
                if col not in e.get("stats", {})
                or not (e["stats"][col][1] < lo or e["stats"][col][0] > hi)
            ]
        if point is not None:
            pcol, pval = point
            # bloom pruning: drop files whose per-file filter PROVES the
            # key absent; files without a bloom for the column are
            # conservatively kept.  Like between=, never a correctness
            # decision — the residual equality filter still applies.
            files = [
                e
                for e in files
                if pcol not in e.get("bloom", {})
                or _bloom_maybe_contains(
                    e["bloom"][pcol], pval, self.bloom_m, self.bloom_k
                )
            ]
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(doc["schema"]))
        if not files:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, e["path"]) for e in files]
        # the manifest schema is authoritative — never re-inferred from
        # whichever file the reader samples first
        df = self.spark.read.schema(schema).parquet(*paths)
        if between is not None:
            col, lo, hi = between
            df = df.filter(F.col(col).between(F.lit(lo), F.lit(hi)))
        if point is not None:
            pcol, pval = point
            df = df.filter(F.col(pcol) == F.lit(pval))
        return df

    @staticmethod
    def _changed_file_sets(
        old_doc: dict, new_doc: dict
    ) -> tuple[list[dict], list[dict]]:
        """(old_only, new_only) file entries between two manifests.
        Files present in BOTH cancel in any snapshot diff by multiset
        algebra — exceptAll(common+A, common+B) = exceptAll(A, B) — so
        the change feed never reads them."""
        old_paths = {e["path"] for e in old_doc["files"]}
        new_paths = {e["path"] for e in new_doc["files"]}
        old_only = [e for e in old_doc["files"] if e["path"] not in new_paths]
        new_only = [e for e in new_doc["files"] if e["path"] not in old_paths]
        return old_only, new_only

    def _read_file_entries(self, files: list[dict], schema_json: str):
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(schema_json))
        if not files:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, e["path"]) for e in files]
        # the NEWER manifest's schema is authoritative for both sides:
        # files written before a merge_schema widening simply read the
        # added columns as NULL — the same fill the snapshot reader uses
        return self.spark.read.schema(schema).parquet(*paths)

    def table_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level CHANGE FEED (the Delta CDF analogue): every row
        inserted or deleted by each commit in ``(from_version,
        to_version]``, as the table columns plus ``_change_type``
        ('insert' / 'delete') and ``_commit_version``.  An upsert's
        rewrite appears as its delete+insert pair — downstream
        incremental consumers (streaming/aggmaint.py:
        merge_cdc_partial_aggs takes exactly this shape) apply it as a
        retraction.

        Cost ∝ CHURN, not table size: a commit's diff only ever reads
        the files that differ between its manifest and its parent's —
        untouched files appear in both snapshots and cancel exactly
        (multiset algebra, see _changed_file_sets), so a 1% update to a
        100 TB table diffs ~2% of it.  Within the differing files the
        diff is exceptAll both ways (duplicate-correct).

        ``vacuum`` deletes old manifests, so the feed's horizon is the
        retained history — asking past it raises the same loud error
        as time travel."""
        if to_version is None:
            to_version, doc = self._latest()
            if doc is None:
                raise ValueError(
                    f"table {self.path} has no committed version"
                )
        if to_version <= from_version:
            raise ValueError(
                f"to_version {to_version} must be > from_version "
                f"{from_version}"
            )
        out = None
        prev_doc = self._manifest_at(from_version)
        for v in range(from_version + 1, to_version + 1):
            doc = self._manifest_at(v)
            old_only, new_only = self._changed_file_sets(prev_doc, doc)
            new_side = self._read_file_entries(new_only, doc["schema"])
            old_side = self._read_file_entries(old_only, doc["schema"])
            inserts = new_side.exceptAll(old_side).select(
                "*",
                F.lit("insert").alias("_change_type"),
                F.lit(v).alias("_commit_version"),
            )
            deletes = old_side.exceptAll(new_side).select(
                "*",
                F.lit("delete").alias("_change_type"),
                F.lit(v).alias("_commit_version"),
            )
            step = inserts.unionByName(deletes)
            out = step if out is None else out.unionByName(
                step, allowMissingColumns=True
            )
            prev_doc = doc
        return out

    def metadata_aggregates(
        self, version: int | None = None
    ) -> dict:
        """COUNT(*) / per-stats-column MIN/MAX answered from the
        MANIFEST ALONE — zero data files opened (the Delta/Iceberg
        metadata-only-query optimization).  Exact by construction:
        every mutation (append/delete/merge/compact) rewrites the
        affected files and re-derives their footer stats, so the live
        file list's stats ARE the table's stats.

        Returns ``{"version", "n_rows", "n_bytes", "n_files",
        "stats": {col: (min, max) | None}}``.  A column comes back
        None when any live file lacks recorded stats for it — an
        all-null file, a type outside _STATS_OK, or a STRING column
        (parquet writers may truncate long string min/max in the
        footer, so string extrema from footers are bounds, not
        values; refusing is the honest answer).  At 100 TB this is
        the difference between a manifest read and a full scan for
        the commonest dashboard probes."""
        from pyspark.sql.types import StructType

        if version is None:
            version, doc = self._latest()
            if doc is None:
                raise ValueError(f"table {self.path} has no commits")
        else:
            doc = self._manifest_at(version)
        files = doc["files"]
        schema = StructType.fromJson(json.loads(doc["schema"]))
        kinds = {f.name: f.dataType.typeName() for f in schema.fields}
        stats: dict[str, tuple | None] = {}
        for col in self.stats_cols:
            if col not in kinds or kinds[col] == "string":
                stats[col] = None
                continue
            # 0-row files legitimately carry no stats and contribute
            # nothing to extrema — only LIVE rows must be covered
            per_file = [
                e.get("stats", {}).get(col)
                for e in files
                if e["rows"] > 0
            ]
            if per_file and all(s is not None for s in per_file):
                stats[col] = (
                    min(s[0] for s in per_file),
                    max(s[1] for s in per_file),
                )
            else:
                stats[col] = None
        return {
            "version": version,
            "n_rows": sum(e["rows"] for e in files),
            "n_bytes": sum(e["bytes"] for e in files),
            "n_files": len(files),
            "stats": stats,
        }

    def history(self) -> list[CommitInfo]:
        """Commit log, newest first (only non-vacuumed versions)."""
        out = []
        for v in reversed(manifest.versions(self.path)):
            try:
                doc = self._manifest_at(v)
            except ValueError:
                continue
            out.append(
                CommitInfo(
                    version=doc["version"],
                    operation=doc.get("operation", "?"),
                    timestamp=doc.get("timestamp", 0.0),
                    n_files=len(doc["files"]),
                    n_rows=sum(e.get("rows", 0) for e in doc["files"]),
                )
            )
        return out

    def vacuum(self, keep_last: int = manifest.KEEP_LAST) -> int:
        """Drop manifests beyond the newest ``keep_last`` (>= 1) and
        the data dirs only they referenced — the shared retention
        sweep, sources/manifest.py:sweep (its crash-safety order, its
        grace period for a writer's not-yet-published data, and its
        rule that a shallow clone's absolute-path entries are never
        touched).  Returns the number of data dirs removed."""
        return manifest.sweep(
            self.path,
            _DATA_DIR,
            lambda doc: (e["path"] for e in doc["files"]),
            keep_last,
        )


def _zorder(df: DataFrame, cols: tuple[str, ...], n_out: int) -> DataFrame:
    """Cluster ``df`` into ``n_out`` contiguous ranges of the Morton
    order of N numeric/temporal columns (N >= 2; 2-column layouts are
    bit-identical to the original pairwise form).  Each column maps to
    a ``min(16, 63 // N)``-bit bucket by linear scaling over its
    (in-plan, broadcast) min/max — per-column resolution trades off
    against column count so the interleaved z-value always fits a
    BIGINT — the buckets bit-interleave cyclically (column j's bit i
    lands at position i*N + j) with native shift/mask expressions,
    and ``repartitionByRange`` + a partition-local sort lay rows out
    so every output file covers a compact z-range (tight footer stats
    on EVERY clustered column).  NULLs bucket to 0 (they sort first;
    their files simply record no narrowing for that column)."""
    from pyspark.sql import functions as F

    if len(cols) < 2:
        raise ValueError("zorder_by needs at least 2 columns")
    n = len(cols)
    nbits = min(16, 63 // n)
    env = df.agg(
        *[
            f
            for c in cols
            for f in (
                F.min(c).alias(f"__lo_{c}"),
                F.max(c).alias(f"__hi_{c}"),
            )
        ]
    )
    with_env = df.crossJoin(F.broadcast(env))

    def bucket(col: str):
        lo, hi = f"__lo_{col}", f"__hi_{col}"
        span = F.col(hi).cast("double") - F.col(lo).cast("double")
        frac = F.when(span > 0,
                      (F.col(col).cast("double") - F.col(lo).cast("double"))
                      / span).otherwise(F.lit(0.0))
        return F.coalesce(
            F.least(
                F.floor(frac * (1 << nbits)).cast("long"),
                F.lit((1 << nbits) - 1),
            ),
            F.lit(0),
        )

    buckets = [bucket(c) for c in cols]
    z = F.lit(0).cast("long")
    for i in range(nbits):
        for j, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), i * n + j
            )
    drop_cols = ["__z"] + [
        f"__{side}_{c}" for c in cols for side in ("lo", "hi")
    ]
    clustered = (
        with_env.withColumn("__z", z)
        .repartitionByRange(n_out, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop(*drop_cols)
    )
    return clustered


def _json_safe(v):
    """Footer stats values → JSON-serializable (datetimes → isoformat
    strings, which order identically to their datetime originals for
    same-type comparisons; bytes decode best-effort)."""
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v
