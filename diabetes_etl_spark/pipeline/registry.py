"""Medallion pipeline engine — the open-source replacement for the
reference's Databricks DLT layer (SURVEY.md §7.3).

The reference declares its dataflow with `@dlt.table` / `@dlt.view`
decorators and wires the DAG implicitly through `dlt.read(name)`
(reference: src/diabetes_etl_pipeline.py:46-92 and passim).  This module
provides the same declarative surface on stock PySpark:

- ``Pipeline.table`` / ``Pipeline.view`` register named dataset builders;
- ``ctx.read(name)`` inside a builder resolves an upstream dataset,
  materializing it on first use (memoized), so the DAG needs no
  explicit sort;
- expectations (`expect_or_drop`, `expect_all`, `expect_or_fail`)
  mirror DLT data-quality semantics (reference: pipeline:54,109-113):
  drop → filter, warn → pass-through + side metrics, fail → assert;
- two materialization modes: ``views`` (temp views, zero I/O — used by
  the correctness gate) and ``warehouse`` (parquet tables on disk,
  optionally partitioned — the production shape).

Execution model (DLT runs independent flows at the same time):

- one owner per dataset: the first thread to need a dataset builds it,
  and any other thread that reads it waits for that build instead of
  starting its own.  A wait that would close a cycle through other
  threads' builds raises the same ``dependency cycle`` error as a
  cycle inside one thread;
- ``run()`` gives each target a build thread of its own, so every
  dataset starts as soon as its inputs are written.  A build thread
  mostly waits, on an upstream build or on its own Spark jobs, and
  sharing the executor cores among those jobs is the Spark scheduler's
  work.  A pool with fewer threads than targets would let targets that
  wait on an upstream (the dashboard views wait on their golds) hold
  every thread while datasets whose inputs are written sit in its
  queue;
- fail fast: each dataset's Spark jobs carry a job tag of their own.
  The first error a target raises aborts the run: the jobs of the
  datasets still being built are cancelled, every target waiting on a
  build re-raises that error, and ``run()`` re-raises it too (an
  ``ExpectationFailed`` stays an ``ExpectationFailed``);
- ``materialize(name)`` called directly builds ``name`` and its
  upstreams serially in the calling thread.

Scale notes: a dataset read by several downstream tables (the silver
fan-out, reference pipeline:280-643) is cached once via ``cache=``;
warehouse writes can partition by a date column so downstream scans
partition-prune.  A written table is read back and registered with the
schema the writer already holds, so neither step runs a
schema-inference job.
"""

from __future__ import annotations

import functools
import operator
import os
import threading
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ExpectationFailed(RuntimeError):
    """Raised when an ``expect_or_fail`` expectation is violated
    (DLT semantics: the pipeline update aborts)."""


def _sql_str(s: str) -> str:
    """Escape a Python string for embedding in a single-quoted SQL
    literal (comments and table properties are user-authored text)."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _committed_sink_files(sink_dir: str) -> set[str] | None:
    """File names the streaming file sink has durably committed, parsed
    from its ``_spark_metadata`` log (v1: one JSON SinkFileStatus per
    line).  Returns None when no log exists (not a file-sink dir) —
    callers then fall back to the raw listing.  Filtering the publish
    step through this log means a task file left behind by a failed
    batch can never be published."""
    meta = os.path.join(sink_dir, "_spark_metadata")
    if not os.path.isdir(meta):
        return None
    import json  # noqa: PLC0415

    names: set[str] = set()
    for lf in sorted(os.listdir(meta)):
        if lf.startswith(".") or lf.endswith(".crc"):
            continue
        try:
            with open(os.path.join(meta, lf)) as fh:
                for line in fh:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue
                    try:
                        obj = json.loads(line)
                    except ValueError:
                        continue
                    if obj.get("action") == "delete":
                        names.discard(os.path.basename(obj.get("path", "")))
                    elif obj.get("path"):
                        names.add(os.path.basename(obj["path"]))
        except OSError:
            continue
    return names


@dataclass(frozen=True)
class Expectation:
    name: str
    condition: str  # SQL boolean expression
    action: str  # "drop" | "warn" | "fail"


@dataclass(frozen=True)
class CdcSpec:
    """apply_changes configuration (the dlt.apply_changes argument set)."""

    keys: tuple[str, ...]
    sequence_by: str
    scd_type: int = 1
    tiebreak_by: tuple[str, ...] = ()
    apply_as_deletes: str | None = None
    n_buckets: int = 16


@dataclass
class Dataset:
    name: str
    fn: Callable[["PipelineContext"], DataFrame]
    kind: str  # "table" | "view"
    comment: str = ""
    expectations: tuple[Expectation, ...] = ()
    streaming: bool = False
    partition_by: tuple[str, ...] = ()
    table_properties: dict[str, str] = field(default_factory=dict)
    cdc: CdcSpec | None = None


@dataclass(eq=False)
class _Build:
    """One dataset build in flight: the thread that owns it and, once it
    has failed, the error it raised (which its waiters re-raise)."""

    owner: int
    error: BaseException | None = None


class Pipeline:
    """A named collection of dataset builders forming a DAG."""

    def __init__(self, name: str):
        self.name = name
        self.datasets: dict[str, Dataset] = {}

    def _register(self, kind: str, name: str | None, comment: str,
                  expectations: tuple[Expectation, ...], streaming: bool,
                  partition_by: tuple[str, ...],
                  table_properties: dict[str, str] | None = None):
        def deco(fn):
            ds_name = name or fn.__name__
            if ds_name in self.datasets:
                raise ValueError(f"duplicate dataset {ds_name!r}")
            exps = tuple(expectations) + tuple(getattr(fn, "__expectations__", ()))
            self.datasets[ds_name] = Dataset(
                name=ds_name, fn=fn, kind=kind, comment=comment,
                expectations=exps, streaming=streaming,
                partition_by=tuple(partition_by),
                table_properties=dict(table_properties or {}),
            )
            return fn

        return deco

    def table(self, name: str | None = None, comment: str = "",
              streaming: bool = False, partition_by: tuple[str, ...] = (),
              table_properties: dict[str, str] | None = None):
        return self._register("table", name, comment, (), streaming,
                              partition_by, table_properties)

    def view(self, name: str | None = None, comment: str = ""):
        return self._register("view", name, comment, (), False, ())

    def apply_changes(
        self,
        target: str,
        source: str | Callable[["PipelineContext"], DataFrame],
        keys: list[str] | tuple[str, ...],
        sequence_by: str,
        scd_type: int = 1,
        tiebreak_by: tuple[str, ...] = (),
        apply_as_deletes: str | None = None,
        n_buckets: int = 16,
        comment: str = "",
    ) -> None:
        """Register a CDC target fed by a change stream — the engine's
        ``dlt.apply_changes``.  ``source`` is either the name of another
        registered (streaming) dataset, whose RAW builder output feeds
        the merge (it is not separately materialized), or a callable
        producing the change stream.  scd_type 1 keeps latest-wins
        state; 2 keeps full version history with __start_at/__end_at
        (streaming/cdc.py has the semantics, the commit protocol and
        the scale notes).
        """
        if scd_type not in (1, 2):
            raise ValueError(f"unsupported scd_type {scd_type}")

        if callable(source):
            fn = source
        else:

            def fn(ctx: "PipelineContext") -> DataFrame:
                src = self.datasets.get(source)
                if src is None:
                    raise KeyError(
                        f"apply_changes source dataset {source!r} not found"
                    )
                return src.fn(ctx)

        if target in self.datasets:
            raise ValueError(f"duplicate dataset {target!r}")
        self.datasets[target] = Dataset(
            name=target,
            fn=fn,
            kind="table",
            comment=comment,
            streaming=True,
            cdc=CdcSpec(
                keys=tuple(keys),
                sequence_by=sequence_by,
                scd_type=scd_type,
                tiebreak_by=tuple(tiebreak_by),
                apply_as_deletes=apply_as_deletes,
                n_buckets=n_buckets,
            ),
        )

    # -- expectation decorators (stack under @table, like dlt) ------------

    @staticmethod
    def expect_or_drop(name: str, condition: str):
        return _attach_expectation(Expectation(name, condition, "drop"))

    @staticmethod
    def expect_all(conds: dict[str, str]):
        def deco(fn):
            for n, c in conds.items():
                _attach_expectation(Expectation(n, c, "warn"))(fn)
            return fn

        return deco

    @staticmethod
    def expect_or_fail(name: str, condition: str):
        return _attach_expectation(Expectation(name, condition, "fail"))


def _violated(exp: Expectation):
    """The row-level violation predicate: the condition is not TRUE.
    A NULL result is a violation (DLT semantics), the same rows
    expect_or_drop's filter(cond) drops."""
    return F.expr(f"NOT coalesce(({exp.condition}), false)")


def _violations(warn: list[Expectation]) -> list:
    """Per-warn-expectation violation counts, aliased ``__v_<i>``."""
    return [
        F.sum(F.when(_violated(e), 1).otherwise(0)).alias(f"__v_{i}")
        for i, e in enumerate(warn)
    ]


def _attach_expectation(exp: Expectation):
    def deco(fn):
        exps = list(getattr(fn, "__expectations__", ()))
        exps.append(exp)
        fn.__expectations__ = tuple(exps)
        return fn

    return deco


class PipelineContext:
    def __init__(self, runner: "PipelineRunner"):
        self._runner = runner
        self.spark = runner.spark

    def read(self, name: str) -> DataFrame:
        """Resolve an upstream dataset (the dlt.read equivalent)."""
        return self._runner.materialize(name)


class PipelineRunner:
    def __init__(
        self,
        pipeline: Pipeline,
        spark: SparkSession,
        mode: str = "views",
        warehouse: str | None = None,
        checkpoint_dir: str | None = None,
        cache: tuple[str, ...] = (),
        view_prefix: str = "",
    ):
        if mode not in ("views", "warehouse"):
            raise ValueError(mode)
        if mode == "warehouse" and not warehouse:
            raise ValueError("warehouse mode requires a warehouse dir")
        self.pipeline = pipeline
        self.spark = spark
        self.mode = mode
        self.warehouse = warehouse
        self.checkpoint_dir = checkpoint_dir or (
            os.path.join(warehouse, "_checkpoints") if warehouse else None
        )
        self.cache = set(cache)
        self.view_prefix = view_prefix
        # One lock (with its condition) guards every field below that
        # the threads building datasets share.
        self._lock = threading.Condition()
        self._done: dict[str, DataFrame] = {}
        self._builds: dict[str, _Build] = {}  # dataset -> build in flight
        self._waiting: dict[int, str] = {}  # thread -> dataset it waits on
        self._error: BaseException | None = None  # first error of run()
        # single-pass warn metrics (pyspark Observation): observe nodes
        # attached in _apply_expectations land here as "pending"; once
        # a materialization ACTION has run over the observed plan they
        # move to _observed and expectation_metrics() reads them for
        # free (Observation.get blocks until an action — never read a
        # pending one)
        self._pending_obs: dict[str, tuple] = {}
        self._observed: dict[str, tuple] = {}
        self._cdc_tmp: str | None = None
        # datasets being built by the current thread (in-thread cycles)
        self._local = threading.local()
        self._tag_prefix = f"pipeline-{uuid.uuid4().hex}-"

    # -- execution --------------------------------------------------------

    def run(self, targets: list[str] | None = None) -> dict[str, DataFrame]:
        """Materialize ``targets`` (default: every dataset) concurrently,
        one build thread per target, and return every dataset built so
        far.  A target waiting on another's build costs a parked thread,
        not a queue slot, so no target waits behind one that cannot
        start yet.  The first error a target raises stops the run
        (in-flight jobs are cancelled, waiting targets re-raise it) and
        is re-raised here."""
        names = list(targets or self.pipeline.datasets)
        try:
            # leaving the block joins every build thread
            with ThreadPoolExecutor(max(1, len(names)),
                                    thread_name_prefix="pipeline") as pool:
                for n in names:
                    pool.submit(self._run_target, n)
            # _run_target records every failure before its thread ends
            if self._error is not None:
                raise self._error
        finally:
            self._error = None
        with self._lock:
            return dict(self._done)

    def _run_target(self, name: str) -> None:
        try:
            self.materialize(name)
        except BaseException as exc:
            self._abort(exc)
            raise

    def _abort(self, exc: BaseException) -> None:
        """Record the run's first error, wake every waiter so it re-raises
        it, and cancel the Spark jobs of the datasets still in flight."""
        with self._lock:
            if self._error is not None:
                return
            self._error = exc
            in_flight = list(self._builds)
            self._lock.notify_all()
        sc = self.spark.sparkContext
        for name in in_flight:
            sc.cancelJobsWithTag(self._tag_prefix + name)

    def materialize(self, name: str) -> DataFrame:
        """The dataset ``name``, built on first use and memoized.  If
        another thread is building it, wait for that build (and re-raise
        its error if it fails)."""
        stack = self._local.__dict__.setdefault("stack", [])
        if name in stack:
            raise ValueError(f"dependency cycle at dataset {name!r}")
        ds = self.pipeline.datasets.get(name)
        if ds is None:
            raise KeyError(f"unknown dataset {name!r}")
        with self._lock:
            while True:
                if name in self._done:
                    return self._done[name]
                if self._error is not None:
                    raise self._error
                build = self._builds.get(name)
                if build is None:
                    break
                self._await_build(name, build)
            build = self._builds[name] = _Build(threading.get_ident())
        stack.append(name)
        try:
            df = self._build(ds)
        except BaseException as exc:
            build.error = exc
            raise
        finally:
            stack.pop()
            with self._lock:
                del self._builds[name]
                if build.error is None:
                    self._done[name] = df
                self._lock.notify_all()
        return df

    def _await_build(self, name: str, build: _Build) -> None:
        """Wait (holding ``_lock``) until another thread's ``build`` of
        ``name`` ends or the run aborts.  First walk the wait-for chain
        (owner -> the dataset it waits on -> that dataset's owner ...):
        if it leads back to this thread, waiting would never end."""
        me = threading.get_ident()
        owner: int | None = build.owner
        while owner is not None:
            if owner == me:
                raise ValueError(f"dependency cycle at dataset {name!r}")
            waits_on = self._waiting.get(owner)
            owner = (self._builds[waits_on].owner
                     if waits_on in self._builds else None)
        self._waiting[me] = name
        try:
            self._lock.wait_for(
                lambda: self._builds.get(name) is not build
                or self._error is not None
            )
        finally:
            del self._waiting[me]
        if build.error is not None:
            raise build.error

    def _build(self, ds: Dataset) -> DataFrame:
        """Build ``ds`` with its dataset function and write it to its
        sink, with every Spark job it starts carrying the dataset's job
        tag."""
        sc = self.spark.sparkContext
        tag = self._tag_prefix + ds.name
        sc.addJobTag(tag)
        try:
            df = ds.fn(PipelineContext(self))
            df = self._apply_expectations(ds, df)
            if self._error is not None:  # the run aborted meanwhile
                raise self._error
            if ds.kind == "view":
                df.createOrReplaceTempView(self.view_prefix + ds.name)
            elif ds.cdc is not None:
                df = self._materialize_cdc(ds, df)
            elif ds.streaming and df.isStreaming:
                df = self._materialize_stream(ds, df)
            elif self.mode == "warehouse":
                df = self._materialize_batch(ds, df)
            else:
                if ds.name in self.cache:
                    df = df.cache()
                df.createOrReplaceTempView(self.view_prefix + ds.name)
            return df
        finally:
            sc.removeJobTag(tag)

    def _apply_expectations(self, ds: Dataset, df: DataFrame) -> DataFrame:
        fail_exps = [e for e in ds.expectations if e.action == "fail"]
        if fail_exps and not df.isStreaming:
            # DLT expect_or_fail semantics: ANY violating row aborts the
            # update.  One combined existence probe (limit(1) keeps it a
            # short-circuit scan, no full count) for all fail
            # conditions, then per-expectation attribution only on the
            # failure path.
            combined = functools.reduce(
                operator.or_, [_violated(e) for e in fail_exps]
            )
            if df.filter(combined).limit(1).count() > 0:
                for e in fail_exps:
                    n_bad = df.filter(_violated(e)).count()
                    if n_bad:
                        raise ExpectationFailed(
                            f"dataset {ds.name!r}: expectation {e.name!r} "
                            f"({e.condition}) violated by {n_bad} row(s)"
                        )
        for exp in ds.expectations:
            if exp.action == "drop":
                df = df.filter(F.expr(exp.condition))
        warn = [e for e in ds.expectations if e.action == "warn"]
        if warn and not df.isStreaming:
            # attach a CollectMetrics node so the warn counts ride the
            # materialization scan itself — expectation_metrics() then
            # costs ZERO extra passes for datasets whose write action
            # ran (the DLT event-log behavior; the reference's
            # data_validation_summary re-derives them with a second
            # aggregate, pipeline:645-667).  Attached AFTER the
            # fail-probe and drop filters: rows_checked counts the
            # PUBLISHED rows, and the short-circuit fail probe must not
            # consume the one-shot observation.
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(
                obs, F.count(F.lit(1)).alias("rows_checked"), *_violations(warn)
            )
            with self._lock:
                self._pending_obs[ds.name] = (obs, warn)
        return df

    def _materialize_cdc(self, ds: Dataset, df: DataFrame) -> DataFrame:
        """Drive an apply_changes dataset: merge the change stream into
        its bucket-partitioned target and expose the resulting state as
        a temp view.  In warehouse mode the target (and checkpoint) are
        durable, so re-runs process only new change files and merge them
        against the previously applied state; in views mode a
        runner-lifetime temp dir gives the same semantics per session.
        """
        import tempfile

        from diabetes_etl_spark.streaming import cdc as cdc_ops

        if not df.isStreaming:
            raise ValueError(
                f"apply_changes dataset {ds.name!r} needs a streaming source"
            )
        if self.warehouse:
            base = self.warehouse
        else:
            with self._lock:
                if self._cdc_tmp is None:
                    self._cdc_tmp = tempfile.mkdtemp(prefix="cdc_pipeline_")
                base = self._cdc_tmp
        target = os.path.join(base, ds.name)
        ck = os.path.join(
            self.checkpoint_dir or os.path.join(base, "_checkpoints"),
            ds.name,
        )
        spec = ds.cdc
        apply = (
            cdc_ops.apply_changes_scd1
            if spec.scd_type == 1
            else cdc_ops.apply_changes_scd2
        )
        out = apply(
            self.spark,
            df,
            target_dir=target,
            keys=list(spec.keys),
            sequence_col=spec.sequence_by,
            tiebreak_cols=list(spec.tiebreak_by),
            delete_expr=spec.apply_as_deletes,
            n_buckets=spec.n_buckets,
            checkpoint=ck,
        )
        if out is None:
            # no changes ever applied: empty state typed EXACTLY like
            # the non-empty output (SCD2 adds validity/tombstone
            # columns), so downstream selects don't flap between runs
            from pyspark.sql.types import BooleanType, StructField, StructType

            fields = list(df.schema.fields)
            if spec.scd_type == 2:
                seq_type = df.schema[spec.sequence_by].dataType
                fields += [
                    StructField("__deleted", BooleanType()),
                    StructField("__start_at", seq_type),
                    StructField("__end_at", seq_type),
                ]
            out = self.spark.createDataFrame([], StructType(fields))
        out.createOrReplaceTempView(self.view_prefix + ds.name)
        return out

    def _materialize_batch(self, ds: Dataset, df: DataFrame) -> DataFrame:
        path = os.path.join(self.warehouse, ds.name)
        writer = df.write.mode("overwrite").format("parquet")
        if ds.partition_by:
            writer = writer.partitionBy(*ds.partition_by)
        writer.save(path)
        with self._lock:
            # the write was the action over the observed plan — the
            # metrics are now available without any further scan
            if ds.name in self._pending_obs:
                self._observed[ds.name] = self._pending_obs.pop(ds.name)
        # The writer's own data columns spare the footer-inference job.
        # Partition columns are left to directory discovery (a file
        # listing, no job), so their types and their place (last) are
        # exactly those of a fresh spark.read.parquet: a string
        # partition value that looks like a date reads back as a date
        # either way.
        out = self.spark.read.schema(StructType(
            [f for f in df.schema if f.name not in ds.partition_by]
        )).parquet(path)
        self._register_catalog_table(ds, path, out.schema)
        out.createOrReplaceTempView(self.view_prefix + ds.name)
        return out

    def _register_catalog_table(
        self, ds: Dataset, path: str, schema: StructType
    ) -> None:
        """Persist the dataset as an external catalog table over its
        parquet location, carrying the declared ``comment`` and
        ``table_properties`` — the reference declares both on every
        table (src/diabetes_etl_pipeline.py:46-53,82-85) and DLT
        surfaces them through the catalog.  ``DESCRIBE TABLE EXTENDED``
        / ``SHOW TBLPROPERTIES`` show them here the same way.
        """
        # database-qualified so the same-named temp view (which shadows
        # unqualified names) never intercepts the DDL
        ident = f"`default`.`{self.view_prefix + ds.name}`"
        self.spark.sql(f"DROP TABLE IF EXISTS {ident}")
        # Explicit columns, from the schema the caller read the table
        # back with: the catalog then runs no inference job, an empty
        # location (a streaming table's first run) still registers, and
        # the partition columns can be declared.
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema
        )
        ddl = f"CREATE TABLE {ident} ({cols}) USING parquet"
        if ds.comment:
            ddl += f" COMMENT '{_sql_str(ds.comment)}'"
        if ds.partition_by:
            part = ", ".join(f"`{c}`" for c in ds.partition_by)
            ddl += f" PARTITIONED BY ({part})"
        ddl += f" LOCATION '{_sql_str(path)}'"
        if ds.table_properties:
            kv = ", ".join(
                f"'{_sql_str(k)}' = '{_sql_str(str(v))}'"
                for k, v in ds.table_properties.items()
            )
            ddl += f" TBLPROPERTIES ({kv})"
        self.spark.sql(ddl)
        if ds.partition_by:
            self.spark.sql(f"ALTER TABLE {ident} RECOVER PARTITIONS")

    def _materialize_stream(self, ds: Dataset, df: DataFrame) -> DataFrame:
        """Run a streaming dataset to completion with availableNow —
        the OSS equivalent of the reference's bounded Autoloader ingest
        ("halts after reading available files", pipeline:57-69).
        The checkpoint gives exactly-once across re-runs.

        Fail expectations can't be probed on the unbounded plan (no
        count on a streaming DataFrame), so the stream lands in a
        STAGING sink (the checkpoint's stable partner); each update's
        not-yet-published files are validated there and published to
        the table path only on success — DLT semantics: a failed update
        aborts WITHOUT committing the bad data, and the table keeps its
        last good contents.  Publishing is per-file (unique sink file
        names), so it is idempotent and only the new delta is ever
        validated or moved — no full-table rewrite or rescan per update.

        The staged publish assumes a local-POSIX warehouse path
        (os.listdir + os.link/copy); on an object store the equivalent
        is a manifest-commit protocol (what Delta's transaction log
        provides).
        """
        if self.mode != "warehouse":
            raise ValueError(
                f"streaming dataset {ds.name!r} requires warehouse mode"
            )
        path = os.path.join(self.warehouse, ds.name)
        staging = os.path.join(self.warehouse, "_staging", ds.name)
        checkpoint = os.path.join(self.checkpoint_dir, ds.name)
        q = (
            df.writeStream.format("parquet")
            .option("path", staging)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        os.makedirs(path, exist_ok=True)
        published = set(os.listdir(path))
        committed = _committed_sink_files(staging)
        pending = [
            f
            for f in sorted(os.listdir(staging))
            if f.endswith(".parquet")
            and f not in published
            and (committed is None or f in committed)
        ]
        fail_exps = tuple(
            e for e in ds.expectations if e.action == "fail"
        )
        if fail_exps and pending:
            delta = self.spark.read.parquet(
                *[os.path.join(staging, f) for f in pending]
            )
            # raises ExpectationFailed on violation: nothing published,
            # the table keeps its previous contents; the next run
            # re-validates the same pending files (stays red until the
            # operator intervenes, like a failed DLT update).
            self._apply_expectations(
                Dataset(name=ds.name, fn=ds.fn, kind=ds.kind,
                        expectations=fail_exps),
                delta,
            )
        import shutil  # noqa: PLC0415

        for f in pending:
            # hard-link when possible (atomic, zero-copy), copy as the
            # cross-device fallback
            src, dst = os.path.join(staging, f), os.path.join(path, f)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)
        # Read back with the stream's schema: no inference job, and a
        # first run with zero input files (an empty table directory)
        # still gives a typed empty frame and catalog table.
        out = self.spark.read.schema(df.schema).parquet(path)
        self._register_catalog_table(ds, path, out.schema)
        out.createOrReplaceTempView(self.view_prefix + ds.name)
        return out

    # -- data-quality metrics (reference: pipeline:109-113,631-672) -------

    def expectation_metrics(self) -> DataFrame | None:
        """One row per (dataset, expectation): rows checked / violations.

        Computed as a single aggregate per dataset (conditional sums),
        mirroring how the reference re-derives its warn metrics in
        `data_validation_summary` (pipeline:645-667).
        """
        with self._lock:
            done, observed = dict(self._done), dict(self._observed)
        parts = []
        for name, ds in self.pipeline.datasets.items():
            warn = [e for e in ds.expectations if e.action == "warn"]
            if not warn or name not in done:
                continue
            if name in observed:
                # metrics captured DURING the materialization write —
                # no re-scan; safe to read because the action provably
                # ran (the pending->observed move happens after save())
                obs, warn_obs = observed[name]
                vals = obs.get
                rows = [
                    (
                        name,
                        e.name,
                        int(vals["rows_checked"]),
                        int(vals[f"__v_{i}"]),
                    )
                    for i, e in enumerate(warn_obs)
                ]
                parts.append(
                    self.spark.createDataFrame(
                        rows,
                        "dataset string, expectation string, "
                        "rows_checked bigint, violations bigint",
                    )
                )
                continue
            agg = done[name].agg(
                F.count(F.lit(1)).alias("rows_checked"), *_violations(warn)
            )
            long = agg.select(
                F.expr(
                    "stack("
                    + str(len(warn))
                    + ", "
                    + ", ".join(
                        f"'{e.name}', __v_{i}" for i, e in enumerate(warn)
                    )
                    + ") AS (expectation, violations)"
                ),
                F.col("rows_checked"),
            ).select(
                F.lit(name).alias("dataset"),
                "expectation",
                "rows_checked",
                "violations",
            )
            parts.append(long)
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
