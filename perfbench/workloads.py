"""The benchmark's workloads.

A workload is a list of ops run in passes by one closed-loop client.  It
executes an op (``execute``), optionally under a per-op trace context,
and checks the op's result after the pass, outside every timed span
(``check``).
"""

from __future__ import annotations

import os
import random
import shutil
import time

from perfbench import datagen

# -- query workloads -----------------------------------------------------------

# LLM-corpus queries: a driver loop of ~30 eager jobs with Python-worker
# kernels (dedup_components); at sf0.001 the other two are bound by job
# launch and planning, not by JVM or Python CPU (see NOTES.md).
CORPUS_LLM = [
    "dedup_components",
    "cf_item_similarity_topk",
    "text_wordpiece_segments",
]


class TraceCtx:
    """Span parent and counters of one traced op."""

    def __init__(self, tracer, trace_id: str, root, acc: dict[str, float]):
        self.tracer, self.trace_id, self.root, self.acc = tracer, trace_id, root, acc

    def span(self, name: str, parent=None, **attrs):
        parent = parent if parent is not None else self.root
        return self.tracer.span(self.trace_id, parent.span_id, name, **attrs)


class QueryWorkload:
    """Registered queries over the generated fixture tables, each checked
    against its DuckDB oracle on the same files."""

    def __init__(self, spark, queries: list[str], data_dir: str, seed: int):
        from diabetes_etl_spark.plans import all_queries

        specs = all_queries(include_extended=True)
        self.spark, self.data_dir, self.seed = spark, data_dir, seed
        self.specs = {n: specs[n] for n in queries}
        self._oracle: dict = {}
        self._duck = None

    def pass_ops(self, pass_no: int) -> list[str]:
        ops = list(self.specs)
        random.Random(f"{self.seed}/{pass_no}").shuffle(ops)
        return ops

    def warmup_ops(self) -> list[str]:
        """Two passes: the JIT is still warming through the second."""
        return self.pass_ops(-2) + self.pass_ops(-1)

    def prepare(self, op: str, pass_no: int) -> None:
        pass

    def execute(self, op: str, pass_no: int, tc: TraceCtx | None):
        fn = self.specs[op].fn
        if tc is None:
            return fn(self.spark, self.data_dir).toPandas()
        with tc.span("plans.build") as s:
            cpu0 = time.process_time()
            df = fn(self.spark, self.data_dir)
            tc.acc["plans.driver_py_cpu_s"] += time.process_time() - cpu0
        tc.acc["plans.build_s"] += s.duration
        with tc.span("catalyst.plan") as s:
            df._jdf.queryExecution().executedPlan()
        tc.acc["catalyst.plan_s"] += s.duration
        with tc.span("spark.exec") as s:
            pdf = df.toPandas()
        tc.acc["spark.exec_s"] += s.duration
        return pdf

    def rows_out(self, op: str, result) -> int:
        return len(result)

    def input_bytes(self, op: str) -> int:
        return 0

    def oracle(self, op: str):
        if op not in self._oracle:
            import duckdb

            if self._duck is None:
                self._duck = duckdb.connect()
                for t in ("region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem", "events", "documents",
                          "embeddings"):
                    path = os.path.join(self.data_dir, f"{t}.parquet")
                    self._duck.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                    )
            self._oracle[op] = self._duck.execute(self.specs[op].oracle).fetchdf()
        return self._oracle[op]

    def check(self, op: str, pass_no: int, result) -> list[str]:
        from pandas_compare import compare_frames

        return compare_frames(op, result, self.oracle(op))

    def end_pass(self, pass_no: int) -> None:
        pass

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


# -- medallion refresh ----------------------------------------------------------

FIXED_NOW = "2024-06-01 12:00:00"


def pipeline_datasets() -> tuple[list[str], list[str]]:
    """(all dataset names, gold table names) as the pipeline declares them."""
    from diabetes_etl_spark.diabetes.pipeline_def import build_diabetes_pipeline

    datasets = build_diabetes_pipeline("").datasets
    gold = [n for n, d in datasets.items() if d.table_properties.get("quality") == "gold"]
    return list(datasets), gold


class MedallionWorkload:
    """The diabetes medallion pipeline in warehouse mode with a streaming
    bronze, as a scheduled job runs it: a pass is a full refresh into a
    fresh warehouse over the base CSV files, then an incremental refresh
    after one new file lands.  There is no warm-up: the first pass pays
    the session's one-time costs, as a job started in a new session does."""

    OPS = ["full_refresh", "incremental_refresh"]

    def __init__(self, spark, work_dir: str, rows: int):
        from diabetes_etl_spark.context import RunContext
        from diabetes_etl_spark.diabetes.pipeline_def import build_diabetes_pipeline
        from diabetes_etl_spark.pipeline.registry import PipelineRunner

        self._build, self._runner_cls = build_diabetes_pipeline, PipelineRunner
        self._ctx = RunContext(fixed_now=FIXED_NOW, fixed_run_id="perfbench")
        self.spark, self.rows = spark, rows
        self.work_dir = work_dir
        self.src = os.path.join(work_dir, "landing")
        self._held = os.path.join(work_dir, "arriving")
        self.base_files = sorted(os.listdir(self.src))
        (self.new_file,) = os.listdir(self._held)
        self.gold_tables = pipeline_datasets()[1]
        self._gold_expected = None

    def _op_files(self, op: str) -> list[str]:
        if op == "full_refresh":
            return [os.path.join(self.src, n) for n in self.base_files]
        return [os.path.join(self._held, self.new_file)]

    def input_bytes(self, op: str) -> int:
        return sum(os.path.getsize(p) for p in self._op_files(op))

    def rows_out(self, op: str, result) -> int:
        """Rows the refresh ingested: the rows of the files it picked up."""
        return self.rows * len(self._op_files(op))

    def pass_ops(self, pass_no: int) -> list[str]:
        return list(self.OPS)

    def warmup_ops(self) -> list[str]:
        return []

    def warehouse(self, pass_no: int) -> str:
        return os.path.join(self.work_dir, f"warehouse_{pass_no}")

    def prepare(self, op: str, pass_no: int) -> None:
        landed = os.path.join(self.src, self.new_file)
        if op == "full_refresh":
            if os.path.exists(landed):
                os.remove(landed)
        else:
            os.link(os.path.join(self._held, self.new_file), landed)

    def _runner(self, warehouse: str | None, streaming: bool):
        pipeline = self._build(self.src, ctx=self._ctx, streaming=streaming)
        if warehouse is None:
            return self._runner_cls(pipeline, self.spark, mode="views",
                                    view_prefix="expected_",
                                    cache=("diabetes_silver",))
        return self._runner_cls(pipeline, self.spark, mode="warehouse",
                                warehouse=warehouse)

    def execute(self, op: str, pass_no: int, tc: TraceCtx | None):
        runner = self._runner(self.warehouse(pass_no), streaming=True)
        if tc is not None:
            trace_materialize(runner, tc)
        # Sinks first: every upstream dataset is then materialized by the
        # dataset that reads it, so dataset spans nest along the DAG.  The
        # same 14 datasets are materialized as with the declaration order.
        runner.run(list(reversed(runner.pipeline.datasets)))
        return op

    def check(self, op: str, pass_no: int, result) -> list[str]:
        if op != "incremental_refresh":
            return []
        return self._check_warehouse(self.warehouse(pass_no))

    def _check_warehouse(self, wh: str) -> list[str]:
        from pyspark.sql import functions as F

        problems = []
        n_files = len(self.base_files) + 1
        read = self.spark.read.parquet
        per_file = (
            read(os.path.join(wh, "diabetes_bronze"))
            .groupBy("file_name").count().collect()
        )
        counts = {r["file_name"]: r["count"] for r in per_file}
        want = {os.path.splitext(n)[0]: self.rows
                for n in self.base_files + [self.new_file]}
        if counts != want:
            problems.append(f"bronze rows per file {counts} != generated {want}")
        silver = read(os.path.join(wh, "diabetes_silver")).agg(
            F.count("*").alias("n")
        ).first()["n"]
        if silver != n_files * self.rows:
            problems.append(f"silver rows {silver} != generated {n_files * self.rows}")
        expected = self._expected_gold()
        for name in self.gold_tables:
            got = read(os.path.join(wh, name)).toPandas()
            problems += compare_gold(name, got, expected[name])
        return problems

    def _expected_gold(self):
        """Gold tables of a views-mode batch run over the same files."""
        if self._gold_expected is None:
            out = self._runner(None, streaming=False).run(self.gold_tables)
            self._gold_expected = {n: out[n].toPandas() for n in self.gold_tables}
            self.spark.catalog.clearCache()
        return self._gold_expected

    def end_pass(self, pass_no: int) -> None:
        shutil.rmtree(self.warehouse(pass_no), ignore_errors=True)

    def close(self) -> None:
        pass


# Gold averages are doubles rounded to 2-3 decimals.  The warehouse run
# and the views-mode run add them up in different orders, so a value on a
# rounding edge can come out one unit apart in its last decimal place.
GOLD_FLOAT_ATOL = 0.0101


def compare_gold(name: str, got, want) -> list[str]:
    """``compare_frames``, except that float columns may differ by
    ``GOLD_FLOAT_ATOL`` once the rows are aligned on the other columns."""
    import numpy as np

    from pandas_compare import compare_frames

    problems = compare_frames(name, got, want)
    if not problems or sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return problems
    floats = [c for c in got.columns if got[c].dtype.kind == "f"]
    keys = sorted(c for c in got.columns if c not in floats)
    g = got.astype({k: str for k in keys}).sort_values(keys, ignore_index=True)
    w = want.astype({k: str for k in keys}).sort_values(keys, ignore_index=True)
    if not g[keys].equals(w[keys]):
        return problems
    for c in floats:
        a, b = g[c].to_numpy(float), w[c].to_numpy(float)
        if not np.allclose(a, b, rtol=0.0, atol=GOLD_FLOAT_ATOL, equal_nan=True):
            return problems
    return []


def trace_materialize(runner, tc: TraceCtx) -> None:
    """Wrap this runner's ``materialize`` so every dataset gets a span,
    parented by the span of the dataset that read it."""
    original = runner.materialize
    stack, built = [tc.root], set()

    def materialize(name: str):
        if name in built:  # already materialized: the runner returns it
            return original(name)
        built.add(name)
        with tc.span(f"pipeline.{name}", parent=stack[-1], dataset=name) as s:
            stack.append(s)
            try:
                return original(name)
            finally:
                stack.pop()

    runner.materialize = materialize


# -- registry -------------------------------------------------------------------

TABLES_SF = 0.001  # fixture-table scale factor (lineitem: 6,000 rows)
CORPUS_DOCS = 80  # documents / embeddings rows
PIMA_FILES = 6  # CSV files of the base set; one more lands before each incremental refresh
PIMA_ROWS = 2000  # rows per CSV file


def generate_inputs(name: str, in_dir: str, seed: int) -> None:
    """Write the workload's seeded input files under ``in_dir``."""
    if name == "corpus_llm":
        datagen.write_tables(in_dir, seed, TABLES_SF, CORPUS_DOCS)
        return
    landing, arriving = os.path.join(in_dir, "landing"), os.path.join(in_dir, "arriving")
    os.makedirs(landing)
    os.makedirs(arriving)
    for i in range(PIMA_FILES + 1):
        folder = landing if i < PIMA_FILES else arriving
        datagen.write_pima_csv(
            os.path.join(folder, f"diabetes_part_{i + 1}.csv"), seed, i, PIMA_ROWS
        )


def make_workload(name: str, spark, in_dir: str, seed: int):
    if name == "medallion_refresh":
        return MedallionWorkload(spark, in_dir, PIMA_ROWS)
    return QueryWorkload(spark, CORPUS_LLM, in_dir, seed)
