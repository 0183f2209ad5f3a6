"""Per-layer metrics of the traced run.

``Tracing.op`` runs one op under spans (op -> plans.build ->
catalyst.plan -> spark.exec for queries; op -> pipeline.<dataset> for
the medallion refresh), then reads what the op did from Spark's status
stores and adds it to the pass's counters.  Each layer is a package of
the program; ``PER_LAYER`` lists its metrics and their units.
"""

from __future__ import annotations

import datetime as dt
import os

from perfbench.trace import (
    StatusReader, StreamProgress, Tracer, add_job_counters, add_plan_counters,
    covered, innermost, job_interval, median,
)
from perfbench.workloads import TraceCtx, pipeline_datasets

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "plans.driver_py_cpu_s": "s",
    "catalyst.plan_s": "s",
    "catalyst.smj": "count",
    "catalyst.shj": "count",
    "catalyst.bhj": "count",
    "catalyst.python_nodes": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.exec_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_noncpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MiB",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "sources.files_read": "count",
    "sources.bytes_read_mb": "MiB",
    "sources.rows_scanned": "rows",
    "sources.rows_scanned_per_row_out": "rows/row",
    "operators.py_run_s": "s",
    "operators.py_start_s": "s",
    "operators.py_init_s": "s",
    "operators.py_sent_mb": "MiB",
    "operators.py_returned_mb": "MiB",
    "streaming.batches": "count",
    "streaming.input_rows": "rows",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    **{f"pipeline.{d}_s": "s" for d in pipeline_datasets()[0]},
    "pipeline.bytes_written_mb": "MiB",
    "pipeline.rows_written": "rows",
    "pipeline.files_written": "count",
    "pipeline.bytes_written_per_input_byte": "B/B",
    "pipeline.full_refresh_s": "s",
    "pipeline.incremental_refresh_s": "s",
    "trace.pass_s_untraced": "s",
    "trace.pass_s_traced": "s",
    "trace.overhead_s": "s",
}
_MIB = 2.0**20


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Tracing:
    def __init__(self, spark, workload: str):
        self.workload = workload
        self.tracer = Tracer()
        self.reader = StatusReader(spark)
        self.progress = StreamProgress(spark)
        self._listening = False

    def op(self, wl, op: str, pass_no: int, acc: dict[str, float]):
        if not self._listening:
            self.progress.start()
            self._listening = True
        job0, ex0 = self.reader.mark()
        ev0 = len(self.progress.events)
        acc0 = dict(acc)
        trace_id = f"pass{pass_no}/{op}"
        with self.tracer.span(trace_id, None, "op", op=op, pass_no=pass_no) as root:
            result = wl.execute(op, pass_no, TraceCtx(self.tracer, trace_id, root, acc))
        self.reader.drain()
        job1, ex1 = self.reader.mark()
        own = [s for s in self.tracer.spans if s.trace_id == trace_id]

        jobs = self.reader.jobs(job0, job1)
        add_job_counters(acc, jobs)
        busy = []
        for job in jobs:
            iv = job_interval(job)
            if iv is None:
                continue
            parent = innermost(own, iv[0]) or root
            if parent.name == "plans.build":
                acc["plans.eager_jobs"] += 1
            self.tracer.add(trace_id, parent.span_id, "spark.job", iv[0], iv[1],
                            job_id=job["jobId"], stages=len(job["stages"]))
            busy.append((max(iv[0], root.start), min(iv[1], root.end)))
        acc["spark.driver_gap_s"] += root.duration - covered(busy)
        add_plan_counters(acc, self.reader.plan_nodes(ex0, ex1))

        for ev in self.progress.events[ev0:]:
            d = ev["duration_ms"]
            start = _epoch(ev["timestamp"])
            end = start + d.get("triggerExecution", 0) / 1e3
            parent = innermost(own, start) or root
            self.tracer.add(trace_id, parent.span_id, "streaming.batch", start, end,
                            query=ev["name"], batch_id=ev["batch_id"],
                            input_rows=ev["input_rows"])
            acc["streaming.batches"] += 1
            acc["streaming.input_rows"] += ev["input_rows"]
            acc["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            acc["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            acc["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3

        datasets = [s for s in own if s.name.startswith("pipeline.")]
        for s in datasets:
            upstream = [(c.start, c.end) for c in datasets if c.parent_id == s.span_id]
            acc[f"{s.name}_s"] += s.duration - covered(upstream)
        acc["_input_bytes"] += wl.input_bytes(op)
        acc["_rows_out"] += wl.rows_out(op, result)
        # the op's own share of every counter, for per-op splits
        root.attrs["layers"] = {
            k: round(v - acc0.get(k, 0.0), 6) for k, v in acc.items()
            if v != acc0.get(k, 0.0) and not k.startswith("_")
        }
        return result

    def end_pass(self, acc: dict[str, float]) -> None:
        self.reader.drain()
        if self._listening:
            self.progress.stop()
            self._listening = False
        if acc["_rows_out"]:
            acc["sources.rows_scanned_per_row_out"] = (
                acc["sources.rows_scanned"] / acc["_rows_out"]
            )
        if acc["_input_bytes"]:
            acc["pipeline.bytes_written_per_input_byte"] = (
                acc["pipeline.bytes_written_mb"] * _MIB / acc["_input_bytes"]
            )

    def metrics(self, passes: list[dict], start_s: float, warmup_s: float) -> dict:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        out = {k: median(p["layers"].get(k, 0.0) for p in traced) for k in PER_LAYER}
        out["session.start_s"] = start_s
        out["session.warmup_s"] = warmup_s
        for op in ("full_refresh", "incremental_refresh"):
            out[f"pipeline.{op}_s"] = median(
                lat for p in plain for o, lat in p["ops"] if o == op
            )
        out["trace.pass_s_untraced"] = median(p["wall_s"] for p in plain)
        out["trace.pass_s_traced"] = median(p["wall_s"] for p in traced)
        out["trace.overhead_s"] = out["trace.pass_s_traced"] - out["trace.pass_s_untraced"]
        return out

    def write(self, out_dir: str, seed: int, report: dict, metrics: dict) -> str:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{self.workload}-seed{seed}.json")
        self.tracer.dump(path, {"report": report, "metrics": metrics})
        return path
