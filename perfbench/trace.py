"""Spans and layer counters for the traced run.

Everything here reads the program from the outside: spans are opened by
the benchmark around its calls into each layer, and the counters come
from Spark's own status stores (the core ``AppStatusStore`` for jobs and
stages, the SQL ``SQLAppStatusStore`` plan graphs for scan, join and
Python-node metrics) and from a ``StreamingQueryListener``.  Both stores
stay live with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import html
import itertools
import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    trace_id: str
    parent_id: int | None
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``dump`` writes them once at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def add(self, trace_id: str, parent_id: int | None, name: str,
            start: float, end: float, **attrs) -> Span:
        s = Span(next(self._ids), trace_id, parent_id, name, start, end, attrs)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, trace_id: str, parent_id: int | None, name: str, **attrs):
        s = self.add(trace_id, parent_id, name, time.time(), 0.0, **attrs)
        try:
            yield s
        finally:
            s.end = time.time()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent_id is not None:
                children.setdefault(s.parent_id, []).append(s)
        return {
            s.span_id: s.duration - covered(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in children.get(s.span_id, [])]
            )
            for s in self.spans
        }

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        rows = [
            {
                "span_id": s.span_id, "trace_id": s.trace_id,
                "parent_id": s.parent_id, "name": s.name,
                "start": round(s.start, 6), "end": round(s.end, 6),
                "duration_s": round(s.duration, 6),
                "self_s": round(selfs[s.span_id], 6), **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**extra, "spans": rows}, fh, indent=1)
            fh.write("\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def innermost(spans: list[Span], t: float) -> Span | None:
    """The shortest span whose interval contains ``t``."""
    inside = [s for s in spans if s.start <= t <= s.end]
    return min(inside, key=lambda s: s.duration) if inside else None


# -- Spark status stores -----------------------------------------------------

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "": 1.0,
}
_VALUE_RE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
_NODE_RE = re.compile(r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*?)" tooltip=')


def parse_metric(text: str) -> float:
    """A rendered SQL metric (``1,828``, ``64.0 KiB``, ``1.3 s``) in base
    units: rows, bytes or seconds."""
    m = _VALUE_RE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def parse_plan_graph(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(node name, {metric name: value}) for every operator node of a plan
    graph rendered by ``SparkPlanGraph.makeDotFile``."""
    nodes = []
    for line in dot.splitlines():
        m = _NODE_RE.match(line)
        if not m:
            continue
        parts = html.unescape(m.group(1).replace('\\"', '"')).split("<br>")
        parts = [p for p in parts if p.strip()]
        name = re.sub(r"</?b>", "", parts[0]).strip()
        metrics: dict[str, float] = {}
        i = 1
        while i < len(parts):
            line_i = parts[i]
            if " total (min, med, max" in line_i and i + 1 < len(parts):
                metrics[line_i.split(" total (min, med, max")[0]] = parse_metric(
                    parts[i + 1]
                )
                i += 2
                continue
            key, sep, value = line_i.partition(": ")
            if sep:
                metrics[key] = parse_metric(value)
            i += 1
        nodes.append((name, metrics))
    return nodes


class StatusReader:
    """Reads jobs, stages and SQL plan graphs for an id range."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._app = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job_cls = jvm.java.lang.Class.forName(
            "org.apache.spark.status.JobDataWrapper"
        )
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(scala_module)

    def drain(self) -> None:
        """Wait until every posted listener event has been processed, so
        the stores (and the streaming listener) hold the op's records."""
        self._bus.waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) seen so far."""
        it = self._app.store().view(self._job_cls).reverse().max(1).iterator()
        job = it.next().info().jobId() if it.hasNext() else -1
        n = self._sql.executionsCount()
        ex = self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        return job, ex

    def jobs(self, after: int, upto: int) -> list[dict]:
        out = []
        for jid in range(after + 1, upto + 1):
            try:
                job = json.loads(self._json.writeValueAsString(self._app.job(jid)))
            except Exception:  # evicted from the store: nothing to read
                continue
            job["stages"] = []
            for sid in job.get("stageIds", []):
                try:
                    st = json.loads(
                        self._json.writeValueAsString(self._app.lastStageAttempt(sid))
                    )
                except Exception:
                    continue
                if st.get("status") == "SKIPPED":
                    continue
                st["writingTasks"] = (
                    self._writing_tasks(sid, st["attemptId"]) if st.get("outputBytes") else 0
                )
                job["stages"].append(st)
            out.append(job)
        return out

    def _writing_tasks(self, stage_id: int, attempt: int) -> int:
        """Tasks of a stage that wrote output.  Each writes one file per
        partition value it holds."""
        tasks = json.loads(self._json.writeValueAsString(
            self._app.taskList(stage_id, attempt, 1 << 20)
        ))
        return sum(
            1 for t in tasks
            if (t.get("taskMetrics") or {}).get("outputMetrics", {}).get("bytesWritten")
        )

    def plan_nodes(self, after: int, upto: int) -> list[tuple[str, dict[str, float]]]:
        nodes = []
        for eid in range(after + 1, upto + 1):
            try:
                graph = self._sql.planGraph(eid)
                dot = graph.makeDotFile(self._sql.executionMetrics(eid))
            except Exception:
                continue
            nodes.extend(parse_plan_graph(dot))
        return nodes


# -- layer counters -----------------------------------------------------------

_JOIN_NODES = {
    "SortMergeJoin": "catalyst.smj",
    "ShuffledHashJoin": "catalyst.shj",
    "BroadcastHashJoin": "catalyst.bhj",
}
# Python-worker SQL metrics -> layer metric (value already in s or bytes).
_PY_METRICS = {
    "time to run Python workers": "operators.py_run_s",
    "time to start Python workers": "operators.py_start_s",
    "time to initialize Python workers": "operators.py_init_s",
    "data sent to Python workers": "operators.py_sent_mb",
    "data returned from Python workers": "operators.py_returned_mb",
}
_MB = 2.0**20


def add_plan_counters(acc: dict[str, float], nodes) -> None:
    for name, metrics in nodes:
        if name in _JOIN_NODES:
            acc[_JOIN_NODES[name]] += 1
        py = [k for k in metrics if "Python worker" in k]
        if py:
            acc["catalyst.python_nodes"] += 1
            for k in py:
                if k in _PY_METRICS:
                    key = _PY_METRICS[k]
                    scale = 1 / _MB if key.endswith("_mb") else 1.0
                    acc[key] += metrics[k] * scale
        if name.startswith("Scan"):
            acc["sources.files_read"] += metrics.get("number of files read", 0.0)
            acc["sources.bytes_read_mb"] += metrics.get("size of files read", 0.0) / _MB
            acc["sources.rows_scanned"] += metrics.get("number of output rows", 0.0)


def add_job_counters(acc: dict[str, float], jobs: list[dict]) -> None:
    for job in jobs:
        acc["spark.jobs"] += 1
        for st in job["stages"]:
            acc["spark.stages"] += 1
            acc["spark.tasks"] += st.get("numCompleteTasks", 0)
            run = st.get("executorRunTime", 0) / 1e3
            cpu = st.get("executorCpuTime", 0) / 1e9
            acc["spark.executor_run_s"] += run
            acc["spark.executor_cpu_s"] += cpu
            acc["spark.executor_noncpu_s"] += max(0.0, run - cpu)
            acc["spark.gc_s"] += st.get("jvmGcTime", 0) / 1e3
            acc["spark.shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / _MB
            acc["spark.shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / _MB
            acc["spark.spill_mb"] += (
                st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            ) / _MB
            # files written by tasks: batch table writes and the stream sink
            acc["pipeline.bytes_written_mb"] += st.get("outputBytes", 0) / _MB
            acc["pipeline.rows_written"] += st.get("outputRecords", 0)
            acc["pipeline.files_written"] += st["writingTasks"]


def job_interval(job: dict) -> tuple[float, float] | None:
    s, e = job.get("submissionTime"), job.get("completionTime")
    if s is None or e is None:
        return None
    return s / 1e3, e / 1e3


class StreamProgress:
    """Collects ``StreamingQueryProgress`` events between ``start`` and
    ``stop`` (registered per traced pass, so untraced passes pay nothing)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append(
                    {
                        "name": p.name,
                        "batch_id": p.batchId,
                        "timestamp": p.timestamp,
                        "input_rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._listener = _Listener()

    def start(self) -> None:
        self._spark.streams.addListener(self._listener)

    def stop(self) -> None:
        self._spark.streams.removeListener(self._listener)
