"""Benchmark entry point: one workload, one seed, one process.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload corpus_llm --seed 1 --seconds 3 --trace 0

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1``
it runs a traced pass and then untraced ones, prints the per-layer
metrics and writes the spans to ``.perfbench_out/``.  The last stdout
line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
See perfbench/NOTES.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_llm", "medallion_refresh")
INPUT_REPEATS = 3  # input generation runs per set-up; setup_s uses the median
# Initial driver heap.  The maximum stays the program's own
# (``spark.driver.memory``); starting from the JVM's default (1/64 of RAM)
# instead, peak RSS followed the collector's expansion decisions and
# spread 25% across seeds.
INITIAL_HEAP = "2g"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """Highest of p99.9/p99/p95/p90/p75/p50 with at least ten samples
    beyond it; the maximum when there are fewer than twenty samples."""
    n = len(samples)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            return p, statistics.quantiles(samples, n=1000, method="inclusive")[
                int(p * 10) - 1
            ]
    return 100.0, max(samples)


def peak_rss_mb(jvm_pid: int) -> float:
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    return py + jvm


class Bench:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.attempted = self.failed = 0
        self.passes: list[dict] = []

    # -- set-up ------------------------------------------------------------

    def start_session(self):
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        from diabetes_etl_spark.session import get_spark

        return get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Xms{INITIAL_HEAP}",
            },
        )

    def generate(self) -> tuple[str, list[float]]:
        from perfbench.workloads import generate_inputs

        times, digests = [], []
        for i in range(INPUT_REPEATS):
            d = os.path.join(self.work, f"inputs_{i}")
            t = time.perf_counter()
            generate_inputs(self.args.workload, d, self.args.seed)
            times.append(time.perf_counter() - t)
            digests.append(tree_digest(d))
            if i:
                shutil.rmtree(d)
        if len(set(digests)) != 1:
            raise RuntimeError("input generation is not deterministic")
        return os.path.join(self.work, "inputs_0"), times

    # -- passes -------------------------------------------------------------

    def run_pass(self, wl, pass_no: int, tracing, ops=None) -> dict:
        acc = defaultdict(float)
        ops = ops if ops is not None else wl.pass_ops(pass_no)
        results = []
        t0 = time.perf_counter()
        for op in ops:
            wl.prepare(op, pass_no)
            t = time.perf_counter()
            try:
                if tracing is None:
                    res, err = wl.execute(op, pass_no, None), None
                else:
                    res, err = tracing.op(wl, op, pass_no, acc), None
            except Exception:
                res, err = None, traceback.format_exc(limit=3)
            results.append((op, time.perf_counter() - t, res, err))
        wall = time.perf_counter() - t0
        if tracing is not None:
            tracing.end_pass(acc)
        t_check = time.perf_counter()
        for op, _lat, res, err in results:
            self.attempted += 1
            try:
                problems = [err] if err else wl.check(op, pass_no, res)
            except Exception:
                problems = [traceback.format_exc(limit=3)]
            if problems:
                self.failed += 1
                log(f"FAILED pass {pass_no} {op}: {problems[0][:2000]}")
        wl.end_pass(pass_no)
        log(f"pass {pass_no}: {wall:.2f}s, checked in {time.perf_counter() - t_check:.2f}s")
        return {
            "pass": pass_no,
            "traced": tracing is not None,
            "wall_s": wall,
            "ops": [(op, lat) for op, lat, _r, _e in results],
            "layers": dict(acc),
        }


def tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run(args, work: str) -> dict:
    from perfbench import layers
    from perfbench.trace import median

    bench = Bench(args, work)
    t0 = time.perf_counter()
    spark = bench.start_session()
    start_s = time.perf_counter() - t0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    log(f"session started in {start_s:.2f}s with {os.environ['SPARK_GRAFT_CPUS']} cores")
    try:
        in_dir, gen_times = bench.generate()
        from perfbench.workloads import make_workload

        t = time.perf_counter()
        wl = make_workload(args.workload, spark, in_dir, args.seed)
        tracing = layers.Tracing(spark, args.workload) if args.trace else None
        start_s += time.perf_counter() - t
        warmup = bench.run_pass(wl, 0, None, wl.warmup_ops())
        warmup_s = warmup["wall_s"]
        setup_s = start_s + median(gen_times) + warmup_s
        log(f"set-up {setup_s:.2f}s (start {start_s:.2f}s, inputs "
            f"{median(gen_times):.2f}s, warm-up pass {warmup_s:.2f}s)")

        # at least one pass; traced: a traced pass, then untraced ones
        deadline = time.perf_counter() + args.seconds
        pass_no = 1
        while True:
            traced = bool(args.trace) and pass_no == 1
            bench.passes.append(bench.run_pass(wl, pass_no, tracing if traced else None))
            pass_no += 1
            if pass_no > 1 + args.trace and time.perf_counter() >= deadline:
                break
        wl.close()
        rss = peak_rss_mb(jvm_pid)
    finally:
        stop_session(spark)

    plain = [p for p in bench.passes if not p["traced"]]
    lat = [x for p in plain for _op, x in p["ops"]]
    p_tail, tail = tail_percentile(lat)
    by_op = defaultdict(list)
    for p in plain:
        for op, x in p["ops"]:
            by_op[op].append(x)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": len(bench.passes),
        "op_tail_percentile": p_tail,
        "op_samples": len(lat),
        "op_median_s": {op: median(v) for op, v in sorted(by_op.items())},
        "setup": {"start_s": start_s, "inputs_s": gen_times, "warmup_s": warmup_s},
    }
    log(f"op_tail_s is p{p_tail:g} over {len(lat)} op samples")
    for op, v in report["op_median_s"].items():
        log(f"  {op}: median {v:.3f}s over {len(by_op[op])}")
    if args.trace:
        metrics = tracing.metrics(bench.passes, start_s, warmup_s)
        tracing.write(os.path.join(ROOT, ".perfbench_out"), args.seed, report, metrics)
        units = layers.PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": median([p["wall_s"] for p in plain]),
            "op_p50_s": median(lat),
            "op_tail_s": tail,
            "peak_rss_mb": rss,
        }
        units = END_TO_END
        if args.workload == "medallion_refresh":
            for op in ("full_refresh", "incremental_refresh"):
                log(f"{op}_s = {median(by_op[op]):.3f} s (median of {len(by_op[op])})")
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MiB",
}


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("diabetes_etl_spark/__init__.py", "tests/pandas_compare.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.makedirs(os.environ["TMPDIR"])
    # for every JVM, spark-submit's launcher included: temp files under the
    # run's directory and no perf-data file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    tempfile.tempdir = None
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
