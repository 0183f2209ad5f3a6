"""The pipeline runner's execution model: one owner per dataset build,
concurrent ``run()``, cycles across threads, and fail-fast aborts
(DLT ``expect_or_fail`` semantics: the update stops at the first
violation and downstream tables are never written)."""

from __future__ import annotations

import os
import random
import sys
import threading
import time

from pyspark.sql import Row

from diabetes_etl_spark.pipeline.registry import (
    ExpectationFailed,
    Pipeline,
    PipelineRunner,
)


def _run_bounded(fn, timeout: float):
    """Run ``fn`` in a thread; return what it returned or raised, failing
    the test if it has not finished within ``timeout`` seconds."""
    result = {}

    def target():
        try:
            result["value"] = fn()
        except BaseException as exc:  # noqa: BLE001 - handed to the test
            result["error"] = exc

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), f"still running after {timeout}s"
    return result


def test_cycle_split_across_threads_raises(spark):
    """``a`` reads ``b`` and ``b`` reads ``a``.  Run concurrently, one
    thread owns each; the second to wait closes the wait-for cycle and
    must raise instead of waiting forever.  Run serially, ``a`` gives up
    waiting on the event and the in-thread check fires."""
    p = Pipeline("cross-thread-cycle")
    b_started = threading.Event()

    @p.table(name="cyc_a")
    def cyc_a(ctx):
        b_started.wait(5)
        return ctx.read("cyc_b")

    @p.table(name="cyc_b")
    def cyc_b(ctx):
        b_started.set()
        return ctx.read("cyc_a")

    runner = PipelineRunner(p, spark, mode="views", view_prefix="cyc_")
    out = _run_bounded(runner.run, timeout=60)
    assert isinstance(out.get("error"), ValueError), out
    assert "dependency cycle" in str(out["error"])


def test_expect_or_fail_aborts_concurrent_run(spark, tmp_path):
    """A failing ``expect_or_fail`` table among concurrent targets: run()
    re-raises the ExpectationFailed itself (not a cancellation error) and
    the table downstream of the failing one is never written."""
    p = Pipeline("fail-fast")

    @p.table(name="ff_bad")
    @Pipeline.expect_or_fail("positive_v", "v > 0")
    def ff_bad(ctx):
        return ctx.spark.createDataFrame([Row(v=1), Row(v=-2)])

    @p.table(name="ff_sibling")
    def ff_sibling(ctx):
        return ctx.spark.range(1000).selectExpr("id AS v")

    @p.table(name="ff_downstream")
    def ff_downstream(ctx):
        return ctx.read("ff_bad").selectExpr("v * 2 AS v")

    wh = tmp_path / "wh"
    runner = PipelineRunner(p, spark, mode="warehouse", warehouse=str(wh))
    out = _run_bounded(
        lambda: runner.run(["ff_downstream", "ff_sibling", "ff_bad"]),
        timeout=120,
    )
    assert isinstance(out.get("error"), ExpectationFailed), out
    assert "positive_v" in str(out["error"])
    assert not os.path.exists(wh / "ff_bad")
    assert not os.path.exists(wh / "ff_downstream")
    # the aborted run leaves the runner usable for direct calls
    assert runner.materialize("ff_sibling").count() == 1000
    spark.sql("DROP TABLE IF EXISTS `default`.`ff_sibling`")


def test_each_dataset_built_once_under_contention(spark):
    """More threads than cores race to materialize the same datasets in
    different orders, with a short switch interval: every dataset
    function still runs exactly once and every thread gets the one
    memoized frame."""
    p = Pipeline("contention")
    calls: dict[str, int] = {}
    calls_lock = threading.Lock()

    def count(name):
        with calls_lock:
            calls[name] = calls.get(name, 0) + 1
        time.sleep(0.005)

    @p.table(name="ct_root")
    def ct_root(ctx):
        count("ct_root")
        return ctx.spark.range(3)

    children = [f"ct_child_{i}" for i in range(12)]
    for name in children:
        p.table(name=name)(
            lambda c, name=name: (count(name), c.read("ct_root"))[1]
        )

    runner = PipelineRunner(p, spark, mode="views", view_prefix="ct_")
    names = ["ct_root", *children]
    seen: list[dict] = []

    def worker(seed):
        order = list(names)
        random.Random(seed).shuffle(order)
        seen.append({n: runner.materialize(n) for n in order})

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,), daemon=True)
            for i in range(3 * (os.cpu_count() or 1) + 1)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == len(threads)
    assert calls == {n: 1 for n in names}
    for got in seen:
        assert all(got[n] is seen[0][n] for n in names)


def test_run_starts_every_target_at_once(spark):
    """``defaultParallelism + 2`` independent targets that each wait on
    one barrier sized to the target count: the run ends only if every
    target is being built at the same time, so no target may sit in a
    queue behind targets that wait."""
    n = spark.sparkContext.defaultParallelism + 2
    barrier = threading.Barrier(n)
    p = Pipeline("all-at-once")
    names = [f"hol_{i}" for i in range(n)]
    for name in names:
        p.table(name=name)(
            lambda c: (barrier.wait(20), c.spark.range(1))[1]
        )
    runner = PipelineRunner(p, spark, mode="views", view_prefix="hol_")
    out = _run_bounded(runner.run, timeout=60)
    assert "error" not in out, out
    assert set(out["value"]) == set(names)
