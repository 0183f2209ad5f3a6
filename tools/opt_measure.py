"""Optimization measurement harness (rounds 13+).

Times named registry queries in isolation with the noop sink (guide
§1.4) and, with ``--tag``, captures the POST-EXECUTION
``explain("formatted")`` plan (the AQE final plan) to the gitignored
``plans/<name>_<tag>.txt`` at the repo root:

    python tools/opt_measure.py q1_pricing_summary sim_pq_adc_topk \
        [--sf /root/testdata/sf0.1] [--reps 3] [--tag before]

Prints one line per query: min / median over reps, each rep's codegen
compile count and compile ms (a warm rep compiles 0 classes), plus
exchange and python-boundary counts from the executed plan.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from diabetes_etl_spark.plans.registry import all_queries  # noqa: E402
from diabetes_etl_spark.session import get_spark, warm_session  # noqa: E402


def formatted_plan(df) -> str:
    qe = df._jdf.queryExecution()
    return df.sparkSession._jvm.PythonSQLUtils.explainString(qe, "formatted")


def codegen_totals(spark) -> tuple[int, float]:
    """(classes compiled, ms spent compiling) so far in this JVM."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return (
        compiles.METRIC_COMPILATION_TIME().getCount(),
        generator.compileTime() / 1e6,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--tag", default=None,
        help="write the executed plan to plans/<name>_<tag>.txt (gitignored)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="opt-measure-r13")
    registry = all_queries(include_extended=True)
    warm_session(spark)  # the same warm-up as bench.py

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
    )

    for name in args.names:
        spec = registry.get(name)
        if spec is None:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        ts, compiles, compile_ms = [], [], []
        df = None
        for _ in range(args.reps):
            n0, ms0 = codegen_totals(spark)
            t0 = time.perf_counter()
            df = spec.fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 3))
            n1, ms1 = codegen_totals(spark)
            compiles.append(n1 - n0)
            compile_ms.append(round(ms1 - ms0))
        plan = formatted_plan(df)
        if args.tag:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        stats = {
            "exchanges": len(re.findall(r"\bExchange\b", plan)),
            "bhj": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "py": plan.count("MapInPandas")
            + plan.count("ArrowEvalPython")
            + plan.count("BatchEvalPython")
            + plan.count("MapInArrow")
            + plan.count("FlatMapGroupsInPandas"),
            "compiles": compiles,
            "compile_ms": compile_ms,
        }
        med = sorted(ts)[len(ts) // 2]
        print(
            f"{name}: min={min(ts)} med={med} samples={ts} {stats}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
