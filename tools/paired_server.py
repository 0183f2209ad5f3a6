"""Paired-measurement worker: reads query names on stdin (one per
line), times one noop-sink execution at $SPARK_GRAFT_SF_DIR (default
sf0.1), prints ``TIME <name> <sec>`` per line.  Driven by
tools/opt_paired.py which alternates two trees (A/B) so host drift
hits both variants equally.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from diabetes_etl_spark.plans.registry import all_queries  # noqa: E402
from diabetes_etl_spark.session import get_spark, warm_session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="paired-" + os.path.basename(os.getcwd()))
    registry = all_queries(include_extended=True)
    warm_session(spark)
    print("READY", flush=True)
    for line in sys.stdin:
        name = line.strip()
        if not name:
            continue
        if name == "QUIT":
            break
        t0 = time.perf_counter()
        registry[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        print(f"TIME {name} {time.perf_counter() - t0:.3f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
