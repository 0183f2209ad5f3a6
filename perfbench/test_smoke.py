"""Smoke test of the benchmark itself, at the sizes it measures.

Runs every workload once untraced and once traced and checks that each
run is correct, prints every metric with its unit, and (traced) writes
spans that nest with no negative self time.  With ``--seconds 1``
an untraced run makes one measured pass and a traced run two.  Takes
about four minutes:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.run import END_TO_END, WORKLOADS  # noqa: E402

# Job spans come from the status store in whole milliseconds.
CLOCK_SLACK_S = 0.01


def run_bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_result(result: dict, units: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_end_to_end_metrics(workload):
    result = run_bench(workload, 0)
    assert_result(result, END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_layers_and_nested_spans(workload):
    assert_result(run_bench(workload, 1), PER_LAYER)
    path = os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed7.json")
    with open(path, encoding="utf-8") as fh:
        spans = json.load(fh)["spans"]
    by_id = {s["span_id"]: s for s in spans}
    assert {s["name"] for s in spans} >= {"op", "spark.job"}
    for s in spans:
        assert s["self_s"] >= -1e-6, s
        if s["parent_id"] is None:
            assert s["name"] == "op", s
            continue
        parent = by_id[s["parent_id"]]
        assert parent["trace_id"] == s["trace_id"], s
        assert s["start"] >= parent["start"] - CLOCK_SLACK_S, (s, parent)
        assert s["end"] <= parent["end"] + CLOCK_SLACK_S, (s, parent)
