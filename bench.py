#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

The headline set is every registered query whose ``tags`` carry
``"headline"`` (declared at its ``register`` site, gate or extended
tier alike).  Prints ONE compact JSON line as the FINAL stdout line
(per-query minima, minima total, pipeline e2e — sized to fit the
driver's 2000-char capture buffer) and writes the full detail (raw
samples, medians, 10x/sf1 scale probes) to ``BENCH_DETAIL.json`` next
to this file:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion through the noop sink, so the
full plan — scans, shuffles, windows — actually runs.

Noise hygiene (round-9 VERDICT #1): three base passes per query
(min + median published), and a NOISE SENTINEL — one fixed query
timed right after warm-up and again after the last measured block —
is published in both the detail file and the compact line, so a
round whose host got slower mid-run carries its own disclaimer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from diabetes_etl_spark.plans import all_queries
from diabetes_etl_spark.session import get_spark, warm_session


# Input of the end-to-end pipeline run when the reference CSVs are absent:
# Pima-shaped files from perfbench/datagen.py, as tests/test_diabetes_pipeline.py
# generates them.
E2E_GEN_FILES, E2E_GEN_ROWS, E2E_GEN_SEED = 6, 128, 1


def _pipeline_e2e(spark, csv_dir: str) -> dict:
    """End-to-end medallion pipeline TAT: streaming bronze ingest
    (availableNow + checkpoint) through every silver/gold/view dataset,
    materialized to a parquet warehouse.  It runs on the reference's own
    768-row CSVs in ``csv_dir`` (the input BASELINE.md's "<5 min" is
    defined against) when they are present, else on generated CSVs;
    ``input`` says which.  Returns ``{"sec", "samples", "input"}``, or
    ``{"skipped": <reason>}`` when the run fails."""
    import shutil
    import tempfile

    from diabetes_etl_spark.context import RunContext
    from diabetes_etl_spark.diabetes.pipeline_def import build_diabetes_pipeline
    from diabetes_etl_spark.pipeline.registry import PipelineRunner

    tmp = tempfile.mkdtemp(prefix="bench_e2e_")
    try:
        if os.path.isdir(csv_dir):
            src, label = csv_dir, "reference CSVs"
        else:
            from perfbench.datagen import write_pima_csv

            src = os.path.join(tmp, "landing")
            os.makedirs(src)
            for i in range(E2E_GEN_FILES):
                write_pima_csv(os.path.join(src, f"diabetes_part_{i + 1}.csv"),
                               E2E_GEN_SEED, i, E2E_GEN_ROWS)
            label = (f"generated: {E2E_GEN_FILES} x {E2E_GEN_ROWS}-row Pima"
                     f" CSVs (perfbench.datagen, seed {E2E_GEN_SEED})")
        # two passes, keep the min: the FIRST streaming-pipeline run in a
        # session pays one-time Structured-Streaming machinery init (~10s
        # observed) that is session startup, not pipeline cost — the same
        # min-of-N rationale as the per-query loop.
        samples = []
        for k in range(2):
            t0 = time.perf_counter()
            ctx = RunContext(
                fixed_now="2024-06-01 12:00:00", fixed_run_id="bench-e2e"
            )
            PipelineRunner(
                build_diabetes_pipeline(src, ctx=ctx, streaming=True),
                spark,
                mode="warehouse",
                warehouse=os.path.join(tmp, f"wh_{k}"),
            ).run()
            samples.append(round(time.perf_counter() - t0, 3))
        return {"sec": min(samples), "samples": samples, "input": label}
    except Exception as exc:  # noqa: BLE001 - reported in the artifact
        import traceback

        traceback.print_exc()
        return {"skipped": f"{type(exc).__name__}: {exc}"}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark(app_name="diabetes-etl-spark-bench")
    registry = all_queries(include_extended=True)
    names = [n for n, spec in registry.items() if "headline" in spec.tags]
    # per-query numbers measure the plans, not session startup
    warm_session(spark)

    # Multiple passes per query, keep the per-query minimum: single-shot
    # timings on a shared host mix plan cost with transient JVM/GC/IO
    # state (observed 3-10x swings on identical plans); the minimum is
    # the reproducible plan cost.  "value" is the sum of the minima.
    # THREE base passes for every query (round-9 VERDICT #1: the r9
    # artifact carried a uniform ~1.4x host-load inflation that two
    # samples could not separate from real regressions), and per-query
    # medians are published alongside the minima so round-over-round
    # regressions read without a noise disclaimer.
    def run_query(name: str, data_dir: str) -> float:
        t0 = time.perf_counter()
        df = registry[name].fn(spark, data_dir)
        # noop sink: full plan executes exactly once, nothing written.
        # (count() would column-prune projections; count()+collect()
        # would execute the plan twice.)
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    # Noise sentinel (round-9 VERDICT #1): time one FIXED query — the
    # already-warmed q1 plan, untouched across rounds — immediately
    # after warm-up and again after the last measured block, and
    # publish both.  A sentinel ratio well above 1 means the HOST got
    # slower while the bench ran (page cache churn, sibling load);
    # per-query deltas in such an artifact are host drift, not plan
    # regressions.  min-of-5 on each side (round-13, verdict-r12 #4:
    # min-of-2 drifted to the 0.85 band edge two rounds running —
    # the sentinel needs to be quieter than the signal it brackets;
    # this widens ONLY the sentinel, the frozen min-of-3 headline
    # protocol is untouched) so scheduler jitter cannot fake a drift.
    def sentinel_sample() -> float:
        return min(run_query("q1_pricing_summary", sf_dir) for _ in range(5))

    # unrecorded first-touch: the sentinel must measure HOST drift, not
    # its own cold page-cache at sf_dir (a cold first bracket read as
    # ratio 0.38 — a phantom "host sped up")
    run_query("q1_pricing_summary", sf_dir)
    sentinel_first = sentinel_sample()
    print(f"# noise_sentinel first: {sentinel_first}s", file=sys.stderr)

    samples: dict[str, list[float]] = {n: [] for n in names}
    for run in range(3):
        for name in names:
            elapsed = run_query(name, sf_dir)
            samples[name].append(elapsed)
            print(f"# {name} (run {run}): {elapsed}s", file=sys.stderr)
    # Cold-start guard (round-5 VERDICT #3): when the samples disagree
    # by >1.5x, at least one measured transient state (first streaming
    # init, cold page cache), not the plan — take a fourth sample so
    # the median sits on two agreeing observations.
    for name in names:
        s = samples[name]
        if max(s) > 1.5 * min(s):
            elapsed = run_query(name, sf_dir)
            samples[name].append(elapsed)
            print(
                f"# {name} (>1.5x spread extra): {elapsed}s",
                file=sys.stderr,
            )
    timings = {n: min(s) for n, s in samples.items()}
    medians = {n: round(sorted(s)[len(s) // 2], 3) for n, s in samples.items()}
    total = round(sum(timings.values()), 3)

    # 10x scale spot-check for the dedup/ANN scale paths (round-3
    # VERDICT #7): replicate documents+embeddings 10x
    # (tools/scale_probe.py:replicate_corpus_10x — near-dup document
    # copies, direction-perturbed embedding copies; a
    # duplication-heavy corpus is the worst case the bounded-bucket
    # design exists for).  Bench-only: validates that the bounded pair
    # generator and the broadcast bucket join hold beyond sf0.1.
    scale10x = {"skipped": "SPARK_GRAFT_SCALE10X=0"}
    if os.environ.get("SPARK_GRAFT_SCALE10X", "1") != "0":
        import shutil
        import tempfile

        from tools.scale_probe import replicate_corpus_10x

        tmp = tempfile.mkdtemp(prefix="bench_scale10x_")
        try:
            replicate_corpus_10x(spark, sf_dir, tmp)
            n_docs = spark.read.parquet(f"{tmp}/documents.parquet").count()
            scale10x = {"rows_documents": n_docs}
            for name in (
                "dedup_minhash_lsh",
                # round-6: count-table designs — bigram LM's model table
                # and the CMS's constant-size cells must stay sublinear
                # on a 10x duplication-heavy corpus
                "text_bigram_lm_quality",
                "cms_token_frequencies",
                # round-7 (VERDICT #8): the two heaviest iterative
                # queries — their per-round durable state commits are
                # exactly the part whose scaling behavior needs a
                # number (k-means rounds over 10x embeddings; SemDeDup
                # over 10x near-dup-heavy clusters)
                "cluster_kmeans_embeddings",
                "semdedup_cluster_stats",
                # round-8 (VERDICT #9): the gate ANN query over the 10x
                # PERTURBED embeddings — non-degenerate scaling
                # evidence for the hyperplane-LSH bucket path
                "sim_lsh_topk",
                # round-10 (VERDICT #3): the ANN-fed TwoNN scale twin —
                # its whole reason to exist is sublinearity where the
                # all-pairs baseline is quadratic
                "embeddings_intrinsic_dim_ann",
            ):
                # min-of-2: these single-shot numbers ride right behind
                # the corpus-replication writes and have been observed
                # to absorb a GC/page-cache spike (one 93s sample vs a
                # 15s isolated rerun on identical code) — one repeat
                # recovers the plan cost like the headline minima do
                best = None
                for _ in range(2):
                    t0 = time.perf_counter()
                    registry[name].fn(spark, tmp).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    sample = round(time.perf_counter() - t0, 3)
                    best = sample if best is None else min(best, sample)
                scale10x[name] = best
                print(f"# scale10x {name}: {scale10x[name]}s", file=sys.stderr)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # sf1 scaling check for the relational join/shuffle paths (round-4
    # VERDICT #3): replicate lineitem+orders 10x with matching orderkey
    # offsets (joins stay consistent; dims untouched, so fact/dim
    # fan-out grows 10x like a real sf1) and run the join-heavy
    # headliners once each.  Reported as sec + the ratio vs 10x linear
    # scaling of the sf0.1 minimum — a ratio well above 1 flags a plan
    # that degrades super-linearly (the dedup/ANN scale paths get the
    # same treatment in the scale10x block above).
    scale_sf1 = {"skipped": "SPARK_GRAFT_SF1=0"}
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        import shutil
        import tempfile
        from functools import reduce

        from pyspark.sql import DataFrame

        tmp = tempfile.mkdtemp(prefix="bench_sf1_")
        off = 100_000_000
        try:
            for tbl, keys in (
                ("lineitem", {"l_orderkey"}),
                ("orders", {"o_orderkey"}),
                # customer replicated too (distinct custkeys; orders
                # keep referencing the k=0 copy) so the agg/window
                # paths below run against 10x of THEIR driving table,
                # not a symlinked sf0.1 dimension
                ("customer", {"c_custkey"}),
            ):
                base = spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
                reduce(
                    DataFrame.unionByName,
                    [
                        base.select(
                            *[
                                (F.col(c) + k * off).alias(c)
                                if c in keys
                                else F.col(c)
                                for c in base.columns
                            ]
                        )
                        for k in range(10)
                    ],
                ).write.mode("overwrite").parquet(f"{tmp}/{tbl}.parquet")
            for tbl in (
                "region", "nation", "supplier", "part",
                "events", "documents", "embeddings",
            ):
                os.symlink(
                    f"{sf_dir}/{tbl}.parquet", f"{tmp}/{tbl}.parquet"
                )
            scale_sf1 = {}
            for name in (
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q5_local_supplier_volume",
                "join_outer_semi_anti",
                # round-5 VERDICT #7: the window and grouping-sets
                # paths had never run past sf0.1 — window_suite drives
                # 10x orders, grouping_sets_having_regions 10x customer
                "window_suite",
                "grouping_sets_having_regions",
                # round-6: iterative graph ops at 10x input — the
                # supplier/customer key space is unchanged by the
                # replication, so the edge set dedups to the sf0.1
                # graph and these measure the 10x edge-extraction
                # scan + distinct feeding a fixed-size iteration
                # (the realistic shape: the raw pair stream dwarfs
                # the deduped graph)
                "graph_pagerank_trade",
                "graph_kcore_trade",
            ):
                base_t = timings.get(name) or run_query(name, sf_dir)
                # min-of-2 (round-6 VERDICT #4): the sf1 block rides
                # right behind the corpus-replication writes; a single
                # sample absorbed a 3x cold-JVM/page-cache spike on an
                # untouched q1 plan — one repeat recovers the plan cost
                # exactly like the scale10x block's guard
                t = min(run_query(name, tmp) for _ in range(2))
                scale_sf1[name] = {
                    "sec": t,
                    "x_vs_linear": round(t / (10 * base_t), 2),
                }
                print(
                    f"# sf1 {name}: {t}s"
                    f" ({scale_sf1[name]['x_vs_linear']}x vs linear)",
                    file=sys.stderr,
                )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # End-to-end medallion pipeline TAT (_pipeline_e2e), on the
    # reference's own CSVs when they are present.
    csv_dir = "/root/reference/data"
    pipeline_e2e = _pipeline_e2e(spark, csv_dir)
    print(f"# pipeline_e2e: {pipeline_e2e}", file=sys.stderr)

    # close the sentinel bracket AFTER every measured block so it
    # covers the scale/e2e phases too
    sentinel_last = sentinel_sample()
    print(f"# noise_sentinel last: {sentinel_last}s", file=sys.stderr)
    noise_sentinel = {
        "query": "q1_pricing_summary",
        "first_sec": sentinel_first,
        "last_sec": sentinel_last,
        "ratio": round(sentinel_last / sentinel_first, 2),
    }

    result = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "noise_sentinel": noise_sentinel,
        "sf": sf,
        # Scaling-probe reading guide (round-14, verdict-r13 #2): at
        # sf0.1 every headline query is dominated by FIXED per-job
        # overhead (JVM job launch, Python worker pool, streaming
        # init), so re-running this bench at a lower $SPARK_GRAFT_CPUS
        # yields low/high-core ratios ≈ 1 (or below: a smaller worker
        # pool spawns faster) — that is the expected overhead-bound
        # regime at this scale factor, not an ignored core count
        # (session.py builds local[$SPARK_GRAFT_CPUS] verbatim).
        # Parallel-scaling evidence lives in the scale10x / scale_sf1
        # probe rows below, which grow the DATA so compute dominates.
        "scaling_note": (
            "sf0.1 queries are per-job-overhead-bound; low-core ratios"
            " ~1 are expected — read scaling from scale10x/scale_sf1"
        ),
        # each optional block is its numbers or {"skipped": <reason>}
        "pipeline_e2e": pipeline_e2e,
        "scale10x": scale10x,
        "scale_sf1": scale_sf1,
    }

    # Host-state stamp: cross-BOOT drift is the one thing the noise
    # sentinel cannot separate from code regressions after the fact
    # (round 13: a reboot mid-round made the same code time ~1.24x
    # slower board-wide while warm single-query times matched).
    # Recording uptime and load alongside the numbers makes that
    # diagnosable from the committed artifact alone.
    try:
        with open("/proc/uptime") as f:
            up_s = float(f.read().split()[0])
        result["host_state"] = {
            "uptime_sec": round(up_s),
            "loadavg_1m_at_end": round(os.getloadavg()[0], 2),
        }
    except OSError:
        pass

    # The driver captures only the LAST ~2000 chars of stdout and
    # parses the final line; the full result dict outgrew that buffer
    # in round 5 and BENCH_r{5..8}.json all recorded `parsed: null`
    # (round-8 VERDICT #1).  So: full detail (raw samples, medians,
    # scale10x/sf1 probes) goes to a COMMITTED side file, and the
    # final stdout line is a compact summary hard-capped well under
    # the buffer — per-query minima, the minima total, and e2e.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as exc:  # read-only checkout: summary still prints
        print(f"# WARNING: could not write {detail_path}: {exc}",
              file=sys.stderr)
    # Compact-line budget (round-14, verdict-r13 #2): the driver
    # captures the last 2000 chars of output and parses the FINAL
    # line, and its round-over-round PERF comparison reads per-query
    # times from THIS line only — a query missing from it is reported
    # as "dropped_from_bench" even when it merely got FASTER (round
    # 13: the slowest-25 truncation hid a 3.6x improvement as a
    # drop).  All 65 query names alone are ~1400 chars, so full names
    # + 3dp values cannot fit; instead of truncating the SET, degrade
    # VALUE precision and then optional keys until the line fits —
    # every query always stays present under its full name.  1dp on a
    # >=1s value is <=5% quantization (below the host's documented
    # 8-14% noise floor); sub-1s values keep 2dp.  Full 3dp minima
    # and medians stay in the committed BENCH_DETAIL.json.
    _BUDGET = 1980  # 2000-char capture minus newline + safety margin

    def _fit_line() -> str:
        # "mixed" = 1dp for values >= 1s, 2dp below (sub-1s values are
        # where 1dp quantization would exceed the noise floor)
        precisions = [3, 2, "mixed", 1]
        droppable = [
            "detail",
            "pipeline_e2e_sec",
            "noise_sentinel",
        ]
        for n_drop in range(len(droppable) + 1):
            for prec in precisions:
                c = dict(compact)
                for key in droppable[:n_drop]:
                    c.pop(key, None)
                c["queries"] = {
                    k: round(v, 2)
                    if (prec == "mixed" and v < 1)
                    else round(v, 1 if prec == "mixed" else prec)
                    for k, v in timings.items()
                }
                line = json.dumps(c, separators=(",", ":"))
                if len(line) <= _BUDGET:
                    return line
        # last resort (never expected): slowest-25, the pre-r14 shape
        c = dict(compact)
        c["queries"] = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:25]
        )
        c["queries_truncated_to"] = 25
        return json.dumps(c, separators=(",", ":"))

    compact = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # minima, matching "value" and every pre-r10 artifact: medians
        # live in BENCH_DETAIL.json's queries_median — publishing
        # medians here (as this round briefly did) silently pessimizes
        # every cross-round comparison by the noise floor
        "queries": timings,
        "noise_sentinel": noise_sentinel["ratio"],
        "detail": "BENCH_DETAIL.json",
    }
    if "sec" in pipeline_e2e:
        compact["pipeline_e2e_sec"] = pipeline_e2e["sec"]
    print(_fit_line())
    spark.stop()


if __name__ == "__main__":
    main()
