"""Physical-plan regression tests — the scale contract, asserted.

Correctness tests prove the numbers; these prove the SHAPE of the plan
is the one that survives a 100x scale-up: filters and projections reach
the parquet scan, small dimensions broadcast, nothing silently falls
back to a cartesian product, and the reference-parity tier stays free
of row-at-a-time Python.
"""

from __future__ import annotations

import pytest

from diabetes_etl_spark.plans import all_queries

QUERIES = all_queries(include_extended=True)


def _plan(spark, sf_dir, name: str, mode: str = "extended") -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_q1_scan_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # the shipdate filter must reach the parquet scan…
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # …and the scan must NOT read the full 16-column lineitem schema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read_schema and "l_shipmode" not in read_schema
    assert "l_quantity" in read_schema


def test_q5_broadcasts_dimensions_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # region filter is pushed into its scan, enabling join pruning
    assert "EqualTo(r_name,ASIA)" in plan


def test_q3_selective_filters_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "CartesianProduct" not in plan


def test_diabetes_medians_broadcast_not_shuffled(spark, sf_dir):
    # the 1-row medians aggregate must come back via broadcast
    # (cross-join of a 1-row relation), never a shuffled join
    plan = _plan(spark, sf_dir, "diab_silver_features")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n, s in QUERIES.items()
        if not any(t in s.tags for t in ("extension", "streaming"))
    ),
)
def test_parity_tier_has_no_python_udfs(spark, sf_dir, name):
    """Reference-parity queries must stay whole-stage-codegen JVM plans:
    no row-at-a-time or Arrow Python evaluation anywhere (Python is
    reserved for the extension tier: multimodal decode, vectorized ANN,
    stateful streaming)."""
    plan = _plan(spark, sf_dir, name, mode="simple")
    assert "BatchEvalPython" not in plan  # row-at-a-time UDF
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    """EXISTS must become a left semi join (one shuffle, no row
    multiplication) — never a per-row subquery or cartesian."""
    plan = _plan(spark, sf_dir, "subq_exists_shipped_orders")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the date-range filter on orders pushes into its scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_not_exists_decorrelates_to_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "subq_not_exists_urgent_free")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # the priority filter ships only urgent orders into the anti side
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan


def test_correlated_scalar_agg_runs_once_not_per_row(spark, sf_dir):
    """RewriteCorrelatedScalarSubquery: the per-part AVG must appear as
    a re-grouped aggregate joined back, i.e. exactly one extra
    aggregate over lineitem — not a per-outer-row execution."""
    plan = _plan(spark, sf_dir, "subq_small_quantity_revenue")
    assert "CartesianProduct" not in plan
    # decorrelated: the avg shows up as a grouped HashAggregate keyed
    # on the correlation column, feeding a join
    assert plan.count("avg(l_quantity") >= 1
    assert "Join" in plan


def test_not_in_plans_null_aware_anti(spark, sf_dir):
    plan = _plan(spark, sf_dir, "subq_not_in_high_qty_parts")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(p_size,10)" in plan


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """Production-parameter HLL (full o_custkey at rsd=0.02) stays
    within 5% of exact — the error-bound contract for the scale
    parameters the covering-parameter gate pairing doesn't pin."""
    from diabetes_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
            F.countDistinct("o_custkey").alias("exact"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r.approx - r.exact) / r.exact <= 0.05


def test_approx_distinct_covering_params_sketch_in_plan(spark, sf_dir):
    """The covering-parameter pairing must still exercise the HLL
    buffer in the physical plan (ObjectHashAggregate), not silently
    rewrite to an exact distinct."""
    plan = _plan(spark, sf_dir, "approx_distinct_customers")
    assert "approx_count_distinct" in plan
    plan2 = _plan(spark, sf_dir, "quantile_sketch_by_flag")
    assert "percentile_approx" in plan2
    assert "approx_count_distinct" in plan2


# -- TPC-H breadth family (plans/tpch_breadth.py) ------------------------


def test_q7_nation_filters_prune_before_fact_join(spark, sf_dir):
    """The two-nation filter must reach the nation scans (broadcast
    side), so the fact join ships only the two nations' rows — at
    100 TB the difference between joining 8% and 100% of lineitem."""
    plan = _plan(spark, sf_dir, "q7_volume_shipping")
    assert "CartesianProduct" not in plan
    # nation names appear as pushed/pruning predicates, not only as a
    # post-join residual
    assert "NATION_3" in plan and "NATION_7" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_q8_single_aggregate_pass(spark, sf_dir):
    """Numerator (conditional sum) and denominator compute in ONE
    grouped aggregate — a second scan or self-join of the snowflake
    would double the cost of the most expensive stage."""
    import re

    plan = _plan(spark, sf_dir, "q8_market_share", mode="simple")
    li_scans = len(re.findall(r"FileScan parquet[^\n]*lineitem", plan))
    assert li_scans == 1, f"lineitem scanned {li_scans}x (self-join?)"


def test_q10_filters_pushed_topk_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q10_returned_items")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "TakeOrderedAndProject" in plan


def test_q19_disjunction_stays_single_join(spark, sf_dir):
    """The OR-of-ANDs predicate spans both sides; Catalyst must keep
    ONE hash join and evaluate the residual post-join — a plan that
    splits the OR into a union of three joins would scan lineitem 3x."""
    import re

    plan = _plan(spark, sf_dir, "q19_disjunctive_filter", mode="simple")
    li_scans = len(re.findall(r"FileScan parquet[^\n]*lineitem", plan))
    part_scans = len(re.findall(r"FileScan parquet[^\n]*part\.", plan))
    assert li_scans == 1 and part_scans == 1
    assert "CartesianProduct" not in plan


def test_q21_decorrelates_both_subqueries(spark, sf_dir):
    """q21's EXISTS and NOT EXISTS must both become hash semi/anti
    joins — no nested-loop, no cartesian, no row multiplication."""
    plan = _plan(spark, sf_dir, "subq_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_runtime_bloom_filter_on_shuffle_joins(spark, sf_dir):
    """At 100 TB a selective fact⋈fact join can't broadcast either
    side; Spark's runtime bloom-filter injection (enabled in
    session.py's config surface) must prune the application side.
    Asserted with broadcast disabled to simulate the
    both-sides-too-big regime — at default thresholds the same join
    correctly broadcasts instead (the better plan when it fits)."""
    from pyspark.sql import functions as F

    from diabetes_etl_spark.sources.tables import load_table

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan or "bloom" in plan.lower()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )


def test_pagerank_step_two_joins_degree_in_state_no_hints(spark):
    """The scale contract for pagerank's iteration body: the out-degree
    travels IN the rank state, so one step is exactly two joins
    (edges ⋈ state, state ⋈ contribs) with NO per-iteration degree
    join and NO explicit broadcast hint — AQE picks the physical join
    from the actual sizes."""
    from diabetes_etl_spark.operators.graph import _pr_step

    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    state = spark.createDataFrame(
        [(1, 0.5, 1, 2), (2, 0.5, 1, 2)],
        "node long, rank double, deg long, __n long",
    )
    step = _pr_step(e, state, 0.85)
    optimized = step._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Join") == 2
    analyzed = step._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "hint" not in analyzed.lower()


# -- round-6 operator plan shapes -------------------------------------------


def test_temperature_mix_rates_broadcast_no_wide_shuffle_join(spark, sf_dir):
    """The derived per-stratum rate table (k rows) must come back onto
    the scan as a broadcast — a sort-merge join here would shuffle the
    whole corpus to attach 5 numbers."""
    plan = _plan(spark, sf_dir, "mix_temperature_langs", "formatted")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_random_projection_is_shuffle_free(spark, sf_dir):
    """JL projection is a pure narrow map: no Exchange anywhere before
    the final orderBy's range partitioning (the only allowed exchange
    is for the presentation sort)."""
    plan = _plan(spark, sf_dir, "sim_random_projection", "formatted")
    body = plan.split("rangepartitioning")[0]
    assert "Exchange hashpartitioning" not in body


def test_cms_cells_single_bounded_exchange(spark, sf_dir):
    """Building the sketch costs exactly ONE hash exchange (the
    (r, c) aggregate, bounded at depth*width groups); the estimate
    join against the cell table broadcasts."""
    from diabetes_etl_spark.operators.sketch import cms_cells
    from diabetes_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        cms_cells(toks, "tok")._jdf.queryExecution(), "formatted"
    )
    assert plan.count("hashpartitioning") == 1
    assert "partial_count" in plan  # map-side combine before the exchange


def test_locf_single_key_exchange(spark, sf_dir):
    """LOCF = one window: exactly one hash exchange on the key, no
    self-join (the naive per-gap formulation would add joins)."""
    plan = _plan(spark, sf_dir, "events_locf_fill", "formatted")
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "SortMergeJoin" not in plan


def test_ppr_step_two_joins_teleport_in_state_no_hints(spark):
    """Personalized PageRank inherits the global variant's scale
    contract: teleport weight AND degree travel IN the rank state, so
    one step is exactly two joins with no per-iteration O(nodes)
    broadcast hint."""
    from diabetes_etl_spark.operators.graph import _ppr_step

    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    state = spark.createDataFrame(
        [(1, 0.5, 1, 0.5), (2, 0.5, 1, 0.5)],
        "node long, rank double, deg long, tele double",
    )
    step = _ppr_step(e, state, 0.85)
    optimized = step._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Join") == 2
    analyzed = step._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "hint" not in analyzed.lower()


def test_pool_embeddings_two_exchanges_no_udf(spark, sf_dir):
    """Mean-pooling is two exchanges (the (group, pos) combine and the
    per-group array reassembly) and stays entirely JVM-side."""
    plan = _plan(spark, sf_dir, "cluster_pooled_embeddings", "formatted")
    # count hash exchanges only — the third Exchange is the
    # presentation orderBy's rangepartitioning
    assert plan.count("hashpartitioning") == 2
    assert "Python" not in plan and "ArrowEval" not in plan


# -- round-8 families -------------------------------------------------------


def test_winsorize_broadcasts_cuts_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_winsorized_stats")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_robust_outliers_broadcasts_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_robust_outliers")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_linear_trend_broadcasts_group_means(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_linear_trend")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_conjunctive_search_isin_prunes_before_shuffle(spark, sf_dir):
    """The query-term filter must sit UNDER the aggregate exchange so
    only query-matching pairs shuffle."""
    plan = _plan(spark, sf_dir, "text_conjunctive_search")
    assert "CartesianProduct" not in plan
    # the isin filter on term appears (as an IN/OR chain) in the plan
    assert "batch" in plan and "scan" in plan and "merge" in plan


def test_phrase_search_single_aggregate_chain(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_phrase_search")
    assert "CartesianProduct" not in plan


def test_classifier_scoring_is_codegen_no_python(spark, sf_dir):
    """Applying the trained model is pure JVM codegen — no Python
    evaluation node anywhere in the scoring plan."""
    plan = _plan(spark, sf_dir, "classifier_quality_apply")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_pca_round_passes_have_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embeddings_pca_power")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_prefix_jaccard_no_cartesian_no_python(spark, sf_dir):
    """The lossless set-similarity join must stay an equi-join pipeline:
    no cartesian fallback anywhere, no Python in the plan."""
    plan = _plan(spark, sf_dir, "dedup_prefix_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_pmi_collocations_broadcasts_total_no_python(spark, sf_dir):
    """The total-bigram count N must attach as a broadcast 1-row
    aggregate (in-plan scalar), not via a shuffled join or a driver
    collect; the count pipeline stays JVM-side."""
    plan = _plan(spark, sf_dir, "text_pmi_collocations")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_dsir_importance_broadcasts_llr_no_python(spark, sf_dir):
    """The B-row LLR table and the 1-row totals must attach as
    broadcasts; the bigram featurization stays JVM-side (no Python),
    and nothing falls back to a cartesian product."""
    plan = _plan(spark, sf_dir, "corpus_dsir_importance")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_c4_line_clean_shuffles_hashes_not_text(spark, sf_dir):
    """The dedup decision must shuffle only (md5-prefix, doc_id, idx):
    no exchange in the plan may carry a line/text string column, and
    the whole policy stays JVM-side."""
    plan = _plan(spark, sf_dir, "dedup_c4_line_clean")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "__line" not in line and "text" not in line, line


def test_audio_signal_single_python_stage_no_shuffle(spark, sf_dir):
    """One Arrow-batched Python stage (the decoder+features), zero
    exchanges — the narrow-scan contract of the media pipeline."""
    plan = _plan(spark, sf_dir, "multimodal_audio_signal")
    assert plan.count("Exchange hashpartitioning") == 0


def test_span_excision_windows_partition_by_doc_no_python(spark, sf_dir):
    """The island merge must window over doc-partitioned marked rows
    (never a corpus-global window) and the whole policy stays
    JVM-side with no cartesian fallback."""
    plan = _plan(spark, sf_dir, "dedup_span_excision")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    # every window spec partitions by doc_id
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "doc_id" in line, line


def test_decontam_span_excision_broadcasts_benchmark(spark, sf_dir):
    """The benchmark shingle-hash set must broadcast (the corpus never
    shuffles for matching) and the policy stays JVM-side."""
    plan = _plan(spark, sf_dir, "decontam_span_excision")
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_quality_calibrated_thresholds_broadcast_no_window(spark, sf_dir):
    """The per-group thresholds must broadcast back onto the scan —
    no corpus-wide window/sort, no Python."""
    plan = _plan(spark, sf_dir, "text_quality_calibrated_filter")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "Python" not in plan


def test_docs_prep_v2_topk_heap_no_cartesian_no_python(spark, sf_dir):
    """The selection must be a heap top-k (TakeOrderedAndProject), the
    chain JVM-side, and nothing falls back to a cartesian product."""
    plan = _plan(spark, sf_dir, "docs_prep_pipeline_v2")
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_join_bloom_reduced_prunes_in_fact_scan(spark, sf_dir):
    """The literal-bitmask probe (shiftright bit tests) must sit in a
    Filter on the fact side BEFORE any exchange, and the exact join
    still runs (no cartesian, no Python)."""
    plan = _plan(spark, sf_dir, "join_bloom_reduced")
    assert "shiftright" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    # the probe must be applied pre-exchange: the Filter mentioning
    # shiftright appears in the same stage as the orders scan
    assert "o_custkey" in plan


def test_dhash_neardup_no_cartesian_single_python_stage(spark, sf_dir):
    """Decode+hash runs as Arrow Python stages; candidates come from
    the chunk equi-join (no cartesian, no all-pairs nested loop).  The
    signature subtree is re-evaluated per consumer (chunks + two
    re-attach joins) — cheap for the fixture producer; a production
    run persists the (doc_id, hash) table once, as the docstring
    directs."""
    plan = _plan(spark, sf_dir, "multimodal_dhash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan


def test_rouge_bleu_pairs_no_python_no_cartesian(spark, sf_dir):
    """The overlap query is pure JVM: gram counting is explode +
    hash-agg, the pair joins are equi-joins on (ref_id[, gram]) —
    no Python stage, no cartesian, no nested-loop join."""
    plan = _plan(spark, sf_dir, "text_rouge_bleu_pairs")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_unimax_single_corpus_pass_no_python(spark, sf_dir):
    """UniMax reads the corpus once (one parquet scan of documents);
    all window work runs on the L-row stratum table."""
    plan = _plan(spark, sf_dir, "mix_unimax_langs")
    assert plan.count("documents.parquet") <= 2  # scan + AQE re-list
    for bad in ("CartesianProduct", "MapInPandas", "BatchEvalPython"):
        assert bad not in plan, bad


def test_hard_negatives_broadcast_queries_no_python(spark, sf_dir):
    """Queries broadcast against one corpus pass; the band filter is
    applied before the rank window's exchange."""
    plan = _plan(spark, sf_dir, "sim_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    for bad in ("CartesianProduct", "MapInPandas", "BatchEvalPython"):
        assert bad not in plan, bad


def test_cdc_chunks_shuffles_fingerprints_not_text(spark, sf_dir):
    """Only (id, idx, len, fp) reach the sharing exchange — the chunk
    text itself never appears in a shuffle output schema."""
    plan = _plan(spark, sf_dir, "dedup_cdc_chunks")
    for bad in ("CartesianProduct", "MapInPandas", "BatchEvalPython"):
        assert bad not in plan, bad
    import re

    for ex in re.findall(r"Exchange hashpartitioning\([^\n]*", plan):
        assert "text#" not in ex, ex


def test_mmr_rounds_run_on_materialized_shortlist(spark, sf_dir):
    """The greedy rounds must read the MATERIALIZED q x pool shortlist
    (parquet scans), not re-derive the corpus relevance subtree per
    round; selected-set joins broadcast."""
    plan = _plan(spark, sf_dir, "retrieval_mmr_diversified")
    assert "spark_mmr_" in plan  # the shortlist parquet path
    assert "CartesianProduct" not in plan
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad
    # embeddings parquet appears only in the shortlist-build subtree,
    # never once per greedy round (4 rounds would show >= 4 scans)
    assert plan.count("embeddings.parquet") <= 2


def test_coverage_header_matches_registry():
    """COVERAGE.md's tier counts are generated from the registry; this
    pin keeps the header from drifting when queries are added or
    rotated (round-8 verdict, What's wrong #3)."""
    import os
    import re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "COVERAGE.md"), encoding="utf-8") as f:
        head = f.read(2000)
    gate = all_queries()
    full = all_queries(include_extended=True)
    n_gate = len(gate)
    n_gate_oracle = sum(1 for s in gate.values() if s.oracle)
    n_full = len(full)
    n_oracle = sum(1 for s in full.values() if s.oracle)
    m = re.search(
        r"\*\*gate\*\* — (\d+) queries .*?\*\*all (\d+)\s+oracle-paired\*\*",
        head,
        re.S,
    )
    assert m, "gate tier line missing from COVERAGE.md header"
    assert (int(m.group(1)), int(m.group(2))) == (n_gate, n_gate_oracle)
    m = re.search(
        r"\*\*extended\*\* — (\d+) more queries\s*\n?\s*"
        r"\(`all_queries\(include_extended=True\)` = (\d+) total, (\d+)\s*\n?\s*"
        r"oracle-paired\)",
        head,
    )
    assert m, "extended tier line missing from COVERAGE.md header"
    assert int(m.group(1)) == n_full - n_gate
    assert int(m.group(2)) == n_full
    assert int(m.group(3)) == n_oracle


def test_gate_fits_capacity_and_headline_queries_have_oracles():
    """The register sites declare tier and headline status; pin what the
    driver and bench.py rely on: the gate tier fits the driver's
    capacity, and every query bench.py times is oracle-checked."""
    from diabetes_etl_spark.plans.registry import GATE_CAPACITY

    assert len(all_queries()) <= GATE_CAPACITY
    headline = {n: s for n, s in QUERIES.items() if "headline" in s.tags}
    assert headline, "no query is tagged headline"
    assert [n for n, s in headline.items() if not s.oracle] == []


def test_q11_broadcasts_generator_and_dims_no_cartesian(spark, sf_dir):
    """Derived-partsupp q11: the 4-row generator and supplier/nation
    dims broadcast; nothing degenerates to a true cartesian (the only
    nested-loop join is the constant 4-row inline table)."""
    plan = _plan(spark, sf_dir, "q11_important_stock")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_q20_decorrelates_lineitem_aggregate(spark, sf_dir):
    """q20's correlated scalar SUM must decorrelate into an aggregate
    joined on (partkey, suppkey) — lineitem scanned once with the
    shipdate filter pushed down, never re-scanned per outer row."""
    plan = _plan(spark, sf_dir, "q20_potential_promotion")
    assert "CartesianProduct" not in plan
    assert plan.count("lineitem.parquet") == 1
    assert "PushedFilters" in plan
    li_scans = [l for l in plan.splitlines() if "l_shipdate" in l and "PushedFilters" in l]
    assert any("IsNotNull(l_shipdate)" in l or "GreaterThanOrEqual(l_shipdate" in l for l in li_scans), li_scans


def test_unigram_segments_native_no_cartesian(spark, sf_dir):
    """The unigram tokenizer's final plan must be all-native (dp folds
    are JVM expressions over a constant-folded cost map; no Python
    stages) with word-keyed equi-joins only."""
    plan = _plan(spark, sf_dir, "text_unigram_lm_segments")
    assert "CartesianProduct" not in plan
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_link_prediction_hub_cap_and_broadcast_degrees(spark, sf_dir):
    """graph_jaccard_neighbors: the pair join must be customer-keyed
    (no cartesian), degree tables broadcast, no Python stages."""
    plan = _plan(spark, sf_dir, "graph_jaccard_neighbors")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_seasonal_anomalies_all_native_tiny_windows(spark, sf_dir):
    """events_seasonal_anomalies: everything after the one grouped
    events scan runs on O(days) rows — no Python stages; the only
    nested-loop joins are the 1-row median/MAD broadcast attaches."""
    plan = _plan(spark, sf_dir, "events_seasonal_anomalies")
    assert "CartesianProduct" not in plan
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_theil_sen_pair_join_on_day_dimension_broadcast(spark, sf_dir):
    """orders_theil_sen_trend: the quadratic pair join must run on
    the broadcast tiny day dimension (BNLJ with the a.d < b.d
    condition — never a shuffled cartesian of raw rows) and the plan
    stays all-native."""
    plan = _plan(spark, sf_dir, "orders_theil_sen_trend")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_km_survival_tiny_dim_windows_no_python(spark, sf_dir):
    """events_km_survival: one grouped scan to per-user spans, then
    O(distinct lifetimes) window work; corpus-end date attaches by
    broadcast; no Python stages, no cartesian."""
    plan = _plan(spark, sf_dir, "events_km_survival")
    assert "CartesianProduct" not in plan
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_holt_smoothing_native_fold_no_python(spark, sf_dir):
    """orders_holt_smoothing: the sequential recurrence folds the
    ordered daily array with a native aggregate lambda — no Python
    stages, no cartesian; corpus cost is the one grouped scan."""
    plan = _plan(spark, sf_dir, "orders_holt_smoothing")
    assert "CartesianProduct" not in plan
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_q2_min_cost_join_on_partkey_dims_broadcast(spark, sf_dir):
    """Faithful q2: the grouped-min attaches by a partkey equality
    join (the decorrelated correlated-MIN), dims broadcast, the part
    size/type filter reaches the scan, no true cartesian."""
    plan = _plan(spark, sf_dir, "q2_min_cost_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    p_scans = [l for l in plan.splitlines()
               if "PushedFilters" in l and "p_size" in l]
    assert any("LessThanOrEqual(p_size,15)" in l for l in p_scans), p_scans
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_html_extract_all_native_single_scan(spark, sf_dir):
    """text_html_extract: the whole build+extract chain is vectorized
    regexp passes inside codegen — one documents scan, no shuffle
    before the final sort, no Python stages."""
    plan = _plan(spark, sf_dir, "text_html_extract")
    assert "CartesianProduct" not in plan
    assert plan.count("documents.parquet") == 1
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_dq_suite_single_lineitem_scan(spark, sf_dir):
    """dq_suite_lineitem: all 9 metrics ride ONE lineitem scan (the
    Deequ property); verification is a broadcast join of a 9-row
    frame; no Python stages."""
    plan = _plan(spark, sf_dir, "dq_suite_lineitem")
    assert plan.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in plan
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_fellegi_sunter_block_keyed_join_no_python(spark, sf_dir):
    """er_fellegi_sunter: pairs come from a block-keyed equi-join
    (never a cartesian); the score is a CASE over constant literals —
    no Python, no runtime transcendentals."""
    plan = _plan(spark, sf_dir, "er_fellegi_sunter")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython",
                " LOG(", " ln("):
        assert bad not in plan, bad


def test_rocchio_prf_broadcast_queries_no_python(spark, sf_dir):
    """retrieval_rocchio_prf: both scoring passes join the tf table
    against BROADCAST query frames; term stats stay token-keyed; no
    Python stages, no cartesian beyond 1-row stat attaches."""
    plan = _plan(spark, sf_dir, "retrieval_rocchio_prf")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    for bad in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_ab_experiment_z_squared_equals_chi2(spark, sf_dir):
    """For a 2x2 table the pooled two-proportion z statistic satisfies
    z^2 == Pearson chi-square exactly (up to float error) — a strong
    internal consistency check on both formulas."""
    r = QUERIES["events_ab_experiment"].fn(spark, sf_dir).collect()[0]
    assert r["n_a"] > 0 and r["n_b"] > 0
    assert 0.0 < r["rate_a"] < 1.0 and 0.0 < r["rate_b"] < 1.0
    assert abs(r["z_score"] ** 2 - r["chi2"]) < 1e-9 * max(
        1.0, r["chi2"]
    )
    assert (r["z_score"] > 0) == (r["rate_b"] > r["rate_a"])
    import math

    assert math.isfinite(r["rel_uplift"])


def test_lateral_topk_decorrelates_to_window_rank(spark, sf_dir):
    """LATERAL ... ORDER BY ... LIMIT must decorrelate: the inner
    aggregate+top-k runs ONCE (window rank / WindowGroupLimit), joined
    back to the outer — never a per-outer-row rescan of orders."""
    plan = _plan(spark, sf_dir, "lateral_topk_per_nation", "formatted")
    assert "WindowGroupLimit" in plan or "Window" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("orders.parquet") == 1
    assert "BroadcastHashJoin" in plan


def test_cf_item_similarity_invariants(spark, sf_dir):
    rows = QUERIES["cf_item_similarity_topk"].fn(spark, sf_dir).collect()
    assert rows, "CF output empty at fixture scale"
    by_item = {}
    for r in rows:
        assert 0.0 < r["cosine"] <= 1.0
        assert r["common_users"] >= 2
        by_item.setdefault(r["item"], []).append(r)
    for item, rs in by_item.items():
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert len(rs) <= 5
    # symmetry of the underlying similarity: if (a -> b) is a top-k
    # edge with cosine c, the reverse pair exists in the full matrix
    # with the same c — spot-check via a reversed lookup where b also
    # kept a in ITS top-k
    edges = {(r["item"], r["rec_item"]): r["cosine"] for r in rows}
    mutual = [(a, b) for (a, b) in edges if (b, a) in edges]
    assert mutual, "no mutual edges — suspicious for a symmetric metric"
    for a, b in mutual[:20]:
        assert abs(edges[(a, b)] - edges[(b, a)]) < 1e-12


def test_poisson_bootstrap_ci_sanity(spark, sf_dir):
    r = QUERIES["stats_poisson_bootstrap_ci"].fn(spark, sf_dir).collect()[0]
    assert r["ci_lo"] < r["point_mean"] < r["ci_hi"]
    assert r["boot_se"] > 0
    # CI width should be a few SEs (percentile vs normal agreement)
    width = r["ci_hi"] - r["ci_lo"]
    assert 2 * r["boot_se"] < width < 8 * r["boot_se"]
    # SE of the mean ~ sigma/sqrt(n): sanity order of magnitude
    assert width < 0.2 * r["point_mean"]


def test_ab_ks_two_sample_matches_bruteforce(spark, sf_dir):
    """KS D from the rank algebra equals the brute-force ECDF-gap max
    computed in Python on the same partition of purchase values."""
    r = QUERIES["events_ab_ks_values"].fn(spark, sf_dir).collect()[0]
    from diabetes_etl_spark.sources.tables import load_table
    import hashlib

    ev = load_table(spark, sf_dir, "events")
    rows = ev.where("event_type = 'purchase'").select(
        "user_id", "value"
    ).collect()
    a, b = [], []
    for row in rows:
        h = int(hashlib.md5(str(row["user_id"]).encode()).hexdigest()[:8], 16)
        (a if h % 2 == 0 else b).append(row["value"])
    a.sort()
    b.sort()
    import bisect

    pts = sorted(set(a) | set(b))
    d = max(
        abs(
            bisect.bisect_right(a, v) / len(a)
            - bisect.bisect_right(b, v) / len(b)
        )
        for v in pts
    )
    assert r["n_a"] == len(a) and r["n_b"] == len(b)
    assert abs(r["ks_d"] - d) < 1e-12
    assert 0.0 <= r["ks_d"] <= 1.0


def test_cuped_matches_numpy_reference(spark, sf_dir):
    """theta and var_reduction replicate the numpy covariance math on
    the same per-user (x, y) table, and 0 <= var_reduction <= 1."""
    import hashlib

    import numpy as np

    from diabetes_etl_spark.sources.tables import load_table

    r = QUERIES["events_ab_cuped"].fn(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    rows = ev.where("event_type = 'purchase'").select(
        "user_id", "ts", "value"
    ).collect()
    ids = {u["user_id"] for u in ev.select("user_id").distinct().collect()}
    from collections import defaultdict
    from datetime import datetime

    cut = datetime(2024, 1, 15)
    xs, ys = defaultdict(float), defaultdict(float)
    for row in rows:
        d = xs if row["ts"] < cut else ys
        d[row["user_id"]] += row["value"]
    uid = sorted(ids)
    x = np.array([round(xs[u], 2) for u in uid])
    y = np.array([round(ys[u], 2) for u in uid])
    n = len(uid)
    cov = (x * y).sum() - x.sum() * y.sum() / n
    vx = (x * x).sum() - x.sum() ** 2 / n
    vy = (y * y).sum() - y.sum() ** 2 / n
    assert r["n_users"] == n
    assert abs(r["theta"] - cov / vx) < 1e-6
    assert abs(r["var_reduction"] - cov * cov / (vx * vy)) < 1e-6
    assert 0.0 <= r["var_reduction"] <= 1.0
    # the adjustment identity: delta_cuped = delta_raw - theta*delta_x
    va = np.array([
        int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2
        for u in uid
    ])
    d_raw = y[va == 1].mean() - y[va == 0].mean()
    d_x = x[va == 1].mean() - x[va == 0].mean()
    assert abs(r["delta_raw"] - d_raw) < 1e-4
    assert abs(r["delta_cuped"] - (d_raw - cov / vx * d_x)) < 1e-4


def test_recursive_cte_matches_iterative_bfs(spark, sf_dir):
    """The WITH RECURSIVE k-hop profile equals graph_khop_reach's
    iterative frontier BFS aggregated the same way (hops 1..3, same
    3 seeds) — two independent formulations, one answer."""
    rec = {
        r["hop"]: r["n_nodes"]
        for r in QUERIES["recursive_cte_khop"].fn(spark, sf_dir).collect()
    }
    it = QUERIES["graph_khop_reach"].fn(spark, sf_dir).collect()
    # graph_khop_reach: per-(seed, hop) first-reach counts over 5
    # seeds; the recursive query uses the 3 smallest seeds — sum
    # n_new over those seeds per hop
    seeds = sorted({r["seed"] for r in it})[:3]
    it_map: dict[int, int] = {}
    for r in it:
        if r["seed"] in seeds:
            it_map[r["hop"]] = it_map.get(r["hop"], 0) + r["n_new"]
    assert rec == it_map


def test_join_hints_flip_physical_operators(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_strategy_hints", "formatted")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_psi_nonnegative_and_symmetricish(spark, sf_dir):
    r = QUERIES["events_psi_drift"].fn(spark, sf_dir).collect()[0]
    # PSI is a symmetrized KL: each term (p-q)*ln(p/q) >= 0
    assert r["psi"] >= 0.0
    assert r["n_bins"] >= 1
    assert r["n_degenerate_bins"] <= r["n_bins"]
    # parity halves of the same distribution: no real drift expected
    assert r["psi"] < 0.25


def test_eb_shrinkage_pulls_toward_grand_mean(spark, sf_dir):
    rows = QUERIES["events_eb_shrunken_rates"].fn(spark, sf_dir).collect()
    assert rows
    mu = sum(r["raw_rate"] for r in rows) / len(rows)
    for r in rows:
        raw, shr = r["raw_rate"], r["shrunken_rate"]
        assert 0.0 <= shr <= 1.0
        # shrinkage moves every cohort TOWARD mu, never past it
        if raw > mu:
            assert mu - 1e-9 <= shr <= raw + 1e-9
        else:
            assert raw - 1e-9 <= shr <= mu + 1e-9
    # small-n cohorts shrink more (relative movement toward mu)
    big = max(rows, key=lambda r: r["n_users"])
    small = min(rows, key=lambda r: r["n_users"])
    if big["n_users"] > small["n_users"] and abs(
        small["raw_rate"] - mu
    ) > 1e-6 and abs(big["raw_rate"] - mu) > 1e-6:
        move = lambda r: abs(r["shrunken_rate"] - r["raw_rate"]) / abs(
            r["raw_rate"] - mu
        )
        assert move(small) >= move(big) - 1e-6


def test_did_consistent_with_cuped_sums(spark, sf_dir):
    """DiD's per-variant deltas must equal the raw post-pre mean gaps
    reconstructable from the CUPED query's machinery (same sums)."""
    did = QUERIES["events_ab_diff_in_diff"].fn(spark, sf_dir).collect()[0]
    assert did["n_a"] > 0 and did["n_b"] > 0
    assert abs(
        did["did_estimate"] - (did["delta_b"] - did["delta_a"])
    ) <= 2e-6  # 6dp rounding of each term


def test_power_mde_shrinks_with_n(spark, sf_dir):
    import math

    r = QUERIES["events_ab_power_mde"].fn(spark, sf_dir).collect()[0]
    p, n = r["base_rate"], r["n_users"]
    want = (1.959963985 + 0.841621234) * math.sqrt(
        2 * p * (1 - p) / (n / 2)
    )
    assert abs(r["mde_abs"] - want) < 1e-9
    assert r["mde_rel"] > r["mde_abs"] > 0


def test_median_ci_brackets_median(spark, sf_dir):
    r = QUERIES["stats_median_ci_orderstats"].fn(spark, sf_dir).collect()[0]
    assert r["ci_lo"] <= r["median"] <= r["ci_hi"]
    assert r["ci_lo"] < r["ci_hi"]
    # order-statistic CI width shrinks like 1/sqrt(n): sanity scale
    assert (r["ci_hi"] - r["ci_lo"]) < 0.2 * r["median"]


def test_mann_kendall_matches_bruteforce(spark, sf_dir):
    import math

    from diabetes_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    r = QUERIES["orders_mann_kendall_trend"].fn(spark, sf_dir).collect()[0]
    daily = sorted(
        (row["d"], row["c"])
        for row in load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                 .cast("date").alias("d"))
        .count()
        .withColumnRenamed("count", "c")
        .collect()
    )
    vals = [c for _, c in daily]
    s = sum(
        (v2 > v1) - (v2 < v1)
        for i, v1 in enumerate(vals)
        for v2 in vals[i + 1:]
    )
    n = len(vals)
    from collections import Counter

    tt = sum(t * (t - 1) * (2 * t + 5) for t in Counter(vals).values())
    var = (n * (n - 1) * (2 * n + 5) - tt) / 18
    z = (s - 1) / math.sqrt(var) if s > 0 else (
        (s + 1) / math.sqrt(var) if s < 0 else 0.0
    )
    assert r["mk_s"] == s and r["n_days"] == n
    assert abs(r["z_mk"] - z) < 1e-9


def test_randomization_test_p_value_valid(spark, sf_dir):
    r = QUERIES["events_ab_randomization_test"].fn(spark, sf_dir).collect()[0]
    assert 0.0 < r["p_value"] <= 1.0
    assert 0 <= r["n_extreme"] <= 128
    # add-one form: p = (1 + extreme) / (B + 1)
    assert abs(r["p_value"] - (1 + r["n_extreme"]) / 129) < 1e-9
    # null is true by construction (hash halves of one population):
    # a tiny p-value would indicate a broken relabeling
    assert r["p_value"] > 0.01


def test_crosscorr_lag0_matches_numpy_and_symmetric_counts(spark, sf_dir):
    import numpy as np

    from diabetes_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = {
        r["lag"]: r
        for r in QUERIES["orders_volume_value_crosscorr"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(rows) == set(range(-3, 4))
    daily = sorted(
        (r["d"], r["c"], r["v"])
        for r in load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                 .cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                     .cast("double") / F.count(F.lit(1)), 6).alias("v"))
        .collect()
    )
    c = np.array([x[1] for x in daily], dtype=float)
    v = np.array([float(x[2]) for x in daily], dtype=float)
    want = np.corrcoef(c, v)[0, 1]
    assert abs(rows[0]["crosscorr"] - want) < 1e-9
    for r in rows.values():
        assert -1.0 <= r["crosscorr"] <= 1.0
    # lag +k and -k pair the same number of days
    for k in (1, 2, 3):
        assert rows[k]["n_days"] == rows[-k]["n_days"]


def test_hhi_bounds_and_equal_share_identity(spark, sf_dir):
    rows = QUERIES["orders_hhi_concentration"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        n = r["n_customers"]
        # HHI in [1/n, 1]; effective customers in [1, n]
        assert 1.0 / n - 1e-6 <= r["hhi"] <= 1.0 + 1e-9
        assert 1.0 - 1e-6 <= r["effective_customers"] <= n + 1e-6
        assert abs(r["effective_customers"] - 1.0 / r["hhi"]) < 1e-3


def test_token_entropy_bounds(spark, sf_dir):
    import math

    rows = QUERIES["text_token_entropy"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # 0 <= H <= ln(vocab); perplexity = e^H in [1, vocab]
        assert 0.0 <= r["entropy_nats"] <= math.log(r["vocab"]) + 1e-6
        assert 1.0 <= r["perplexity"] <= r["vocab"] + 1e-3
        assert abs(
            r["perplexity"] - round(math.exp(r["entropy_nats"]), 4)
        ) < 1e-9


def test_assortativity_in_range_and_bipartite_negative(spark, sf_dir):
    r = QUERIES["graph_assortativity_trade"].fn(spark, sf_dir).collect()[0]
    assert -1.0 <= r["assortativity"] <= 1.0
    assert r["n_directed_edges"] > 0 and r["n_directed_edges"] % 2 == 0


def test_dow_anova_matches_bruteforce(spark, sf_dir):
    from collections import defaultdict

    from diabetes_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    r = QUERIES["orders_dow_anova"].fn(spark, sf_dir).collect()[0]
    daily = load_table(spark, sf_dir, "orders").groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("d")
    ).count().collect()
    groups = defaultdict(list)
    for row in daily:
        groups[row["d"].isoweekday() % 7].append(row["count"])
    vals = [v for g in groups.values() for v in g]
    n, k = len(vals), len(groups)
    grand = sum(vals) / n
    ssb = sum(
        len(g) * (sum(g) / len(g) - grand) ** 2 for g in groups.values()
    )
    ssw = sum(
        (v - sum(g) / len(g)) ** 2
        for g in groups.values()
        for v in g
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert r["k_groups"] == k and r["n_days"] == n
    assert abs(r["ss_between"] - ssb) < 1e-3
    assert abs(r["ss_within"] - ssw) < 1e-3
    assert abs(r["f_stat"] - f) < 1e-6
    assert r["f_stat"] >= 0


def test_runs_test_matches_bruteforce(spark, sf_dir):
    import math
    import statistics

    from diabetes_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    r = QUERIES["orders_runs_test"].fn(spark, sf_dir).collect()[0]
    daily = sorted(
        (row["d"], row["count"])
        for row in load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", F.col("o_orderdate"))
                 .cast("date").alias("d"))
        .count()
        .collect()
    )
    med = statistics.median(c for _, c in daily)
    seq = [1 if c > med else 0 for _, c in daily if c != med]
    runs = 1 + sum(1 for a, b in zip(seq, seq[1:]) if a != b)
    n, n1 = len(seq), sum(seq)
    mu = 1 + 2 * n1 * (n - n1) / n
    assert r["n_days"] == n and r["n_above"] == n1
    assert r["n_runs"] == runs
    assert abs(r["expected_runs"] - mu) < 1e-9
    if 0 < n1 < n and n > 1:
        var = (
            2 * n1 * (n - n1) * (2 * n1 * (n - n1) - n)
            / (n ** 2 * (n - 1))
        )
        assert abs(r["z_runs"] - (runs - mu) / math.sqrt(var)) < 1e-9
    else:
        assert r["z_runs"] is None


def test_hub_robustness_monotone_fragmentation(spark, sf_dir):
    rows = {
        r["phase"]: r
        for r in QUERIES["graph_hub_robustness"].fn(spark, sf_dir).collect()
    }
    full, dehub = rows["full"], rows["dehubbed"]
    # removing nodes can only shrink the node set and the giant CC
    assert dehub["n_nodes"] <= full["n_nodes"]
    assert dehub["largest_cc"] <= full["largest_cc"]
    assert 0.0 < dehub["largest_share"] <= 1.0
    assert 0.0 < full["largest_share"] <= 1.0
    for r in rows.values():
        assert r["largest_cc"] <= r["n_nodes"]
        assert r["n_components"] >= 1


def test_coverage_md_tier_marks_match_registry():
    """Every registry query named in a COVERAGE.md TABLE ROW carries
    the tier mark the registry assigns it — extended queries are
    suffixed ``(ext)``, gate queries are bare (round-9 VERDICT #4:
    the header-count pin catches totals but let per-query tier labels
    drift across rotations).  Prose mentions are exempt: only table
    rows make a tier claim.  tools/sync_coverage_marks.py rewrites
    the marks from the registry when a rotation moves queries."""
    import os
    import re

    from diabetes_etl_spark.plans import all_queries

    reg = all_queries(include_extended=True)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "COVERAGE.md"), encoding="utf-8") as f:
        lines = f.read().split("\n")
    bad = []
    for i, ln in enumerate(lines, 1):
        if not ln.lstrip().startswith("|"):
            continue
        # a mark is "(ext)" or the prose form "(ext, ...)" / "(ext; ...)"
        for m in re.finditer(r"`([a-z0-9_]+)`( \(ext[,;)])?", ln):
            name, marked = m.group(1), bool(m.group(2))
            if name not in reg:
                continue
            if reg[name].extended != marked:
                bad.append(
                    f"COVERAGE.md:{i} `{name}` marked "
                    f"{'ext' if marked else 'gate'} but registry says "
                    f"{'ext' if reg[name].extended else 'gate'}"
                )
    assert not bad, "\n".join(bad)


def test_poisson_bootstrap_fold_equals_explode_form(spark, sf_dir):
    """The no-fan-out fold form reproduces the explode form
    bit-for-bit (same md5 weight stream, same DECIMAL folds)."""
    from diabetes_etl_spark.plans import all_queries

    reg = all_queries(include_extended=True)
    a = [
        tuple(r)
        for r in reg["stats_poisson_bootstrap_ci"].fn(spark, sf_dir).collect()
    ]
    b = [
        tuple(r)
        for r in reg["stats_poisson_bootstrap_ci_fold"]
        .fn(spark, sf_dir)
        .collect()
    ]
    assert a == b
