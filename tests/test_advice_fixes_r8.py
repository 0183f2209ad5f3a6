"""Regression tests for the round-7 VERDICT/ADVICE findings (fixed
round 8).

1. ``session_conf`` must pin ``spark.sql.shuffle.partitions`` ONLY
   under a local[*] master (round-7 VERDICT #2): a ~32-partition pin
   on a 1000-executor cluster starts every shuffle tiny and AQE can
   only coalesce down, never split up (outside skew handling).
2. ``minhash_lsh_incremental`` must bound the INDEX side of the
   candidate equi-join per (band_idx, band_hash) bucket (round-7
   ADVICE): a hot historical bucket used to emit
   |batch-bucket| x |index-bucket| candidates — cost proportional to
   the accumulated corpus, the exact thing the operator promises to
   avoid.
3. ``golden_records`` must reject input columns colliding with its
   reserved output/internal names loudly instead of silently
   clobbering or failing deep in the plan (round-7 ADVICE).
4. The trade-graph customer-node offset must be collision-proof at
   any SF (round-7 ADVICE: +10^6 collided with l_suppkey past
   SF 100) — now +10^12 with a per-row assert_true guard.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from diabetes_etl_spark.session import session_conf

SHUF = "spark.sql.shuffle.partitions"
CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


# -- 1. shuffle-partitions pin is local-only --------------------------------


def test_session_conf_pins_shuffle_partitions_locally():
    conf = session_conf("local[32]", cpus=32)
    assert conf[SHUF] == "32"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    # the codegen cache holds a warm pass's generated classes
    assert int(conf[CODEGEN_CACHE]) >= 1000


def test_session_conf_leaves_cluster_shuffle_partitions_alone():
    for master in (
        "spark://master:7077",
        "yarn",
        "k8s://https://host:443",
    ):
        conf = session_conf(master, cpus=32)
        assert SHUF not in conf, master
        # AQE stays in charge of initial partitioning on the cluster
        assert conf["spark.sql.adaptive.enabled"] == "true"
        # the driver compiles the generated code on a cluster too
        assert int(conf[CODEGEN_CACHE]) >= 1000, master


def test_session_conf_explicit_override_always_wins():
    assert session_conf("yarn", shuffle_partitions=400, cpus=32)[SHUF] == "400"
    assert session_conf("local[4]", shuffle_partitions=7, cpus=4)[SHUF] == "7"


# -- 2. incremental minhash: bounded index-side bucket fan-out ---------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = (
    "the quick brown fox jumps over the lazy dog while the band "
    "plays on and the crowd cheers loudly tonight"
)


def test_incremental_minhash_index_bucket_cap_bounds_candidates(spark):
    """A hot index bucket (many near-identical historical docs) must
    produce at most ~cap index-side candidates per new doc, and the
    capped match set must still flag the new doc as a historical dup
    (the head members of a near-identical bucket verify too)."""
    from diabetes_etl_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_incremental,
    )

    # 40 near-identical historical docs -> they share band buckets
    hist = _docs(
        spark, [(i, BASE + f" tail{i % 2}") for i in range(40)]
    )
    idx_bands, idx_profiles = minhash_index(hist, "doc_id", "text")
    batch = _docs(spark, [(1000, BASE + " tail0")])

    capped = minhash_lsh_incremental(
        idx_bands, idx_profiles, batch, "doc_id", "text",
        threshold=0.5, index_bucket_cap=4,
    ).filter(F.col("match_scope") == "index")
    rows = capped.collect()
    assert rows, "capped incremental match must still find the dup"
    # bounded: only the 4 smallest ids per bucket are joinable, so
    # every matched id comes from the head of some bucket — with 8
    # bands the absolute worst case is 8 * 4 distinct matched ids
    matched = {r.matched_id for r in rows}
    assert len(matched) <= 32
    assert min(matched) == 0  # bucket heads are the smallest ids

    uncapped = minhash_lsh_incremental(
        idx_bands, idx_profiles, batch, "doc_id", "text",
        threshold=0.5, index_bucket_cap=None,
    ).filter(F.col("match_scope") == "index")
    # the uncapped join sees the whole hot bucket
    assert uncapped.count() > len(matched)


def test_incremental_minhash_cap_default_matches_small_buckets(spark):
    """Buckets at or under the cap are unaffected: default-cap output
    equals uncapped output on a normal (non-skewed) corpus."""
    from diabetes_etl_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_incremental,
    )

    hist = _docs(
        spark,
        [(1, BASE), (2, "completely different text about spark engines "
                        "and distributed query planning at large scale")],
    )
    idx_bands, idx_profiles = minhash_index(hist, "doc_id", "text")
    batch = _docs(spark, [(100, BASE + " extra"), (101, "unrelated news")])
    a = minhash_lsh_incremental(
        idx_bands, idx_profiles, batch, "doc_id", "text", threshold=0.5
    )
    b = minhash_lsh_incremental(
        idx_bands, idx_profiles, batch, "doc_id", "text", threshold=0.5,
        index_bucket_cap=None,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# -- 3. golden_records reserved-name collision ------------------------------


def test_golden_records_rejects_reserved_column_collision(spark):
    from diabetes_etl_spark.operators.er import golden_records

    records = spark.createDataFrame(
        [(1, "a", 3)], "id long, name string, cluster_id long"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="cluster_id"):
        golden_records(records, pairs, "id", [F.col("name")])


def test_golden_records_clean_input_unaffected(spark, tmp_path):
    from diabetes_etl_spark.operators.er import golden_records

    records = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, name string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = golden_records(
        records, pairs, "id", [F.col("name")], work_dir=str(tmp_path)
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].cluster_id == rows[2].cluster_id == 1
    assert rows[3].cluster_id == 3 and rows[3].is_golden


# -- 4. trade-graph node-id disjointness ------------------------------------


def test_custkey_node_offset_clears_any_plausible_suppkey_range():
    from diabetes_etl_spark.plans.graphplans import _CUST_NODE_OFFSET

    # suppkey max is 10000 * SF; even SF 10^6 (10 PB-ish) stays clear
    assert _CUST_NODE_OFFSET > 10000 * 10**6


def test_custkey_node_guard_fails_loudly_on_overlap(spark):
    from diabetes_etl_spark.plans.graphplans import (
        _CUST_NODE_OFFSET,
        _custkey_node,
    )

    ok = spark.createDataFrame([(5, 7)], "suppkey long, custkey long")
    row = ok.select(
        _custkey_node(F.col("custkey"), F.col("suppkey")).alias("dst")
    ).first()
    assert row.dst == 7 + _CUST_NODE_OFFSET

    bad = spark.createDataFrame(
        [(_CUST_NODE_OFFSET + 1, 7)], "suppkey long, custkey long"
    )
    with pytest.raises(Exception, match="node id ranges overlap"):
        bad.select(
            _custkey_node(F.col("custkey"), F.col("suppkey")).alias("dst")
        ).collect()


# -- explicit Bloom semi-join reduction --------------------------------------


def test_bloom_reduced_join_equals_plain_join(spark):
    from diabetes_etl_spark.operators.joins import bloom_reduced_join

    fact = spark.createDataFrame(
        [(i, i % 20) for i in range(500)], "row_id long, fk long"
    )
    dim = spark.createDataFrame(
        [(3, "a"), (7, "b"), (11, "c")], "pk long, tag string"
    )
    got = sorted(
        map(
            tuple,
            bloom_reduced_join(fact, dim, "fk", "pk")
            .select("row_id", "fk", "pk", "tag")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            fact.join(dim, fact.fk == dim.pk)
            .select("row_id", "fk", "pk", "tag")
            .collect(),
        )
    )
    assert got == want and len(got) == 75


def test_bloom_reduced_join_saturated_filter_still_exact(spark):
    """An undersized (saturated) Bloom must cost only pruning power,
    never correctness."""
    from diabetes_etl_spark.operators.joins import bloom_reduced_join

    fact = spark.createDataFrame(
        [(i, i) for i in range(200)], "row_id long, fk long"
    )
    dim = spark.createDataFrame(
        [(i, f"t{i}") for i in range(0, 200, 2)], "pk long, tag string"
    )
    got = bloom_reduced_join(fact, dim, "fk", "pk", m=64, k=3)
    assert got.count() == 100


# -- round-8 reserved-name / degenerate-input guards -------------------------


def test_quantile_filter_rejects_reserved_column(spark):
    import pytest

    from diabetes_etl_spark.operators.sampling import (
        quantile_threshold_filter,
    )

    df = spark.createDataFrame(
        [(1, "g", 0.5, 0.1)],
        "doc_id long, grp string, s double, group_threshold double",
    )
    with pytest.raises(ValueError, match="group_threshold"):
        quantile_threshold_filter(df, "s", "grp", 0.5)


def test_c4_blocklist_rejects_non_token_entries(spark):
    import pytest

    from diabetes_etl_spark.operators.dedup import remove_duplicate_lines

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="blocklist"):
        remove_duplicate_lines(docs, blocklist=("two words",))
    with pytest.raises(ValueError, match="blocklist"):
        remove_duplicate_lines(docs, blocklist=("",))


def test_bloom_join_rejects_reserved_fp_and_handles_same_key_name(spark):
    import pytest

    from diabetes_etl_spark.operators.joins import bloom_reduced_join

    fact = spark.createDataFrame(
        [(1, 5, 0)], "row_id long, k long, __fp long"
    )
    dim = spark.createDataFrame([(5, "a")], "k long, tag string")
    with pytest.raises(ValueError, match="__fp"):
        bloom_reduced_join(fact, dim, "k", "k")
    # same key name on both sides -> natural equi-join, one key column
    fact2 = spark.createDataFrame([(1, 5), (2, 6)], "row_id long, k long")
    out = bloom_reduced_join(fact2, dim, "k", "k")
    assert out.columns.count("k") == 1
    assert out.count() == 1
