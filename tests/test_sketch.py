"""Count-min sketch (operators/sketch.py) unit tests: upper-bound
guarantee, cell-wise mergeability, CMS error bound, and partition
invariance."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.sketch import (
    _bloom_bit,
    bloom_hit_mask_fp,
    cms_cells,
    cms_estimate,
)
from diabetes_etl_spark.operators.text import fingerprint

_W, _D = 32, 4  # small width so collisions actually happen


def _stream(spark, counts: dict[str, int]):
    rows = [(k,) for k, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "tok string")


_COUNTS = {f"w{i}": (i % 7) + 1 for i in range(60)}  # 60 keys, 32 cells


# -- reference forms of the sketches, checked against the engine's ---------
#
# Cell-wise CMS merge, a column-name wrapper over bloom_hit_mask_fp, the
# join-based Bloom probe and the KMV distinct-count estimator: no plan
# runs them, so they live here, as the rollup and the references the
# engine's bloom_bits, bloom_hit_mask_fp and kmv_sketch are checked
# against.


def merge_cells(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum of CMS cell tables built with identical
    (width, depth, seed) — the rollup operation: per-partition,
    per-day, or per-micro-batch sketches combine into the sketch of
    the concatenated input exactly (tested), in one bounded
    depth*width aggregate."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def bloom_hit_mask(
    bits: DataFrame,
    key_col: str,
    m: int = 8192,
    k: int = 5,
    seed: int = 23,
) -> Column:
    """SCAN-LOCAL membership test: a boolean Column that is true iff
    all k probe bits of column ``key_col`` are set — the fast
    path of :func:`bloom_probe` and the shape a 100 TB blocklist scrub
    actually wants.

    The bit table is collected ONCE to the driver (bounded by m —
    8 KB of ints per 64k-bit filter, the same bounded-collect budget
    as the IVF training sample) and folded into an array-of-longs
    bitmask LITERAL; each probe is then two integer ops + a bit test
    inside whole-stage codegen.  No explode, no join, no shuffle, no
    per-row aggregate — the probe disappears into the scan, which is
    the entire point of a Bloom pre-filter.
    """
    return bloom_hit_mask_fp(bits, fingerprint(key_col), m, k, seed)


def bloom_probe(
    bits: DataFrame,
    keys: DataFrame,
    key_col: str,
    m: int = 8192,
    k: int = 5,
    seed: int = 23,
) -> DataFrame:
    """``keys`` + ``bloom_hit`` (boolean): true iff ALL k probe bits
    are set — no false negatives, false positives at the documented
    rate.  The bit table BROADCASTS (<= m one-int rows), so the key
    side never shuffles for the probe itself; the only aggregate is
    per input row over its k probes."""
    fp = F.col("__fp")
    probes = F.array(*[_bloom_bit(fp, m, j, seed) for j in range(k)])
    probed = (
        keys.select("*", fingerprint(key_col).alias("__fp"))
        .select(*keys.columns, F.posexplode(probes).alias("__j", "bit"))
    )
    marked = probed.join(
        F.broadcast(bits.withColumn("__set", F.lit(1))), "bit", "left"
    )
    return (
        marked.groupBy(*keys.columns)
        .agg(
            (
                F.sum(F.coalesce("__set", F.lit(0))) == F.lit(k)
            ).alias("bloom_hit")
        )
    )


def kmv_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """Distinct-count estimate per group: exact count when the sketch
    is not full (covering mode), else (k-1) * 2^32 / tau where tau is
    the k-th smallest hash."""
    g = sketch.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("tau")
    )
    return g.select(
        "g",
        F.when(F.col("n") < k, F.col("n").cast("double"))
        .otherwise(
            F.lit(float(k - 1))
            * F.lit(4294967296.0)
            / F.col("tau").cast("double")
        )
        .alias("est_distinct"),
    )


def test_cms_estimates_upper_bound_every_key(spark):
    df = _stream(spark, _COUNTS)
    cells = cms_cells(df, "tok", _W, _D)
    keys = df.select("tok").distinct()
    est = {
        r.tok: r.cms_cnt
        for r in cms_estimate(cells, keys, "tok", _W, _D).collect()
    }
    assert set(est) == set(_COUNTS)
    assert all(est[k] >= v for k, v in _COUNTS.items())


def test_cms_error_bound(spark):
    """Overcount <= e*N/width holds per the CMS guarantee with prob
    1 - (1/e)^depth ~ 0.98; on this fixed dataset it is deterministic —
    assert the bound outright."""
    df = _stream(spark, _COUNTS)
    n_total = sum(_COUNTS.values())
    cells = cms_cells(df, "tok", _W, _D)
    est = {
        r.tok: r.cms_cnt
        for r in cms_estimate(
            cells, df.select("tok").distinct(), "tok", _W, _D
        ).collect()
    }
    bound = 2.718281828 * n_total / _W
    assert all(est[k] - v <= bound for k, v in _COUNTS.items())


def test_cms_merge_is_cellwise_sum(spark):
    """sketch(A union B) must equal the cell-wise sum of sketch(A) and
    sketch(B) — the mergeability contract that lets per-day /
    per-partition sketches roll up without raw data."""
    a = {f"w{i}": i + 1 for i in range(20)}
    b = {f"w{i}": 2 * i + 1 for i in range(10, 30)}
    ca = cms_cells(_stream(spark, a), "tok", _W, _D)
    cb = cms_cells(_stream(spark, b), "tok", _W, _D)
    merged = (
        ca.unionByName(cb)
        .groupBy("r", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )
    union_counts = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
    direct = cms_cells(_stream(spark, union_counts), "tok", _W, _D)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_cms_partition_invariant_bit_identical(spark):
    df = _stream(spark, _COUNTS)
    a = sorted(map(tuple, cms_cells(df, "tok", _W, _D).collect()))
    b = sorted(
        map(tuple, cms_cells(df.repartition(13), "tok", _W, _D).collect())
    )
    assert a == b


def test_cms_streaming_incremental_maintenance(spark, tmp_path, sf_dir):
    """Streaming rollup shape: each micro-batch's sketch merges into a
    VersionedTable via foreachBatch (snapshot-isolated commits); the
    final cell table equals the batch-built sketch of ALL events —
    the mergeability contract end-to-end through Structured
    Streaming."""
    from pyspark.sql import functions as F  # noqa: F811

    from diabetes_etl_spark.sources.tables import (
        load_events_stream,
        load_table,
    )
    from diabetes_etl_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "cms_store"))

    def update(batch, batch_id):
        cells = cms_cells(batch, "event_type", _W, _D)
        if vt.history():
            cells = merge_cells(vt.read(), cells)
        vt.overwrite(cells)

    stream = load_events_stream(spark, sf_dir).select("event_type")
    q = (
        stream.writeStream.foreachBatch(update)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, vt.read().select("r", "c", "cnt").collect()))
    want = sorted(
        map(
            tuple,
            cms_cells(
                load_table(spark, sf_dir, "events"), "event_type", _W, _D
            ).collect(),
        )
    )
    assert got == want


# -- portable HyperLogLog ---------------------------------------------------


def test_hll_estimate_within_error_bound(spark):
    """Standard error for m=64 is 1.04/sqrt(64) = 13%; this fixed
    dataset is deterministic, so assert a 3-sigma band outright."""
    from diabetes_etl_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    n = 5000
    df = spark.range(n).select((F.col("id") * 7 + 3).alias("k"))
    est = hll_estimate(hll_registers(df, "k")).collect()[0].hll_estimate
    assert abs(est - n) / n < 0.39


def test_hll_duplicates_do_not_move_the_estimate(spark):
    from diabetes_etl_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    once = spark.range(1000).select(F.col("id").alias("k"))
    tenx = once.crossJoin(spark.range(10)).select("k")
    e1 = hll_estimate(hll_registers(once, "k")).collect()[0].hll_estimate
    e2 = hll_estimate(hll_registers(tenx, "k")).collect()[0].hll_estimate
    assert e1 == e2  # cardinality, not frequency — bit-identical


# -- portable Bloom filter (round-7) ----------------------------------------


def test_bloom_no_false_negatives(spark):
    from diabetes_etl_spark.operators.sketch import bloom_bits

    members = spark.createDataFrame(
        [(f"key{i}",) for i in range(500)], "tok string"
    )
    bits = bloom_bits(members, "tok", m=8192, k=5)
    out = {
        r.tok: r.bloom_hit
        for r in bloom_probe(bits, members, "tok", m=8192, k=5).collect()
    }
    assert all(out.values())  # every member hits — no false negatives


def test_bloom_false_positive_rate_bounded(spark):
    import math

    from diabetes_etl_spark.operators.sketch import bloom_bits

    m, k, n = 8192, 5, 500
    members = spark.createDataFrame(
        [(f"key{i}",) for i in range(n)], "tok string"
    )
    others = spark.createDataFrame(
        [(f"other{i}",) for i in range(2000)], "tok string"
    )
    bits = bloom_bits(members, "tok", m=m, k=k)
    fp = sum(
        1
        for r in bloom_probe(bits, others, "tok", m=m, k=k).collect()
        if r.bloom_hit
    )
    expect = (1 - math.exp(-k * n / m)) ** k
    assert fp / 2000 < 5 * expect + 0.01  # generous slack over theory


def test_bloom_bits_partition_invariant(spark):
    from diabetes_etl_spark.operators.sketch import bloom_bits

    df = spark.createDataFrame([(f"k{i}",) for i in range(300)], "tok string")
    b1 = sorted(r.bit for r in bloom_bits(df, "tok").collect())
    b2 = sorted(r.bit for r in bloom_bits(df.repartition(13), "tok").collect())
    assert b1 == b2


# -- grouped HLL (round-7) --------------------------------------------------


def test_grouped_hll_matches_per_group_global_hll(spark):
    """The grouped form must produce, per group, exactly the registers
    and estimate the global form produces on that group's slice."""
    from diabetes_etl_spark.operators.sketch import (
        hll_estimate,
        hll_grouped_estimate,
        hll_grouped_registers,
        hll_registers,
    )

    df = spark.createDataFrame(
        [(f"g{i % 3}", (i * 7919) % 500) for i in range(3000)],
        "grp string, uid long",
    )
    grouped = hll_grouped_estimate(
        hll_grouped_registers(df, "grp", "uid")
    )
    got = {r.grp: (r.hll_estimate, r.n_zero_registers) for r in grouped.collect()}
    for g in ("g0", "g1", "g2"):
        part = df.filter(df.grp == g)
        want = hll_estimate(hll_registers(part, "uid")).collect()[0]
        assert got[g] == (want.hll_estimate, want.n_zero_registers)


def test_grouped_hll_estimates_within_error_band(spark):
    from diabetes_etl_spark.operators.sketch import (
        hll_grouped_estimate,
        hll_grouped_registers,
    )

    df = spark.createDataFrame(
        [("a", i) for i in range(1000)] + [("b", i) for i in range(100)],
        "grp string, uid long",
    )
    est = {
        r.grp: r.hll_estimate
        for r in hll_grouped_estimate(
            hll_grouped_registers(df, "grp", "uid")
        ).collect()
    }
    # m=64 -> ~13% standard error; allow 3 sigma
    assert abs(est["a"] - 1000) / 1000 < 0.4
    assert abs(est["b"] - 100) / 100 < 0.4


def test_bloom_mask_probe_equals_join_probe(spark):
    """The scan-local bitmask probe must agree with the join-based
    probe on members AND non-members (including the signed-long fold
    of high mask words)."""
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.sketch import bloom_bits

    members = spark.createDataFrame(
        [(f"key{i}",) for i in range(400)], "tok string"
    )
    others = spark.createDataFrame(
        [(f"other{i}",) for i in range(1500)], "tok string"
    )
    bits = bloom_bits(members, "tok", m=8192, k=5)
    both = members.unionByName(others)
    join_out = {
        r.tok: r.bloom_hit
        for r in bloom_probe(bits, both, "tok", m=8192, k=5).collect()
    }
    probed = both.select(
        "tok", bloom_hit_mask(bits, "tok", m=8192, k=5).alias("hit")
    )
    mask_out = {r.tok: r.hit for r in probed.collect()}
    assert join_out == mask_out
    # and the probe is genuinely scan-local: no join, no exchange
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


# -- CMS join-size estimation (round-7) --------------------------------------


def test_cms_join_size_upper_bounds_and_tracks_truth(spark):
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.sketch import cms_cells, cms_join_size

    a = spark.createDataFrame(
        [(f"k{i % 40}",) for i in range(1200)], "tok string"
    )
    b = spark.createDataFrame(
        [(f"k{i % 25}",) for i in range(500)], "tok string"
    )
    truth = a.join(b, "tok").count()
    est = cms_join_size(
        cms_cells(a, "tok", width=1024, depth=4),
        cms_cells(b, "tok", width=1024, depth=4),
    ).collect()[0].join_size_estimate
    assert est >= truth  # always an upper bound
    assert est <= truth * 1.2  # concentrates at this width/cardinality


def test_cms_join_size_disjoint_keys_is_small(spark):
    from diabetes_etl_spark.operators.sketch import cms_cells, cms_join_size

    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], "tok string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], "tok string")
    est = cms_join_size(
        cms_cells(a, "tok", width=2048, depth=4),
        cms_cells(b, "tok", width=2048, depth=4),
    ).collect()[0].join_size_estimate
    # truth is 0; only hash collisions contribute
    assert est < 300 * 300 * 0.01


# -- fixed-grid histogram quantiles (round-8) -------------------------------


def test_histogram_quantiles_value_error_bound(spark):
    """Estimate must sit within one grid pitch below the exact
    quantile (the estimator returns the bucket's LOWER edge)."""
    import numpy as np

    from diabetes_etl_spark.operators.sketch import histogram_quantiles

    vals = [((i * 37) % 1000) / 50.0 for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    r = histogram_quantiles(df, "value", grid=64).collect()[0]
    for q, est in ((0.5, r.p50_est), (0.9, r.p90_est), (0.99, r.p99_est)):
        exact = float(np.quantile(np.array(vals), q, method="inverted_cdf"))
        assert est <= exact + 1e-12, (q, est, exact)
        assert exact - est <= 1.0 / 64 + 1e-12, (q, est, exact)


def test_histogram_quantiles_shards_merge_exactly(spark):
    """Bucket tables are associative: quantiles computed from the
    union of two disjoint shards equal quantiles of the full data —
    the defining mergeability property."""
    from diabetes_etl_spark.operators.sketch import histogram_quantiles

    rows = [(("a" if i % 3 else "b"), ((i * 61) % 500) / 25.0)
            for i in range(1500)]
    full = spark.createDataFrame(rows, "g string, value double")
    a = full.filter("value < 10")
    b = full.filter("value >= 10")
    got_full = sorted(
        map(tuple, histogram_quantiles(full, "value", "g").collect())
    )
    got_merged = sorted(
        map(tuple, histogram_quantiles(a.unionAll(b), "value", "g").collect())
    )
    assert got_full == got_merged


def test_hll_union_equals_rescan_and_handles_overlap(spark):
    """Sketch union across overlapping segments must equal the
    distinct count of the union (NOT the sum of per-segment counts) —
    the mergeability contract."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", i) for i in range(100)]
        + [("b", i) for i in range(50, 150)],   # 50 overlap
        "seg string, uid long",
    )
    sk = df.groupBy("seg").agg(
        F.hll_sketch_agg("uid", F.lit(21)).alias("sk")
    )
    per = {r.seg: r.n for r in sk.select(
        "seg", F.hll_sketch_estimate("sk").cast("long").alias("n")
    ).collect()}
    assert per == {"a": 100, "b": 100}
    merged = sk.agg(F.hll_union_agg("sk").alias("u")).select(
        F.hll_sketch_estimate("u").cast("long").alias("n")
    ).collect()[0].n
    assert merged == 150  # union, not 200


# -- KMV bottom-k sketch (round 9) --------------------------------------------


def _kmv_fixture(spark, n_a=200, n_b=200, overlap=100):
    rows = []
    for i in range(n_a):
        rows.append(("A", i))
    for i in range(n_a - overlap, n_a - overlap + n_b):
        rows.append(("B", i))
    return spark.createDataFrame(rows, "g string, v long")


def test_kmv_covering_is_exact(spark):
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.sketch import (
        kmv_pair_stats,
        kmv_sketch,
    )

    df = _kmv_fixture(spark)
    sk = kmv_sketch(df, "g", F.col("v"), k=1024)
    est = {r["g"]: r["est_distinct"] for r in kmv_estimate(sk, 1024).collect()}
    assert est == {"A": 200.0, "B": 200.0}
    p = kmv_pair_stats(sk, 1024).collect()[0]
    assert p["n_bottom"] == 300 and p["matches"] == 100
    assert p["est_union"] == 300.0
    assert abs(p["est_jaccard"] - 100 / 300) < 1e-12


def test_kmv_truncated_estimator_within_bounds(spark):
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.sketch import (
        kmv_pair_stats,
        kmv_sketch,
    )

    df = _kmv_fixture(spark, n_a=2000, n_b=2000, overlap=1000)
    k = 256
    sk = kmv_sketch(df, "g", F.col("v"), k=k)
    assert sk.groupBy("g").count().collect()[0]["count"] == k
    est = {r["g"]: r["est_distinct"] for r in kmv_estimate(sk, k).collect()}
    # KMV standard error ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    for g in ("A", "B"):
        assert abs(est[g] - 2000) / 2000 < 0.25, est
    p = kmv_pair_stats(sk, k).collect()[0]
    true_union, true_j = 3000, 1000 / 3000
    assert abs(p["est_union"] - true_union) / true_union < 0.25
    assert abs(p["est_jaccard"] - true_j) < 0.15
    est_inter = p["est_jaccard"] * p["est_union"]
    assert abs(est_inter - 1000) / 1000 < 0.35


def test_kmv_merge_is_union_retruncate(spark):
    """Mergeability: sketching two halves then merging (union + bottom
    k) equals sketching the whole — the rollup contract."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.sketch import kmv_sketch

    df = _kmv_fixture(spark, n_a=500, n_b=0, overlap=0)
    half1 = df.where("v < 250")
    half2 = df.where("v >= 250")
    k = 64
    s1 = kmv_sketch(half1, "g", F.col("v"), k)
    s2 = kmv_sketch(half2, "g", F.col("v"), k)
    w = Window.partitionBy("g").orderBy("h")
    merged = (
        s1.unionByName(s2)
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
    whole = kmv_sketch(df.where("g = 'A'"), "g", F.col("v"), k)
    assert sorted(r["h"] for r in merged.collect()) == sorted(
        r["h"] for r in whole.collect()
    )
