"""Count-min sketch: fixed-memory, MERGEABLE frequency estimation —
the sketch companion to the exact heavy-hitters query
(plans/textplans.py:text_heavy_hitters) for streams and corpora whose
key cardinality is too large to hash-aggregate exactly.

Why a sketch at 100 TB: an exact per-key count table is O(vocabulary)
— fine for words, fatal for URLs/n-grams/user-ids at web scale.  The
CMS cell table is O(depth x width) REGARDLESS of input size, the
shuffle after map-side combine is bounded by the same constant, and
two sketches merge by cell-wise addition — so per-partition / per-day
sketches roll up without touching raw data (the same mergeability
contract as percentile sketches and HLL elsewhere in this repo).

Estimates are upper bounds: est(k) >= true(k) always, and
est(k) <= true(k) + eps*N with probability 1-delta for
width = ceil(e/eps), depth = ceil(ln(1/delta)) (Cormode & Muthu 2005).

Determinism contract: the d hash functions are a pairwise-independent
affine family (a_j*fp + b_j mod p, DISTINCT multiplier per row — see
_cms_row_params) over the polynomial rolling-hash fingerprint of the
key (operators/text.py) — pure integer arithmetic, so cells,
estimates, and overcounts are bit-identical across engines,
partitionings, and runs, which is what lets an APPROXIMATE structure
be hash-checked against a DuckDB replay.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.sampling import _MOD
from diabetes_etl_spark.operators.text import fingerprint

# stride between per-row hash seeds (same spacing trick as the LSH
# hyperplane seeds in operators/similarity.py)
_SEED_STRIDE = 1000003


def _cms_row_params(depth_idx: int, seed: int) -> tuple[int, int]:
    """Per-row (a_j, b_j) for the pairwise-independent family
    h_j(x) = (a_j*x + b_j) mod p.

    The MULTIPLIER must differ per row: with a shared multiplier and
    only an additive per-row seed (the pre-round-7 form), every row is
    a constant shift of the same affine map, so two keys colliding in
    one row collide in (almost) all rows at once — effective depth ~1,
    and the 1-(1/e)^depth Cormode-Muthukrishnan bound is void.  a_j/b_j
    are two LCG steps from the row seed, computed in PYTHON and
    embedded as literals, so the SQL oracle replays the identical
    constants.  a_j is forced non-zero (a=0 degenerates to constant)."""
    from diabetes_etl_spark.operators.sampling import _MIX_A, _MIX_C, _MOD

    x = (seed + depth_idx * _SEED_STRIDE) % _MOD
    a = (_MIX_A * x + _MIX_C) % _MOD
    b = (_MIX_A * a + _MIX_C) % _MOD
    if a == 0:
        a = 1
    return a, b


def _cms_col(fp: Column, width: int, depth_idx: int, seed: int) -> Column:
    """Column index of a key in sketch row ``depth_idx`` — the
    pairwise-independent (a_j*fp + b_j) mod p, mod width.  fp and a_j
    are both < p ~ 1e9, so the product stays under 2^60 — exact in
    BIGINT on both engines."""
    a, b = _cms_row_params(depth_idx, seed)
    return F.pmod(
        F.pmod(fp * F.lit(a) + F.lit(b), F.lit(_MOD)), F.lit(width)
    ).cast("int")


def cms_cells(
    df: DataFrame,
    key_col: str,
    width: int = 512,
    depth: int = 4,
    seed: int = 7,
) -> DataFrame:
    """(r, c, cnt): the depth x width sketch of ``key_col``'s frequency
    distribution, one occurrence per input row.

    Plan shape: a narrow map emits ``depth`` (r, c) pairs per row, then
    ONE groupBy whose key space is bounded by depth*width — map-side
    combine collapses each partition to at most depth*width partial
    cells before the exchange, so shuffle volume is a constant
    independent of input size.  Merging sketches = unionByName +
    groupBy(r, c).sum(cnt).
    """
    # fingerprint projected ONCE per row — Catalyst does not CSE the
    # character fold across the depth structs, so inlining it would
    # evaluate the per-key hash depth times
    fp = F.col("__fp")
    probes = F.array(
        *[
            F.struct(
                F.lit(j).alias("r"), _cms_col(fp, width, j, seed).alias("c")
            )
            for j in range(depth)
        ]
    )
    return (
        # NULL keys carry no countable identity — dropped, not hashed
        # into phantom (r, NULL) cells that would silently skew merges
        df.filter(F.col(key_col).isNotNull())
        .select(fingerprint(key_col).alias("__fp"))
        .select(F.explode(probes).alias("rc"))
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    cells: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 512,
    depth: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Point estimates for ``keys``: min over the sketch rows of the
    addressed cells (absent cell = 0).  ``width``/``depth``/``seed``
    must match the ``cms_cells`` call that built ``cells``.

    The cell table is at most depth*width rows, so it BROADCASTS — the
    estimate join never shuffles the key side.
    """
    fp = F.col("__fp")
    probes = F.array(
        *[
            F.struct(
                F.lit(j).alias("r"), _cms_col(fp, width, j, seed).alias("c")
            )
            for j in range(depth)
        ]
    )
    probed = (
        keys.select("*", fingerprint(key_col).alias("__fp"))
        .select(*keys.columns, F.explode(probes).alias("rc"))
        .select(
            *keys.columns, F.col("rc.r").alias("r"), F.col("rc.c").alias("c")
        )
    )
    return (
        probed.join(F.broadcast(cells), ["r", "c"], "left")
        .groupBy(*keys.columns)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_cnt"))
    )


# -- portable Bloom filter --------------------------------------------------
#
# The membership sketch next to CMS (frequency) and HLL (cardinality):
# m bits, k pairwise-independent probes per key (the SAME affine
# family as the CMS rows — distinct multiplier per probe), stored as a
# DISTINCT bit-index table of at most m rows.  est(member) has no
# false negatives; false-positive rate ~ (1 - e^(-k*n/m))^k.
#
# Why at 100 TB: the canonical use is a BLOCKLIST probe (benchmark
# shingles, known-bad URLs, seen document hashes) against a corpus too
# big to shuffle — the bit table broadcasts (<= m rows of one int),
# the corpus side stays scan-local, and per-partition/per-day filters
# merge by bit union WITHOUT touching raw keys.  Same determinism
# contract as CMS: pure integer arithmetic over the rolling-hash
# fingerprint, so bits AND probe outcomes replay bit-identically in a
# SQL oracle — a hash-checkable approximate structure.


def _bloom_bit(fp: Column, m: int, probe_idx: int, seed: int) -> Column:
    """Bit index of probe ``probe_idx`` for a key fingerprint."""
    a, b = _cms_row_params(probe_idx, seed)
    return F.pmod(
        F.pmod(fp * F.lit(a) + F.lit(b), F.lit(_MOD)), F.lit(m)
    ).cast("int")


def bloom_bits(
    df: DataFrame,
    key_col: str,
    m: int = 8192,
    k: int = 5,
    seed: int = 23,
) -> DataFrame:
    """(bit,) — the set bit indices of a Bloom filter over ``key_col``
    (NULL keys dropped: no membership identity).  One explode + one
    DISTINCT bounded at ``m`` rows; map-side combine caps the shuffle
    at m per partition regardless of input size."""
    fp = F.col("__fp")
    probes = F.array(*[_bloom_bit(fp, m, j, seed) for j in range(k)])
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(fingerprint(key_col).alias("__fp"))
        .select(F.explode(probes).alias("bit"))
        .distinct()
    )


def bloom_hit_mask_fp(
    bits: DataFrame,
    fp: Column,
    m: int = 8192,
    k: int = 5,
    seed: int = 23,
) -> Column:
    """SCAN-LOCAL membership test over an ALREADY-COMPUTED fingerprint
    Column: true iff all k probe bits of ``fp`` are set in ``bits``.

    The bit table is collected ONCE to the driver (bounded by m) and
    folded into an array-of-longs bitmask LITERAL; each probe is then
    two integer ops + a bit test inside whole-stage codegen.  No
    explode, no join, no shuffle.  Callers probing long keys should
    project ``fingerprint(col)`` into a column first and pass that
    column here: Catalyst does not CSE the per-character fold, so
    inlining the key would re-hash it once per probe (k x the string
    work -- the same pitfall cms_cells documents)."""
    words = [0] * ((m + 63) // 64)
    for row in bits.collect():  # <= m rows by construction
        b = int(row["bit"])
        words[b >> 6] |= 1 << (b & 63)
    # two's-complement fold: LongType literals are signed 64-bit
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    mask = F.lit(words)
    cond = None
    for j in range(k):
        a, bconst = _cms_row_params(j, seed)
        bit = F.pmod(
            F.pmod(fp * F.lit(a) + F.lit(bconst), F.lit(_MOD)), F.lit(m)
        )
        word = F.element_at(mask, (bit / 64).cast("int") + 1)
        # (w >> n) & 1 reads bit n regardless of the sign bit;
        # call_function routes the column-valued shift amount (the
        # python F.shiftright binding only takes a literal)
        test = (
            F.call_function(
                "shiftright", word, F.pmod(bit, F.lit(64)).cast("int")
            ).bitwiseAND(F.lit(1))
            == 1
        )
        cond = test if cond is None else (cond & test)
    return cond


# -- portable HyperLogLog ---------------------------------------------------
#
# Native approx_count_distinct is mergeable but engine-specific (its
# binary sketch and hash are Spark's own).  This HLL keeps the repo's
# determinism contract instead: registers derive from a quadratic
# portable hash, rho comes from integer/string ops (bin()), and the estimate is
# alpha * m^2 * 2^(B+1) / S where S = sum_j 2^(B+1-rho_j) is an EXACT
# BIGINT — so the whole approximate structure, registers AND estimate,
# is bit-identical cross-engine and hash-checkable.
#
# Hash budget: the mix lives in [0, 1e9+7) ~ 2^30 — 6 register bits +
# 24 rho bits.  Fine to ~10^7-10^8 distincts (fixture scales and most
# rollup keys); past that, widen the hash (two independent mixes) —
# the register algebra is unchanged.

_HLL_BITS = 24


def _hll_mix(key: Column, seed: int) -> Column:
    """Quadratic portable hash for HLL: the affine LCG mix sends
    SEQUENTIAL keys to an arithmetic progression mod p, whose MSB
    positions are structured — rho would bias the estimate far past
    the HLL error bound (observed +55% on sequential ids).  Squaring
    the shifted key first equidistributes (same reasoning as the JL
    projection planes, operators/similarity.py)."""
    from diabetes_etl_spark.operators.sampling import _MIX_A, _MIX_C, _MOD

    i = F.pmod(key + F.lit(seed), F.lit(_MOD))
    return F.pmod(
        F.pmod(i * i, F.lit(_MOD)) * F.lit(_MIX_A) + i * F.lit(_MIX_C),
        F.lit(_MOD),
    )


def hll_registers(
    df: DataFrame, key_col: str, m_log2: int = 6, seed: int = 19
) -> DataFrame:
    """(idx, rho): the HLL register table (at most 2^m_log2 rows) —
    one map-side-combined groupBy, constant shuffle like cms_cells.
    Sketches merge by register-wise max.  NULL keys are dropped
    (no countable identity).

    rho is derived with integer/string arithmetic only (`div`,
    `bin()` length — both engines agree exactly); no float division,
    no libm."""
    m = 1 << m_log2
    rho = F.when(
        F.col("__w") > 0,
        F.lit(_HLL_BITS) - F.length(F.expr("bin(__w)")) + F.lit(1),
    ).otherwise(F.lit(_HLL_BITS + 1))
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(_hll_mix(F.col(key_col).cast("long"), seed).alias("__v"))
        .select(
            F.pmod(F.col("__v"), F.lit(m)).cast("int").alias("idx"),
            F.expr(f"__v div {m}").alias("__w"),
        )
        .select("idx", rho.cast("int").alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, m_log2: int = 6) -> DataFrame:
    """1-row (hll_estimate, n_zero_registers) from a register table.

    S folds as an exact BIGINT via shifts (2^(B+1-rho) per register,
    2^(B+1) per never-touched register) and the estimate is ONE IEEE
    expression over exact integers — deterministic cross-engine, no
    2^-rho float sum, no libm.  Raw HLL estimate (no small-range
    linear-counting correction — ln is libm; callers needing it have
    n_zero_registers to compute m*ln(m/V) themselves)."""
    m = 1 << m_log2
    alpha = 0.7213 / (1.0 + 1.079 / m)
    touched = registers.agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), {_HLL_BITS + 1} - rho)"
            )
        ).alias("__s_touched"),
        F.count("*").alias("__n_touched"),
    )
    top = 1 << (_HLL_BITS + 1)
    return touched.select(
        (
            F.lit(alpha)
            * F.lit(float(m * m))
            * F.lit(float(top))
            / (
                F.col("__s_touched")
                + (F.lit(m) - F.col("__n_touched")) * F.lit(top)
            )
        ).alias("hll_estimate"),
        (F.lit(m) - F.col("__n_touched")).cast("int").alias(
            "n_zero_registers"
        ),
    )


def hll_grouped_registers(
    df: DataFrame,
    group_col: str,
    key_col: str,
    m_log2: int = 6,
    seed: int = 19,
) -> DataFrame:
    """(group, idx, rho): one HLL register table PER GROUP — the
    grouped form of :func:`hll_registers` (distinct-per-key rollups:
    users per day, tokens per language).  Still ONE map-side-combined
    groupBy; the state is at most 2^m_log2 rows per group, so a
    million-group rollup shuffles a bounded multiple of the group
    count, never the input.  Merge across tables/days with
    register-wise max keyed by (group, idx)."""
    m = 1 << m_log2
    rho = F.when(
        F.col("__w") > 0,
        F.lit(_HLL_BITS) - F.length(F.expr("bin(__w)")) + F.lit(1),
    ).otherwise(F.lit(_HLL_BITS + 1))
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            _hll_mix(F.col(key_col).cast("long"), seed).alias("__v"),
        )
        .select(
            "grp",
            F.pmod(F.col("__v"), F.lit(m)).cast("int").alias("idx"),
            F.expr(f"__v div {m}").alias("__w"),
        )
        .select("grp", "idx", rho.cast("int").alias("rho"))
        .groupBy("grp", "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_grouped_estimate(
    registers: DataFrame, m_log2: int = 6
) -> DataFrame:
    """(grp, hll_estimate, n_zero_registers) from a grouped register
    table — the per-group fold of :func:`hll_estimate`, same exact-
    BIGINT register sum and single-IEEE-expression estimate."""
    m = 1 << m_log2
    alpha = 0.7213 / (1.0 + 1.079 / m)
    top = 1 << (_HLL_BITS + 1)
    touched = registers.groupBy("grp").agg(
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), {_HLL_BITS + 1} - rho)"
            )
        ).alias("__s_touched"),
        F.count("*").alias("__n_touched"),
    )
    return touched.select(
        "grp",
        (
            F.lit(alpha)
            * F.lit(float(m * m))
            * F.lit(float(top))
            / (
                F.col("__s_touched")
                + (F.lit(m) - F.col("__n_touched")) * F.lit(top)
            )
        ).alias("hll_estimate"),
        (F.lit(m) - F.col("__n_touched")).cast("int").alias(
            "n_zero_registers"
        ),
    )


def cms_join_size(cells_a: DataFrame, cells_b: DataFrame) -> DataFrame:
    """1-row (join_size_estimate) — the CMS inner-product estimate of
    |A ⋈ B| on the sketched key (Cormode-Muthukrishnan §4.2): for each
    depth row r, sum_c A[r,c]*B[r,c] OVERESTIMATES the true join size
    (every colliding key pair adds nonnegative mass), so the min over
    rows is an upper bound that concentrates near the truth — the
    classic cardinality estimate a planner consults before committing
    to a join strategy, computable from two constant-size sketches
    without touching either input again.

    Both sketches must share (width, depth, seed).  Cost: one join of
    two <= depth*width-row tables + a depth-row aggregate — O(1) in
    input size, mergeable inputs (cell-wise sums) make it work across
    partitions/days.  Deterministic like every sketch here: the
    estimate hash-checks against a SQL replay."""
    a = cells_a.select("r", "c", F.col("cnt").alias("__a"))
    b = cells_b.select("r", "c", F.col("cnt").alias("__b"))
    per_row = (
        a.join(b, ["r", "c"])
        .groupBy("r")
        .agg(F.sum(F.col("__a") * F.col("__b")).alias("__dot"))
    )
    return per_row.agg(
        F.min("__dot").cast("long").alias("join_size_estimate")
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    grid: int = 64,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Mergeable fixed-grid histogram quantiles: bucket = floor(value *
    grid), one count per occupied bucket, quantile(q) = the lower edge
    of the first bucket whose cumulative count reaches ceil(q * n).

    This is the quantile member of the portable-sketch family
    (CMS / HLL / Bloom here): per group the state is O(occupied
    buckets) exact counts — associative under addition, so shards /
    days / sources merge by summing bucket rows, unlike
    percentile_approx's GK state which is neither portable nor
    SQL-mirrorable.  Rank error is zero (the count table is exact);
    VALUE error is bounded by the grid pitch 1/grid.  floor(double *
    int) is bit-identical cross-engine, so the whole estimator
    oracle-pairs exactly.

    Scale shape: one map-side-combined groupBy to the bucket table
    (|groups| x |occupied buckets| rows — thousands, not rows), a
    per-group running sum over that tiny table, one row per group out.
    """
    g = F.col(group_col) if group_col else F.lit("all")
    buckets = (
        df.select(
            g.alias("grp"),
            F.floor(F.col(value_col) * grid).cast("long").alias("bucket"),
        )
        .groupBy("grp", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = buckets.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(Window.partitionBy("grp"))
    )
    aggs = [F.sum("cnt").cast("long").alias("n")]
    for q in qs:
        tag = f"p{int(round(q * 100))}"
        aggs.append(
            (
                F.min(
                    F.when(
                        F.col("cum") >= F.ceil(F.col("total") * q),
                        F.col("bucket"),
                    )
                ).cast("double")
                / grid
            ).alias(f"{tag}_est")
        )
    return cum.groupBy("grp").agg(*aggs).orderBy("grp")


# -- KMV (k-minimum-values / bottom-k) distinct sketch (round 9) --------------
#
# The one distinct sketch that supports SET INTERSECTION natively:
# HLL unions for free but can only reach an intersection through
# inclusion-exclusion (error explodes for small overlaps); a bottom-k
# signature is a uniform sample of the union, so the fraction of the
# merged bottom-k present in both sides is an unbiased Jaccard
# estimator (Beyer et al., SIGMOD'07; Broder's min-wise hashing).
# Memory is O(k) per group regardless of input size; two sketches
# merge by union + re-truncate, so per-partition / per-day sketches
# roll up without rescanning raw data.
#
# Determinism: the hash is the md5-prefix integer used repo-wide
# (exact integer; same value both engines); bottom-k is a row_number
# over (h ASC) on DISTINCT hashes — ties impossible within a group.


def kmv_hash(value: Column) -> Column:
    """Uniform 32-bit integer hash of a value: md5-prefix, the
    cross-engine-portable form (DuckDB: ('0x'||substr(md5(x),1,8))
    ::BIGINT)."""
    return F.conv(
        F.substring(F.md5(value.cast("string")), 1, 8), 16, 10
    ).cast("long")


def kmv_sketch(
    df: DataFrame, group: str, value: Column, k: int
) -> DataFrame:
    """Per-``group`` bottom-k sketch: the k smallest distinct hash
    values of ``value``.  One distinct pass + a per-group window on
    (h ASC); the sketch table is O(groups x k)."""
    from pyspark.sql import Window

    h = (
        df.select(F.col(group).alias("g"), kmv_hash(value).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("g").orderBy("h")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_pair_stats(sketch: DataFrame, k: int) -> DataFrame:
    """Pairwise union / intersection / Jaccard estimates from the
    merged bottom-k of every group pair (g_a < g_b).

    The merged sketch\'s bottom-k is a uniform sample of the union;
    the fraction of it present in BOTH sides estimates Jaccard
    (matches / sample size), and the union size is exact while the
    merged sketch is not full, else (k-1) * 2^32 / tau with tau the
    k-th smallest hash.  Runs entirely on the
    O(groups x k) sketch table — the fact table is never rescanned;
    merging two sketches is union + re-truncate (the mergeability
    contract)."""
    from pyspark.sql import Window

    gs = sketch.select("g").distinct()
    pairs = (
        gs.select(F.col("g").alias("ga"))
        .join(
            gs.select(F.col("g").alias("gb")),
            F.col("ga") < F.col("gb"),
        )
    )
    left = pairs.join(
        sketch.select(F.col("g").alias("ga"), "h"), "ga"
    ).select("ga", "gb", "h", F.lit(1).alias("in_a"),
             F.lit(0).alias("in_b"))
    right = pairs.join(
        sketch.select(F.col("g").alias("gb"), "h"), "gb"
    ).select("ga", "gb", "h", F.lit(0).alias("in_a"),
             F.lit(1).alias("in_b"))
    merged = (
        left.unionByName(right)
        .groupBy("ga", "gb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("ga", "gb").orderBy("h")
    bottom = merged.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )
    stats = bottom.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("n_bottom"),
        F.max("h").alias("tau"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("matches"),
    )
    return stats.select(
        "ga",
        "gb",
        F.col("n_bottom").cast("long").alias("n_bottom"),
        F.col("matches").cast("long").alias("matches"),
        F.when(
            F.col("n_bottom") < k, F.col("n_bottom").cast("double")
        )
        .otherwise(
            F.lit(float(k - 1))
            * F.lit(4294967296.0)
            / F.col("tau").cast("double")
        )
        .alias("est_union"),
        (
            F.col("matches").cast("double") / F.col("n_bottom")
        ).alias("est_jaccard"),
    )


def misra_gries_candidates(
    items: DataFrame, col: str, k: int
) -> DataFrame:
    """Misra-Gries candidate pass for phi-heavy-hitter detection over a
    stream whose VOCABULARY is unbounded (n-gram shingles, URLs, user
    agents) — the case where a plain groupBy's hash-agg state is
    itself corpus-sized.

    Per Arrow batch, at most ``k`` counters are kept (the classical
    decrement-all-when-full summary).  The MG guarantee — an item
    absent from a batch summary has batch count <= n_batch/k — unions
    across batches: an item absent from EVERY summary has total count
    <= N/k.  Contrapositive: every item with count > N/k survives in
    at least one batch summary, so the DISTINCT union of summary keys
    is a covering candidate set of bounded size (batches x k) with no
    ordering sensitivity that can reach the final answer: callers
    exact-recount candidates in a second pass and threshold strictly,
    so MG's order-dependent counts never surface — only its
    no-false-negative key guarantee does (the standard 2-pass exact
    heavy-hitters layout; cf. Agarwal et al., "Mergeable Summaries",
    PODS 2012).

    Python appears only here, Arrow-batched with O(k) state; both
    counting passes stay JVM-side.
    """
    import pandas as pd

    def mg(batches):
        for pdf in batches:
            counters: dict[str, int] = {}
            for tok in pdf[col]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k:
                    counters[tok] = 1
                else:
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
            yield pd.DataFrame({col: list(counters.keys())})

    return items.mapInPandas(mg, schema=f"{col} string").distinct()
