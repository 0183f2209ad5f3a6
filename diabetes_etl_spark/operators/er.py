"""Entity resolution: blocked fuzzy-match candidate pairs over a name
column — the record-linkage slice of data curation (supplier/customer
master-data dedup, catalog matching).

Shape (100 TB lens): NEVER all-pairs.  Records explode into blocking
keys (cheap derived attributes: a token, a prefix, a phonetic code);
candidate pairs are generated only WITHIN a block
(operators/util.py:bounded_bucket_pairs); the edit distance evaluates
on the pair rows only.  Cost is sum-over-blocks(pairs), controlled by
blocking-key selectivity — the standard ER blocking trade (recall
lost only across blocks, measured by the block-coverage stat).

Within a block the default is UNCAPPED all-pairs (cap=None): ER
recall inside a block must be exact — the head+star bound the LSH
dedup family uses would silently drop tail-tail candidate pairs in a
block past the cap, which for near-dup clustering is harmless (star
edges preserve connectivity through the verifier) but for ER is a
recall loss with no verifier to recover it.  The block size is the
caller's contract: pick blocking keys selective enough that the
largest block's pair count is acceptable, or pass an explicit ``cap``
to trade recall for a hard per-block bound on degenerate keys.

Everything is native (`levenshtein`, string expressions) — no UDF; the
distance evaluates post-join inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.util import bounded_bucket_pairs


def blocked_match_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_col: Column,
    max_distance: int = 2,
    cap: int | None = None,
) -> DataFrame:
    """Canonical (id_a < id_b) candidate pairs sharing a blocking key
    whose names are within ``max_distance`` Levenshtein edits.
    ``cap=None`` (default) enumerates every within-block pair — see
    module docstring for the recall rationale.

    Output columns: id_a, id_b, name_a, name_b, distance."""
    base = df.select(
        F.col(id_col).alias("_eid"),
        F.col(name_col).alias("_ename"),
        block_col.alias("block"),
    )
    pairs = bounded_bucket_pairs(
        base.select("block", "_eid"), keys=["block"], id_col="_eid", cap=cap
    )
    a = base.select(
        F.col("_eid").alias("id_a"), F.col("_ename").alias("name_a"),
        F.col("block").alias("block"),
    )
    b = base.select(
        F.col("_eid").alias("id_b"), F.col("_ename").alias("name_b"),
        F.col("block").alias("_block_b"),
    )
    # re-attach names (ids only travelled through pair generation),
    # then evaluate the distance on candidate rows only
    pa, pb = pairs.columns[0], pairs.columns[1]
    cand = (
        pairs.withColumnRenamed(pa, "id_a")
        .withColumnRenamed(pb, "id_b")
        .join(a.drop("block"), "id_a")
        .join(b.drop("_block_b"), "id_b")
        .withColumn("distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("distance") <= max_distance)
    )
    return cand.select("id_a", "id_b", "name_a", "name_b", "distance")


def golden_records(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str,
    survivorship: list[Column],
    id_a: str = "id_a",
    id_b: str = "id_b",
    work_dir: str | None = None,
) -> DataFrame:
    """Survivorship: collapse ER match pairs into clusters and elect
    ONE golden record per cluster — the master-data-management step
    after :func:`blocked_match_pairs` (match → cluster → survive).

    ``survivorship`` is the business rule as an ordering (e.g.
    ``[F.col("updated_at").desc(), F.col("completeness").desc()]``);
    the first row per cluster under that order survives.  ``id_col``
    ASC is always appended, so election is total and deterministic
    even when the rule ties.

    Scale shape (100 TB lens): clustering reuses the iterative
    connected-components operator (per-round parquet commits, restart
    resume, auto star-switch for the long-chain pair graphs ER blocks
    produce — sequential ids matching their neighbours chain, they do
    not form cliques).  The election itself is ONE window over the
    records partitioned by cluster — a single shuffle on the cluster
    label; match-pair volume never touches it.  Records with no match
    pair are their own cluster (singleton pass-through, label = own
    id), so the output covers the full input.

    Output: every input column + ``cluster_id`` (minimum member id,
    the components label), ``cluster_size``, ``is_golden``.  Filter
    ``is_golden`` for the deduplicated master table.

    Reserved names (round-7 ADVICE): the output columns
    ``cluster_id`` / ``cluster_size`` / ``is_golden`` and the
    internal scratch columns ``__gid`` / ``__comp`` / ``__rn`` must
    not already exist on ``records`` — a collision would silently
    clobber the caller's column or raise an ambiguous-reference error
    deep in the plan, so it is rejected loudly here instead.
    """
    from pyspark.sql.window import Window

    from diabetes_etl_spark.operators.components import (
        connected_components,
    )

    reserved = {
        "cluster_id", "cluster_size", "is_golden", "__gid", "__comp", "__rn"
    }
    clash = sorted(reserved.intersection(records.columns))
    if clash:
        raise ValueError(
            f"golden_records: input columns {clash} collide with "
            f"reserved output/internal names {sorted(reserved)}; "
            "rename them before calling"
        )

    comp = connected_components(
        pairs.select(id_a, id_b), id_a, id_b, work_dir=work_dir
    )
    labeled = records.join(
        comp.select(
            F.col("id").alias("__gid"),
            F.col("component").alias("__comp"),
        ),
        records[id_col] == F.col("__gid"),
        "left",
    ).select(
        *records.columns,
        F.coalesce(F.col("__comp"), records[id_col]).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        *survivorship, F.col(id_col).asc()
    )
    return (
        labeled.withColumn(
            "cluster_size",
            F.count("*").over(Window.partitionBy("cluster_id")),
        )
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("is_golden", F.col("__rn") == 1)
        .drop("__rn")
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 1,
    q: int = 3,
) -> DataFrame:
    """LOSSLESS bounded edit-distance self-join (levenshtein <=
    ``max_dist``) via positional-q-gram prefix filtering (the
    Gravano et al. VLDB'01 / Ed-Join family, re-expressed as DataFrame
    ops) — the string-similarity primitive under fuzzy entity
    matching, without ever forming the cross product.

    How: ``max_dist`` edits can destroy at most ``max_dist * q`` of a
    string's overlapping q-grams, so any pair within distance shares a
    q-gram among each side's ``max_dist * q + 1`` RAREST q-grams
    (global document frequency asc, gram asc — the
    ``prefix_filter_jaccard_pairs`` ordering trick, so the
    "Customer#"-style ubiquitous grams never key the join).  A length
    co-filter (|len_a − len_b| <= max_dist — one edit changes length
    by at most one) prunes in the join; ``F.levenshtein`` verifies
    exactly, so the output has zero false positives and the prefix
    lemma guarantees zero false negatives for strings long enough to
    own ``max_dist*q + 1`` q-grams.

    SHORT strings (fewer than ``max_dist*q + 1`` q-grams, i.e.
    ``len < (max_dist + 1) * q``) cannot rely on the lemma; they take
    a length-band candidate path against every string within
    ``max_dist`` of their length (correct; quadratic only in the
    short-string population, which is negligible in real name/title
    corpora — documented contract).

    Scale shape: gram df is one vocabulary-sized map-side-combined
    aggregate; the rarity sort is per-string (bounded length); the
    candidate join keys on RARE grams only; verification is one
    levenshtein per candidate.  Output: (id_a, id_b, edit_distance),
    id_a < id_b.
    """
    from diabetes_etl_spark.operators.util import widen

    d = int(max_dist)
    qq = int(q)
    prefix = d * qq + 1
    names = widen(df).select(
        F.col(id_col).alias("__id"), F.col(name_col).alias("__s")
    ).filter(F.col("__s").isNotNull())
    with_len = names.withColumn("__len", F.length("__s"))
    long_side = with_len.filter(F.col("__len") >= (d + 1) * qq)
    grams = long_side.select(
        "__id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.col("__len") - (qq - 1)),
                    lambda i: F.col("__s").substr(i, F.lit(qq)),
                )
            )
        ).alias("g"),
    )
    dfreq = grams.groupBy("g").agg(F.count("*").alias("df"))
    ranked = (
        grams.join(dfreq, "g")
        .groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("g")))
            ).alias("ranked")
        )
        .select(
            "__id",
            F.expr(
                f"transform(slice(ranked, 1, {prefix}), r -> r.g)"
            ).alias("pref"),
        )
    )
    pref = ranked.select("__id", F.explode("pref").alias("g"))
    cand_long = (
        pref.select(F.col("__id").alias("id_a"), "g")
        .join(pref.select(F.col("__id").alias("id_b"), "g"), "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # short-string path: length-band candidates (each string lands in
    # its own and the next band of width max_dist+1, so partners within
    # +-max_dist always co-occur in some band)
    shorts = with_len.filter(F.col("__len") < (d + 1) * qq)
    near_shorts = with_len.filter(
        F.col("__len") < (d + 1) * qq + d
    )
    if d > 0:
        band = lambda c: F.floor(c / F.lit(d + 1))  # noqa: E731
    else:
        band = lambda c: c  # noqa: E731
    banded = lambda src, idc: src.select(  # noqa: E731
        F.col("__id").alias(idc), band(F.col("__len")).alias("band")
    ).unionAll(
        src.select(
            F.col("__id").alias(idc),
            (band(F.col("__len")) + 1).alias("band"),
        )
    )
    cand_short = (
        banded(shorts, "id_a")
        .join(banded(near_shorts, "id_b"), "band")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    cand = cand_long.unionByName(cand_short).distinct()
    sa = names.select(F.col("__id").alias("id_a"), F.col("__s").alias("__sa"))
    sb = names.select(F.col("__id").alias("id_b"), F.col("__s").alias("__sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.abs(F.length("__sa") - F.length("__sb")) <= d
        )
        .withColumn("edit_distance", F.levenshtein("__sa", "__sb"))
        .filter(F.col("edit_distance") <= d)
        .select("id_a", "id_b", "edit_distance")
    )


# -- portable phonetic key (Soundex variant) ---------------------------------
#
# American Soundex with the H/W-removal simplification (H and W are
# deleted before coding, so duplicate consonant codes merge across
# them; a leading H/W still anchors the key letter).  Implemented as
# an IDENTICAL translate + regexp chain on both engines — Spark's
# builtin soundex() is NOT used because its refined-variant edge cases
# would have to be reverse-engineered to mirror in the oracle, and a
# phonetic BLOCKING key only needs determinism, not any one standard's
# exact output.
#
# The letter->digit table (H, W already removed):
_SOUNDEX_LETTERS = "ABCDEFGIJKLMNOPQRSTUVXYZ"
_SOUNDEX_CODES = "012301202245501262301202"


def _soundex_steps(col_sql: str) -> str:
    """The shared SQL chain (valid in both Spark SQL and DuckDB)."""
    s = f"regexp_replace(upper({col_sql}), '[^A-Z]', '')"
    body = f"regexp_replace({s}, '[HW]', '')"
    digits = f"translate({body}, '{_SOUNDEX_LETTERS}', '{_SOUNDEX_CODES}')"
    collapsed = digits
    for d in range(7):  # collapse runs without pattern backreferences
        collapsed = f"regexp_replace({collapsed}, '{d}{d}+', '{d}')"
    tail = (
        f"replace(substr({collapsed}, 2, length({collapsed})), '0', '')"
    )
    return (
        f"CASE WHEN length({s}) = 0 THEN '' "
        f"ELSE substr({s}, 1, 1) || substr({tail} || '000', 1, 3) END"
    )


def soundex_sql(col_sql: str) -> str:
    """The identical chain as an oracle-side SQL string."""
    return _soundex_steps(col_sql)


# -- Jaro-Winkler similarity (round 10) --------------------------------------

_JW_MAX_LEN = 63  # matched-position bitmask lives in one BIGINT


def jaro_winkler_steps(df: DataFrame, s: str, t: str) -> DataFrame:
    """Append ``jw_sim`` — the Jaro-Winkler similarity of string
    columns ``s`` and ``t`` — computed entirely in native Catalyst
    expressions (no UDF): Spark has no jaro/jaro_winkler builtin, so
    this rebuilds the textbook algorithm from sequence folds.

    Convention matches DuckDB's ``jaro_winkler_similarity`` (verified
    against the MARTHA/MARHTA, DIXON/DICKSONX, JELLYFISH/SMELLYFISH
    constants and a boost-threshold discriminator pair): prefix bonus
    weight 0.1 over at most 4 common leading chars, applied ONLY when
    the Jaro score exceeds the classic 0.7 boost threshold.

    Mechanics (one projection per stage so nothing re-evaluates —
    Catalyst does not CSE inside higher-order-function lambdas):

    1. greedy matching: fold i over s's positions carrying a BIGINT
       bitmask of used t positions + the matched-s char string; each
       step takes the SMALLEST unused window position of t holding
       s[i] (the textbook order, which is what makes transposition
       counting well-defined);
    2. matched-t string: fold j over t's positions filtering set mask
       bits;
    3. transpositions = half the positionwise mismatches of the two
       matched strings;
    4. jaro = (c/|s| + c/|t| + (c - tr)/c) / 3 in pinned IEEE order,
       0 when c = 0; winkler bonus per the threshold rule.

    Rows where either side is NULL or longer than 63 chars yield NULL
    (the bitmask bound) — real ER name/title columns sit far under
    it, and the NULL is loud in any downstream threshold filter.
    Per-row cost is O(|s| x window) bit arithmetic inside one
    projection: scan-local, no shuffle, no Python.
    """
    m, n = f"length({s})", f"length({t})"
    w = f"greatest(cast(floor(greatest({m}, {n}) / 2) as int) - 1, 0)"
    ch_s = f"substring({s}, i + 1, 1)"
    cand = (
        f"try_element_at(filter("
        f"sequence(greatest(0, i - __w), least({n} - 1, i + __w)), "
        f"j -> substring({t}, j + 1, 1) = {ch_s} "
        f"and (acc.mask & shiftleft(1L, j)) = 0), 1)"
    )
    # the inner one-element aggregate is a LET-BINDING: it evaluates
    # the candidate search ONCE and binds it to j (Catalyst has no CSE
    # inside HOF lambdas, so naming the subexpression in a mini-fold
    # halves the dominant cost)
    match_fold = (
        f"aggregate(CASE WHEN {m} >= 1 THEN sequence(0, {m} - 1) "
        "ELSE CAST(array() AS ARRAY<INT>) END, "
        "named_struct('mask', 0L, 'sm', ''), "
        f"(acc, i) -> aggregate(array({cand}), acc, "
        f"(a, j) -> if(j IS NULL, a, "
        "named_struct('mask', a.mask | shiftleft(1L, j), "
        f"'sm', concat(a.sm, {ch_s})))))"
    )
    out = (
        df.withColumn("__w", F.expr(w))
        .withColumn("__acc", F.expr(match_fold))
        .withColumn(
            "__tm",
            F.expr(
                f"aggregate(CASE WHEN {n} >= 1 THEN sequence(0, {n} - 1) "
                "ELSE array() END, '', "
                "(a, j) -> if((__acc.mask & shiftleft(1L, j)) <> 0, "
                f"concat(a, substring({t}, j + 1, 1)), a))"
            ),
        )
        .withColumn("__c", F.length(F.col("__acc.sm")))
        .withColumn(
            "__tr",
            F.expr(
                "CAST(aggregate(CASE WHEN __c >= 1 THEN sequence(1, __c) "
                "ELSE array() END, 0, "
                "(a, k) -> a + if(substring(__acc.sm, k, 1) <> "
                "substring(__tm, k, 1), 1, 0)) / 2 AS INT)"
            ),
        )
        .withColumn(
            "__jaro",
            F.expr(
                f"if(__c = 0, 0.0D, "
                f"(CAST(__c AS DOUBLE) / {m} + CAST(__c AS DOUBLE) / {n} "
                "+ CAST(__c - __tr AS DOUBLE) / __c) / 3.0D)"
            ),
        )
        .withColumn(
            "__l",
            F.expr(
                f"size(filter(sequence(1, least(4, {m}, {n})), "
                f"k -> substring({s}, 1, k) = substring({t}, 1, k)))"
            ),
        )
        .withColumn(
            "jw_sim",
            F.expr(
                f"CASE WHEN {s} IS NULL OR {t} IS NULL "
                f"OR {m} > {_JW_MAX_LEN} OR {n} > {_JW_MAX_LEN} THEN NULL "
                f"WHEN {m} = 0 OR {n} = 0 THEN 0.0D "
                "WHEN __jaro <= 0.7D THEN __jaro "
                "ELSE __jaro + __l * 0.1D * (1.0D - __jaro) END"
            ),
        )
    )
    return out.drop("__w", "__acc", "__tm", "__c", "__tr", "__jaro", "__l")
