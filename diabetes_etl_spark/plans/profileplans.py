"""Registered column-profiling query (operators/profile.py) over the
``part`` fixture — the ANALYZE-pass shape: every statistic for every
column in ONE scan, then unpivoted to (column, metric) rows.

The DuckDB oracle recomputes each column's statistics independently
(one CTE, one UNION ALL arm per column) with the same decimal-folded
mean, so any drift in null handling, distinct counting, or the
fold-order of the mean shows up as a hash mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.functions.numeric import sql_dec_cast, sql_dec_sum
from diabetes_etl_spark.operators.profile import profile_table
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

_NUMERIC = {"p_partkey", "p_size", "p_retailprice"}
_STRING = {"p_name", "p_brand", "p_type"}
_COLS = ("p_brand", "p_name", "p_partkey", "p_retailprice", "p_size", "p_type")


def _mean_sql(col: str) -> str:
    return sql_dec_cast(
        f"{sql_dec_sum(f'CAST({col} AS DOUBLE)', 6)} / COUNT({col})", 6
    )


def _avglen_sql(col: str) -> str:
    return sql_dec_cast(
        f"{sql_dec_sum(f'CAST(length({col}) AS DOUBLE)', 4)} / COUNT({col})", 4
    )


def _arm(col: str) -> str:
    if col in _NUMERIC:
        mn = f"CAST(MIN({col}) AS DOUBLE)"
        mx = f"CAST(MAX({col}) AS DOUBLE)"
        mean = _mean_sql(col)
    else:
        mn = mx = mean = "CAST(NULL AS DOUBLE)"
    avglen = _avglen_sql(col) if col in _STRING else "CAST(NULL AS DOUBLE)"
    return f"""
  SELECT '{col}' AS "column", COUNT(*) AS n_rows,
    CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_nulls,
    COUNT(DISTINCT {col}) AS n_distinct,
    {mn} AS min_value, {mx} AS max_value, {mean} AS mean_value,
    {avglen} AS avg_length
  FROM part"""


_PROFILE_ORACLE = "\nUNION ALL".join(_arm(c) for c in _COLS) + '\nORDER BY "column"'


@register(
    "profile_part_columns",
    oracle=_PROFILE_ORACLE,
    doc="Column profile of the part table: null counts, exact distinct "
    "cardinality, numeric min/max/decimal-folded mean, string average "
    "length — ALL columns in one aggregate pass over one scan "
    "(operators/profile.py; the oracle recomputes per column).  The "
    "approx=True variant swaps exact distincts for HLL sketches — the "
    "100 TB profile, where per-column exact-distinct shuffles are the "
    "dominant cost.",
    tags=("profile", "agg", "stats", "extension"),
    extended=True,
)
def profile_part_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_table(load_table(spark, sf_dir, "part"))


# -- portable HyperLogLog distinct-count estimate ---------------------------

_HLL_SEED = 19
_HLL_M = 64
_HLL_TOP = 1 << 25  # 2^(B+1), B = 24 rho bits
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)


def _hll_oracle() -> str:
    from diabetes_etl_spark.operators.sampling import _MIX_A, _MIX_C, _MOD

    return f"""
WITH keyed AS (
  SELECT ((((user_id + {_HLL_SEED}) % {_MOD}) * ((user_id + {_HLL_SEED}) % {_MOD}))
          % {_MOD} * {_MIX_A}
          + ((user_id + {_HLL_SEED}) % {_MOD}) * {_MIX_C}) % {_MOD} AS v
  FROM events WHERE user_id IS NOT NULL
),
regs AS (
  SELECT v % {_HLL_M} AS idx,
    MAX(CASE WHEN v // {_HLL_M} > 0
             THEN 24 - length(bin(v // {_HLL_M})) + 1
             ELSE 25 END) AS rho
  FROM keyed GROUP BY v % {_HLL_M}
),
agg AS (
  SELECT CAST(SUM(CAST(1 AS BIGINT) << (25 - rho)) AS BIGINT) AS st,
         COUNT(*) AS nt
  FROM regs
)
SELECT
  CAST({_HLL_ALPHA!r} AS DOUBLE) * CAST({float(_HLL_M * _HLL_M)!r} AS DOUBLE)
    * CAST({float(_HLL_TOP)!r} AS DOUBLE)
    / (st + ({_HLL_M} - nt) * {_HLL_TOP}) AS hll_estimate,
  CAST({_HLL_M} - nt AS INT) AS n_zero_registers,
  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
    AS exact_distinct
FROM agg
"""


@register(
    "profile_hll_distinct_users",
    oracle=_hll_oracle(),
    doc="Portable HyperLogLog distinct-user estimate "
    "(operators/sketch.py:hll_registers/hll_estimate) next to the "
    "exact count: registers derive from the portable LCG mix with "
    "integer-only rho (div + bin() length), the register sum folds as "
    "an exact BIGINT of shifted powers, and the estimate is one IEEE "
    "expression over exact integers — an APPROXIMATE cardinality "
    "whose registers AND estimate hash-match a DuckDB replay "
    "(native approx_count_distinct is engine-specific and cannot).  "
    "Mergeable by register-wise max; constant shuffle like the CMS.",
    tags=("profile", "sketch", "approximate", "extension"),
    extended=True,
)
def profile_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    est = hll_estimate(
        hll_registers(ev, "user_id", m_log2=6, seed=_HLL_SEED), m_log2=6
    )
    exact = ev.agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.crossJoin(F.broadcast(exact))


def _hll_grouped_oracle() -> str:
    from diabetes_etl_spark.operators.sampling import _MIX_A, _MIX_C, _MOD

    return f"""
WITH keyed AS (
  SELECT event_type,
    ((((user_id + {_HLL_SEED}) % {_MOD}) * ((user_id + {_HLL_SEED}) % {_MOD}))
     % {_MOD} * {_MIX_A}
     + ((user_id + {_HLL_SEED}) % {_MOD}) * {_MIX_C}) % {_MOD} AS v
  FROM events WHERE user_id IS NOT NULL
),
regs AS (
  SELECT event_type, v % {_HLL_M} AS idx,
    MAX(CASE WHEN v // {_HLL_M} > 0
             THEN 24 - length(bin(v // {_HLL_M})) + 1
             ELSE 25 END) AS rho
  FROM keyed GROUP BY event_type, v % {_HLL_M}
),
agg AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << (25 - rho)) AS BIGINT) AS st,
         COUNT(*) AS nt
  FROM regs GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events WHERE user_id IS NOT NULL GROUP BY event_type
)
SELECT a.event_type,
  CAST({_HLL_ALPHA!r} AS DOUBLE) * CAST({float(_HLL_M * _HLL_M)!r} AS DOUBLE)
    * CAST({float(_HLL_TOP)!r} AS DOUBLE)
    / (st + ({_HLL_M} - nt) * {_HLL_TOP}) AS hll_estimate,
  CAST({_HLL_M} - nt AS INT) AS n_zero_registers,
  e.exact_distinct
FROM agg a JOIN exact e USING (event_type)
ORDER BY a.event_type
"""


@register(
    "profile_hll_by_event_type",
    oracle=_hll_grouped_oracle(),
    doc="GROUPED portable HyperLogLog (operators/sketch.py:"
    "hll_grouped_registers): one register table per event_type in a "
    "single map-side-combined aggregate — distinct-per-key rollups "
    "(users per day, tokens per language) whose state is bounded at "
    "2^m rows PER GROUP regardless of input size, mergeable by "
    "(group, idx) register max.  Estimates AND registers replay "
    "bit-identically in DuckDB, next to the exact per-group counts.",
    tags=("profile", "sketch", "approximate", "extension"),
    extended=True,
)
def profile_hll_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.sketch import (
        hll_grouped_estimate,
        hll_grouped_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    est = hll_grouped_estimate(
        hll_grouped_registers(
            ev, "event_type", "user_id", m_log2=6, seed=_HLL_SEED
        ),
        m_log2=6,
    )
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy(F.col("event_type").alias("grp"))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return (
        est.join(exact, "grp")
        .select(
            F.col("grp").alias("event_type"),
            "hll_estimate",
            "n_zero_registers",
            "exact_distinct",
        )
        .orderBy("event_type")
    )


# -- CMS join-size estimation (operators/sketch.py, round-7) ----------------

_JS_W, _JS_D, _JS_SEED = 8192, 4, 7


def _js_fp(expr: str) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(CAST({expr} AS VARCHAR), ''), "
        "ch -> CAST(ascii(ch) AS BIGINT))), "
        "(acc, x) -> (acc * 131 + x) % 1000000007)"
    )


def _js_cells(table: str, key: str) -> str:
    # the CMS oracle column replay at this query's (w, d, seed)
    from diabetes_etl_spark.plans.textplans import _cms_sql_col

    col = _cms_sql_col("f", "j", width=_JS_W, depth=_JS_D, seed=_JS_SEED)
    return f"""
  SELECT j AS r, c, COUNT(*) AS cnt FROM (
    SELECT {col} AS c, j FROM (
      SELECT {_js_fp(key)} AS f FROM {table}
    ) CROSS JOIN (SELECT unnest(generate_series(0, {_JS_D - 1})) AS j) js
  ) GROUP BY j, c"""


@register(
    "profile_join_size_estimate",
    oracle=f"""
WITH ca AS ({_js_cells("orders", "o_orderkey")}),
cb AS ({_js_cells("lineitem", "l_orderkey")}),
dots AS (
  SELECT ca.r, SUM(ca.cnt * cb.cnt) AS dot
  FROM ca JOIN cb ON ca.r = cb.r AND ca.c = cb.c
  GROUP BY ca.r
),
est AS (SELECT CAST(MIN(dot) AS BIGINT) AS join_size_estimate FROM dots)
SELECT est.join_size_estimate,
  (SELECT CAST(COUNT(*) AS BIGINT)
   FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
    AS exact_join_size
FROM est
""",
    doc="Join-cardinality estimation from two count-min sketches "
    "(operators/sketch.py:cms_join_size — the Cormode-Muthukrishnan "
    "inner product): per depth row, sum_c A[r,c]*B[r,c] upper-bounds "
    "|orders ⋈ lineitem| and the min over rows concentrates near the "
    "truth — the estimate a planner consults BEFORE committing to a "
    "join strategy, computed from constant-size mergeable state "
    "without rescanning either table.  Exact join size alongside; "
    "both the APPROXIMATE estimate and the truth hash-match the "
    "DuckDB replay.",
    tags=("profile", "sketch", "join", "approximate", "extension"),
    extended=True,
)
def profile_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.sketch import cms_cells, cms_join_size

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    est = cms_join_size(
        cms_cells(orders, "o_orderkey", _JS_W, _JS_D, _JS_SEED),
        cms_cells(li, "l_orderkey", _JS_W, _JS_D, _JS_SEED),
    )
    exact = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count("*").alias("exact_join_size"))
    )
    return est.crossJoin(F.broadcast(exact))


# -- per-source corpus card --------------------------------------------------

_CC_ORACLE = r"""
WITH base AS (
  SELECT doc_id, source, lang,
         regexp_split_to_array(trim(text), '\s+') AS t,
         md5(text) AS th
  FROM documents
),
dup AS (SELECT th FROM base GROUP BY th HAVING count(*) >= 2),
per_doc AS (
  SELECT b.doc_id, b.source, b.lang, len(b.t) AS n_tokens,
         ROUND(
             0.4 * least(len(b.t) / CAST(100 AS DOUBLE), 1.0)
           + 0.3 * least(length(regexp_extract_all(lower(
               array_to_string(b.t, ' ')), '\b(the|and|of|to|is|in)\b'))
               / CAST(10 AS DOUBLE), 1.0)
           + 0.3 * (CAST(len(list_distinct(b.t)) AS DOUBLE) / len(b.t)),
         6) AS q,
         (b.th IN (SELECT th FROM dup)) AS is_dup
  FROM base b
),
lang_counts AS (
  SELECT source, lang, count(*) AS nl FROM per_doc GROUP BY source, lang
),
lang_tot AS (SELECT source, sum(nl) AS nt FROM lang_counts GROUP BY source),
entropy AS (
  SELECT c.source,
         CAST(SUM(CAST(
           round(-(CAST(c.nl AS DOUBLE) / t.nt)
                 * ln(CAST(c.nl AS DOUBLE) / t.nt), 9)
         AS DECIMAL(38,12))) AS DOUBLE) AS lang_entropy
  FROM lang_counts c JOIN lang_tot t ON c.source = t.source
  GROUP BY c.source
)
SELECT p.source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(p.n_tokens) AS BIGINT) AS total_tokens,
  CAST(SUM(CAST(p.q AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_quality,
  CAST(sum(CASE WHEN p.is_dup THEN 1 ELSE 0 END) AS BIGINT)
    AS n_exact_dup_docs,
  round(e.lang_entropy, 6) AS lang_entropy
FROM per_doc p JOIN entropy e ON p.source = e.source
GROUP BY p.source, e.lang_entropy
ORDER BY p.source
"""


@register(
    "corpus_card_by_source",
    oracle=_CC_ORACLE,
    doc="Per-source CORPUS CARD: the one-page provenance scorecard a "
    "curation pipeline publishes per ingest source — doc/token "
    "volume, decimal-pinned mean quality score, exact-duplicate "
    "exposure (docs whose md5 appears >= 2x corpus-wide), and "
    "language-mix Shannon entropy (each -p ln p term quantized to 9 "
    "decimals, folded through DECIMAL(38,12) — the portable-ln "
    "discipline).  Composes the gated text/dedup primitives into the "
    "artifact data buyers actually read.  Scale shape: one corpus "
    "scan for per-doc features + one (md5, count) hash aggregate; "
    "everything else aggregates source- or (source, lang)-sized "
    "tables.",
    tags=("profile", "corpus-card", "extension"),
    extended=True,
)
def corpus_card_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.functions.numeric import dec_sum
    from diabetes_etl_spark.operators import text as TX

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", "lang",
        TX.token_count(F.col("text")).cast("long").alias("n_tokens"),
        TX.quality_score(F.col("text")).alias("q"),
        F.md5(F.col("text").cast("binary")).alias("th"),
    )
    dup = (
        base.groupBy("th")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("th")
    )
    per_doc = base.join(
        dup.withColumn("__isdup", F.lit(True)), "th", "left"
    ).withColumn("is_dup", F.coalesce(F.col("__isdup"), F.lit(False)))
    lang_counts = per_doc.groupBy("source", "lang").agg(
        F.count("*").alias("nl")
    )
    lang_tot = lang_counts.groupBy("source").agg(F.sum("nl").alias("nt"))
    p = F.col("nl").cast("double") / F.col("nt").cast("double")
    entropy = (
        lang_counts.join(lang_tot, "source")
        .select("source", F.round(-p * F.log(p), 9).alias("__term"))
        .groupBy("source")
        .agg(dec_sum(F.col("__term"), 12, 38).alias("lang_entropy"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (
                F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("avg_quality"),
            F.sum(F.col("is_dup").cast("int"))
            .cast("long")
            .alias("n_exact_dup_docs"),
        )
        .join(entropy, "source")
        .select(
            "source", "n_docs", "total_tokens", "avg_quality",
            "n_exact_dup_docs",
            F.round("lang_entropy", 6).alias("lang_entropy"),
        )
        .orderBy("source")
    )


_QH_GRID = 64


def _qh_arm(q: float, tag: str) -> str:
    return (
        f"CAST(MIN(CASE WHEN cum >= ceil(total * CAST({q} AS DOUBLE)) "
        f"THEN bucket END) AS DOUBLE) / {_QH_GRID} AS {tag}_est"
    )


_QH_ORACLE = f"""
WITH b AS (
  SELECT event_type AS grp,
    CAST(floor(value * {_QH_GRID}) AS BIGINT) AS bucket,
    COUNT(*) AS cnt
  FROM events GROUP BY grp, bucket
), c AS (
  SELECT grp, bucket, cnt,
    SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(cnt) OVER (PARTITION BY grp) AS total
  FROM b
)
SELECT grp AS event_type, CAST(SUM(cnt) AS BIGINT) AS n,
  {_qh_arm(0.5, "p50")},
  {_qh_arm(0.9, "p90")},
  {_qh_arm(0.99, "p99")}
FROM c GROUP BY grp ORDER BY event_type
"""


@register(
    "quantile_histogram_by_type",
    oracle=_QH_ORACLE,
    doc="Mergeable fixed-grid histogram quantiles of event value per "
    "event type (operators/sketch.py:histogram_quantiles) — the "
    "quantile member of the portable-sketch family: per group the "
    "state is exact counts over floor(value*64) buckets, associative "
    "under addition (shards/days merge by summing bucket rows), value "
    "error bounded by the 1/64 pitch, zero rank error.  One map-side-"
    "combined groupBy to a thousands-row bucket table, a running sum "
    "over THAT, one row per group; the estimator (incl. the double "
    "ceil(total*q) rank cut) is mirrored bit-exactly.",
    tags=("profile", "sketch", "quantile", "extension"),
    extended=True,
)
def quantile_histogram_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sketch import histogram_quantiles

    ev = load_table(spark, sf_dir, "events")
    return histogram_quantiles(
        ev, "value", "event_type", grid=_QH_GRID
    ).withColumnRenamed("grp", "event_type")


# -- physical-encoding advisor -------------------------------------------------


def _enc_ctes(name: str, expr: str, kind: str) -> str:
    d_expr = (
        "abs(v - lag(v) OVER (ORDER BY k1, k2))"
        if kind == "int" else "CAST(NULL AS BIGINT)"
    )
    return f"""
base_{name} AS (
  SELECT {expr} AS v, l_orderkey AS k1, l_linenumber AS k2 FROM lineitem
),
seq_{name} AS (
  SELECT k1, k2, v,
    CASE WHEN lag(v) OVER (ORDER BY k1, k2) IS NULL
           OR v != lag(v) OVER (ORDER BY k1, k2) THEN 1 ELSE 0 END AS chg,
    {d_expr} AS d
  FROM base_{name}
),
rid_{name} AS (
  SELECT v, d, SUM(chg) OVER (ORDER BY k1, k2
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM seq_{name}
),
rst_{name} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_runs,
    CAST(MAX(rl) AS BIGINT) AS max_run
  FROM (SELECT COUNT(*) AS rl FROM rid_{name} GROUP BY run)
),
cst_{name} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
    CAST(MAX(d) AS BIGINT) AS dmax,
    {"CAST(greatest(length(bin(greatest(MAX(v), 0))), 1) AS BIGINT)"
     if kind == "int"
     else "CAST(MAX(length(v)) * 8 AS BIGINT)"} AS value_bits,
    {"CAST(COUNT(*) * 64 AS BIGINT)"
     if kind == "int"
     else "CAST(SUM(length(v)) * 8 AS BIGINT)"} AS plain_cost
  FROM rid_{name}
),
enc_{name} AS (
  SELECT '{name}' AS column, n_rows, n_distinct, n_runs, max_run,
    value_bits,
    n_runs * (value_bits + 32) AS rle_cost,
    n_rows * CAST(greatest(length(bin(n_distinct)), 1) AS BIGINT)
      + n_distinct * 64 AS dict_cost,
    {"n_rows * (CAST(greatest(length(bin(greatest(dmax, 0))), 1) AS BIGINT) + 1)"
     if kind == "int" else "CAST(NULL AS BIGINT)"} AS delta_cost,
    plain_cost
  FROM cst_{name} CROSS JOIN rst_{name}
)"""


_ENC_COLS = [
    ("l_orderkey", "CAST(l_orderkey AS BIGINT)", "int"),
    ("l_linenumber", "CAST(l_linenumber AS BIGINT)", "int"),
    ("l_quantity", "CAST(l_quantity AS BIGINT)", "int"),
    ("l_returnflag", "CAST(l_returnflag AS VARCHAR)", "str"),
]

_ENC_ORACLE = (
    "WITH "
    + ",".join(_enc_ctes(n, e, k) for n, e, k in _ENC_COLS)
    + "\nSELECT *,\n"
    + """  CASE
    WHEN rle_cost <= dict_cost
         AND (delta_cost IS NULL OR rle_cost <= delta_cost)
         AND rle_cost <= plain_cost THEN 'RLE'
    WHEN (delta_cost IS NULL OR dict_cost <= delta_cost)
         AND dict_cost <= plain_cost THEN 'DICT'
    WHEN delta_cost IS NOT NULL AND delta_cost <= plain_cost
      THEN 'DELTA'
    ELSE 'PLAIN' END AS recommended
FROM ("""
    + " UNION ALL ".join(f"SELECT * FROM enc_{n}" for n, _, _ in _ENC_COLS)
    + ")"
)


@register(
    "profile_encoding_advisor",
    oracle=_ENC_ORACLE,
    doc="Physical-encoding advisor (Abadi et al. 2006 shape): per "
    "column, run statistics under the table's LOGICAL key order "
    "(natural scan order is engine-dependent, so runs are defined "
    "against (l_orderkey, l_linenumber)), exact bit widths via "
    "length(bin(x)), and an all-integer cost model ranking "
    "RLE / DICT / DELTA / PLAIN — the first question of every "
    "100 TB layout decision, deterministic enough to hash-check "
    "(operators/profile.py:encoding_profile).  At scale this runs "
    "on a sample; the one sort per column is the advisor's real "
    "cost and a range-sorted table gets it free.",
    tags=("profile", "storage", "extension"),
    extended=True,
)
def profile_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.profile import encoding_profile

    li = load_table(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_linenumber"]
    parts = [
        encoding_profile(li, keys, "l_orderkey", "int"),
        encoding_profile(li, keys, "l_linenumber", "int"),
        encoding_profile(li, keys, "l_quantity", "int"),
        encoding_profile(li, keys, "l_returnflag", "str"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "profile_mutual_information",
    oracle="""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
cxy AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS nxy
  FROM documents GROUP BY lang, source
),
cx AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nx
       FROM documents GROUP BY lang),
cy AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ny
       FROM documents GROUP BY source),
terms AS (
  SELECT cxy.nxy,
    ROUND(ln(CAST(cxy.nxy AS DOUBLE) * n.nn
             / (CAST(cx.nx AS DOUBLE) * cy.ny)), 9) AS lq
  FROM cxy JOIN cx USING (lang) JOIN cy USING (source), n
),
hx AS (
  SELECT SUM(CAST(nx * ROUND(ln(CAST(nx AS DOUBLE) / n.nn), 9)
             AS DECIMAL(38,9))) AS s
  FROM cx, n
),
hy AS (
  SELECT SUM(CAST(ny * ROUND(ln(CAST(ny AS DOUBLE) / n.nn), 9)
             AS DECIMAL(38,9))) AS s
  FROM cy, n
)
SELECT n.nn AS n_rows,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cxy) AS n_cells,
  ROUND(CAST((SELECT SUM(CAST(nxy * lq AS DECIMAL(38,9))) FROM terms)
        AS DOUBLE) / n.nn, 9) AS mi_nats,
  ROUND(-CAST((SELECT s FROM hx) AS DOUBLE) / n.nn, 9) AS h_lang,
  ROUND(-CAST((SELECT s FROM hy) AS DOUBLE) / n.nn, 9) AS h_source
FROM n
""",
    doc="Mutual information I(lang; source) with both marginal "
    "entropies — the feature-selection / leakage-detection measure "
    "(does the source column give away the language?).  Exact "
    "integer contingency counts from ONE pass each, per-cell ln "
    "quantized to 9 at the source (BM25 discipline), nxy-weighted "
    "decimal folds, one final IEEE division by N — a trained-metric "
    "query that hash-checks.  All tables are "
    "category-cardinality-sized after the map-side-combined counts.",
    tags=("profile", "mi", "extension"),
    extended=True,
)
def profile_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    cxy = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("nxy")
    )
    cx = docs.groupBy("lang").agg(F.count("*").cast("long").alias("nx"))
    cy = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("ny")
    )
    terms = (
        cxy.join(cx, "lang")
        .join(cy, "source")
        .select(
            "nxy",
            F.round(
                F.log(
                    F.col("nxy").cast("double") * F.lit(float(n))
                    / (F.col("nx").cast("double") * F.col("ny"))
                ),
                9,
            ).alias("lq"),
        )
    )
    mi = terms.agg(
        F.sum(
            (F.col("nxy") * F.col("lq")).cast("decimal(38,9)")
        ).alias("s"),
        F.count("*").alias("n_cells"),
    )
    hx = cx.agg(
        F.sum(
            (
                F.col("nx")
                * F.round(
                    F.log(F.col("nx").cast("double") / F.lit(float(n))), 9
                )
            ).cast("decimal(38,9)")
        ).alias("s")
    )
    hy = cy.agg(
        F.sum(
            (
                F.col("ny")
                * F.round(
                    F.log(F.col("ny").cast("double") / F.lit(float(n))), 9
                )
            ).cast("decimal(38,9)")
        ).alias("s")
    )
    return (
        mi.crossJoin(F.broadcast(hx.withColumnRenamed("s", "sx")))
        .crossJoin(F.broadcast(hy.withColumnRenamed("s", "sy")))
        .select(
            F.lit(n).cast("long").alias("n_rows"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.round(F.col("s").cast("double") / n, 9).alias("mi_nats"),
            F.round(-F.col("sx").cast("double") / n, 9).alias("h_lang"),
            F.round(-F.col("sy").cast("double") / n, 9).alias("h_source"),
        )
    )


# -- space-filling-curve layout comparison (round 9) -------------------------

_HC_BITS, _HC_N, _HC_TILE = 8, 256, 600  # non-power-of-two tile: aligned 2^k tiles hide the Z-seam; at 600 cells Hilbert tiles average a ~2x tighter bounding box

_HC_CTES = f"""
pts AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER () AS rid,
    CAST(o_custkey % {_HC_N} AS INT) AS xx,
    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
         % {_HC_N} AS INT) AS yy
  FROM orders
),
hil AS (
  SELECT xx, yy, xx AS x, yy AS y, 0 AS d, 0 AS i FROM pts
  UNION ALL
  SELECT xx, yy,
    CASE WHEN ry = 1 THEN x WHEN rx = 1 THEN {_HC_N} - 1 - y ELSE y END,
    CASE WHEN ry = 1 THEN y WHEN rx = 1 THEN {_HC_N} - 1 - x ELSE x END,
    d + s * s * (CASE WHEN rx = 0 AND ry = 0 THEN 0
                      WHEN rx = 0 THEN 1 WHEN ry = 0 THEN 3 ELSE 2 END),
    i + 1
  FROM (
    SELECT xx, yy, x, y, d, i,
      (1 << ({_HC_BITS} - 1 - i)) AS s,
      CASE WHEN (x & (1 << ({_HC_BITS} - 1 - i))) > 0 THEN 1 ELSE 0 END AS rx,
      CASE WHEN (y & (1 << ({_HC_BITS} - 1 - i))) > 0 THEN 1 ELSE 0 END AS ry
    FROM hil WHERE i < {_HC_BITS}
  )
),
hd AS (SELECT xx, yy, d FROM hil WHERE i = {_HC_BITS}),
md AS (
  SELECT xx, yy,
    CAST(SUM(
      CASE WHEN (xx & (1 << b.i)) > 0 THEN (1 << (2 * b.i)) ELSE 0 END
      + CASE WHEN (yy & (1 << b.i)) > 0 THEN (1 << (2 * b.i + 1)) ELSE 0 END
    ) AS INT) AS d
  FROM pts, (SELECT unnest(generate_series(0, {_HC_BITS} - 1)) AS i) b
  GROUP BY xx, yy, rid
),
curves AS (
  SELECT 'hilbert' AS curve, d // {_HC_TILE} AS tile, xx, yy FROM hd
  UNION ALL
  SELECT 'morton' AS curve, d // {_HC_TILE} AS tile, xx, yy FROM md
)
"""

_HILBERT_ORACLE = f"""
WITH RECURSIVE
{_HC_CTES}
SELECT curve, CAST(tile AS INT) AS tile,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(MAX(xx) - MIN(xx) AS INT) AS x_span,
  CAST(MAX(yy) - MIN(yy) AS INT) AS y_span
FROM curves GROUP BY curve, tile
ORDER BY curve, tile
"""


@register(
    "layout_hilbert_clustering",
    oracle=_HILBERT_ORACLE,
    doc="Space-filling-curve LAYOUT comparison: Hilbert d-index "
    "(operators/layout.py:hilbert_index — the canonical per-bit "
    "quadrant+rotation walk as a native fold, all integer arithmetic) "
    "vs the Morton/Z-order the versioned table's OPTIMIZE clusters "
    "by, measured as per-tile x/y bounding-box spans over orders "
    "bucketed on (custkey, order day).  Hilbert's continuity (no "
    "Z-seam jumps) yields tighter tile boxes — the reason liquid-"
    "clustering layouts moved off Z-order — and the per-tile span "
    "table IS that evidence, hash-pinned.  Scale: the index is a "
    "per-row projection; a layout write consuming it is one "
    "repartitionByRange, after which min/max file stats prune on "
    "both dimensions.",
    tags=("layout", "hilbert", "zorder", "extension"),
    extended=True,
)
def layout_hilbert_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.layout import hilbert_index, morton_index

    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        (F.col("o_custkey") % _HC_N).cast("int").alias("xx"),
        (
            F.datediff("o_orderdate", F.lit("1995-01-01")) % _HC_N
        ).cast("int").alias("yy"),
    )
    idx = pts.select(
        "xx", "yy",
        hilbert_index("xx", "yy", _HC_BITS).alias("hd"),
        morton_index("xx", "yy", _HC_BITS).alias("md"),
    )
    both = idx.select(
        F.lit("hilbert").alias("curve"),
        (F.col("hd") - F.col("hd") % _HC_TILE).alias("t0"),
        "xx", "yy",
    ).unionByName(
        idx.select(
            F.lit("morton").alias("curve"),
            (F.col("md") - F.col("md") % _HC_TILE).alias("t0"),
            "xx", "yy",
        )
    )
    return (
        both.select(
            "curve",
            (F.col("t0") / _HC_TILE).cast("int").alias("tile"),
            "xx", "yy",
        )
        .groupBy("curve", "tile")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            (F.max("xx") - F.min("xx")).cast("int").alias("x_span"),
            (F.max("yy") - F.min("yy")).cast("int").alias("y_span"),
        )
        .orderBy("curve", "tile")
    )


# -- layout pruning simulation (round 9, companion to the span query) --------
#
# The span table says Hilbert tiles are tighter; this query converts
# that into the metric operators actually care about: FILES SCANNED.
# Each tile plays a parquet file carrying min/max column statistics
# (its x/y bounding box); a 4x4 grid of 32x32 range predicates plays
# the query workload; a file is read iff its box intersects the
# predicate box — exactly how data-skipping stats prune.  Output: per
# curve, the workload's total and average files-read fraction.

_PRUNE_ORACLE = f"""
WITH RECURSIVE
{_HC_CTES},
boxes AS MATERIALIZED (
  SELECT curve, tile,
    MIN(xx) AS mnx, MAX(xx) AS mxx, MIN(yy) AS mny, MAX(yy) AS mxy
  FROM curves GROUP BY curve, tile
),
wins AS (
  SELECT wx.i * 4 + wy.i AS wid,
    wx.i * 64 AS wx0, wx.i * 64 + 31 AS wx1,
    wy.i * 64 AS wy0, wy.i * 64 + 31 AS wy1
  FROM (SELECT unnest(generate_series(0, 3)) AS i) wx,
       (SELECT unnest(generate_series(0, 3)) AS i) wy
),
hits AS (
  SELECT b.curve, w.wid, COUNT(*) AS n_hit
  FROM boxes b JOIN wins w
    ON b.mnx <= w.wx1 AND b.mxx >= w.wx0
   AND b.mny <= w.wy1 AND b.mxy >= w.wy0
  GROUP BY b.curve, w.wid
),
tot AS (SELECT curve, COUNT(*) AS n_tiles FROM boxes GROUP BY curve)
SELECT t.curve,
  CAST(t.n_tiles AS BIGINT) AS n_tiles,
  CAST(16 AS BIGINT) AS n_windows,
  CAST(SUM(h.n_hit) AS BIGINT) AS files_scanned,
  ROUND(CAST(SUM(h.n_hit) AS DOUBLE) / (16 * t.n_tiles), 9)
    AS scan_fraction
FROM tot t JOIN hits h ON h.curve = t.curve
GROUP BY t.curve, t.n_tiles
ORDER BY t.curve
"""


@register(
    "layout_pruning_simulation",
    oracle=_PRUNE_ORACLE,
    doc="Data-skipping simulation over the space-filling-curve "
    "layouts: each Hilbert/Morton tile plays a parquet file with "
    "min/max stats (its bounding box), a 4x4 grid of 32x32 range "
    "predicates plays the workload, and a file is scanned iff its "
    "box intersects the predicate box — converting the span table "
    "into the metric that matters (files-read fraction; Hilbert "
    "prunes more because its tiles never straddle the Z-seam).  "
    "Scale: the boxes table is tiny (one row per file), the window "
    "grid is a 16-row literal; the simulation is a broadcast "
    "theta-join over both.",
    tags=("layout", "pruning", "extension"),
    extended=True,
)
def layout_pruning_simulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.layout import hilbert_index, morton_index

    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        (F.col("o_custkey") % _HC_N).cast("int").alias("xx"),
        (
            F.datediff("o_orderdate", F.lit("1995-01-01")) % _HC_N
        ).cast("int").alias("yy"),
    )
    idx = pts.select(
        "xx", "yy",
        hilbert_index("xx", "yy", _HC_BITS).alias("hd"),
        morton_index("xx", "yy", _HC_BITS).alias("md"),
    )
    curves = idx.select(
        F.lit("hilbert").alias("curve"),
        (F.col("hd") - F.col("hd") % _HC_TILE).alias("t0"),
        "xx", "yy",
    ).unionByName(
        idx.select(
            F.lit("morton").alias("curve"),
            (F.col("md") - F.col("md") % _HC_TILE).alias("t0"),
            "xx", "yy",
        )
    )
    boxes = curves.groupBy("curve", "t0").agg(
        F.min("xx").alias("mnx"), F.max("xx").alias("mxx"),
        F.min("yy").alias("mny"), F.max("yy").alias("mxy"),
    )
    wins = spark.createDataFrame(
        [
            (wx * 4 + wy, wx * 64, wx * 64 + 31, wy * 64, wy * 64 + 31)
            for wx in range(4)
            for wy in range(4)
        ],
        "wid int, wx0 int, wx1 int, wy0 int, wy1 int",
    )
    hits = (
        boxes.join(
            F.broadcast(wins),
            (F.col("mnx") <= F.col("wx1"))
            & (F.col("mxx") >= F.col("wx0"))
            & (F.col("mny") <= F.col("wy1"))
            & (F.col("mxy") >= F.col("wy0")),
        )
        .groupBy("curve", "wid")
        .agg(F.count("*").alias("n_hit"))
    )
    tot = boxes.groupBy("curve").agg(F.count("*").alias("n_tiles"))
    return (
        tot.join(hits, "curve")
        .groupBy("curve", "n_tiles")
        .agg(F.sum("n_hit").alias("files_scanned"))
        .select(
            "curve",
            F.col("n_tiles").cast("long").alias("n_tiles"),
            F.lit(16).cast("long").alias("n_windows"),
            F.col("files_scanned").cast("long").alias("files_scanned"),
            F.round(
                F.col("files_scanned").cast("double")
                / (F.lit(16) * F.col("n_tiles")),
                9,
            ).alias("scan_fraction"),
        )
        .orderBy("curve")
    )


# -- functional-dependency strength discovery (round 9) ------------------------

_FD_COLS = ("p_name", "p_brand", "p_type", "p_size")


@register(
    "profile_functional_deps",
    oracle=f"""
WITH pairs AS (
  {" UNION ALL ".join(
    f"SELECT '{a}' AS det, '{b}' AS dep, "
    f"CAST({a} AS VARCHAR) AS av, CAST({b} AS VARCHAR) AS bv FROM part"
    for a in _FD_COLS for b in _FD_COLS if a != b
  )}
),
pc AS (
  SELECT det, dep, av, bv, COUNT(*) AS n
  FROM pairs GROUP BY det, dep, av, bv
),
pg AS (
  SELECT det, dep, av,
    MAX(n) AS best, SUM(n) AS tot,
    COUNT(*) AS n_dep_vals
  FROM pc GROUP BY det, dep, av
)
SELECT det, dep,
  CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(SUM(CASE WHEN n_dep_vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS violating_groups,
  ROUND(CAST(SUM(best) AS DOUBLE) / SUM(tot), 9) AS fd_confidence
FROM pg
GROUP BY det, dep
ORDER BY det, dep
""",
    doc="Functional-dependency STRENGTH discovery over the part "
    "attribute set — the data-profiling primitive behind schema "
    "inference and key detection: for every ordered column pair "
    "A -> B, the number of A-groups with more than one B value and "
    "the g3-style confidence = (rows kept by the best per-group "
    "repair) / N, i.e. SUM(max per-(A,B) count) / total.  ONE corpus "
    "scan stacks all 12 pairs into (det, dep, a_val, b_val) rows; "
    "two grouped reductions do the rest — never a pass per candidate "
    "pair, which is what makes profiling 12 (or 12,000) candidates "
    "affordable at 100 TB.  Exact integer counts; one final "
    "division.",
    tags=("profile", "fd", "data-quality", "extension"),
    extended=True,
)
def profile_functional_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    stacked = part.select(
        F.expr(
            "stack("
            + str(len(_FD_COLS) * (len(_FD_COLS) - 1))
            + ", "
            + ", ".join(
                f"'{a}', '{b}', CAST({a} AS STRING), CAST({b} AS STRING)"
                for a in _FD_COLS
                for b in _FD_COLS
                if a != b
            )
            + ")"
        ).alias("det", "dep", "av", "bv")
    )
    pc = stacked.groupBy("det", "dep", "av", "bv").agg(
        F.count(F.lit(1)).alias("n")
    )
    pg = pc.groupBy("det", "dep", "av").agg(
        F.max("n").alias("best"),
        F.sum("n").alias("tot"),
        F.count(F.lit(1)).alias("n_dep_vals"),
    )
    return (
        pg.groupBy("det", "dep")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(
                F.when(F.col("n_dep_vals") > 1, 1).otherwise(0)
            ).cast("long").alias("violating_groups"),
            F.round(
                F.sum("best").cast("double") / F.sum("tot"), 9
            ).alias("fd_confidence"),
        )
        .orderBy("det", "dep")
    )


# -- Cramér's V categorical association (round 9) --------------------------------


@register(
    "profile_cramers_v",
    oracle="""
WITH ct AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS n
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT a, b, n,
    SUM(n) OVER (PARTITION BY a) AS ra,
    SUM(n) OVER (PARTITION BY b) AS cb,
    SUM(n) OVER () AS nt
  FROM ct
),
chi AS (
  SELECT MAX(nt) AS nt,
    COUNT(DISTINCT a) AS ka, COUNT(DISTINCT b) AS kb,
    CAST(SUM(CAST(ROUND(
      (CAST(n AS DOUBLE) - CAST(ra AS DOUBLE) * cb / nt)
      * (CAST(n AS DOUBLE) - CAST(ra AS DOUBLE) * cb / nt)
      / (CAST(ra AS DOUBLE) * cb / nt), 9) AS DECIMAL(28,9)))
      AS DOUBLE) AS chi2_obs
  FROM m
)
SELECT CAST(nt AS BIGINT) AS n_rows,
  CAST(ka AS INT) AS k_priority, CAST(kb AS INT) AS k_status,
  ROUND(chi2_obs, 9) AS chi2,
  ROUND(SQRT(chi2_obs / (nt * (least(ka, kb) - 1))), 9) AS cramers_v
FROM chi
""",
    doc="Cramér's V association between order priority and status — "
    "the [0,1]-normalized chi-square that makes categorical "
    "dependence comparable across tables (the third leg of the "
    "profiling trio: mutual information for information content, FD "
    "strength for determinism, V for association).  Contingency "
    "cells and margins are exact integers from ONE grouped pass; "
    "expected counts ra*cb/nt and the chi-square sum are pinned IEEE "
    "doubles per cell, 9dp-quantized and DECIMAL-folded so the "
    "cell-order of the sum cannot matter (repo float rule).  NOTE: "
    "the sum runs over OBSERVED cells, which understates chi2 when "
    "structural zeros exist; the fixture grid is dense (asserted in "
    "tests) — sparse tables should left-join the margin product.  V = sqrt(chi2 / (n * "
    "(min(k)-1))).",
    tags=("profile", "association", "statistics", "extension"),
    extended=True,
)
def profile_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    ct = orders.groupBy(
        F.col("o_orderpriority").alias("a"),
        F.col("o_orderstatus").alias("b"),
    ).agg(F.count(F.lit(1)).alias("n"))
    m = ct.select(
        "a", "b", "n",
        F.sum("n").over(Window.partitionBy("a")).alias("ra"),
        F.sum("n").over(Window.partitionBy("b")).alias("cb"),
        F.sum("n").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("nt"),
    )
    exp = F.col("ra").cast("double") * F.col("cb") / F.col("nt")
    chi = m.agg(
        F.max("nt").alias("nt"),
        F.countDistinct("a").alias("ka"),
        F.countDistinct("b").alias("kb"),
        F.sum(
            F.round(
                (F.col("n").cast("double") - exp)
                * (F.col("n").cast("double") - exp)
                / exp,
                9,
            ).cast("decimal(28,9)")
        ).cast("double").alias("chi2_obs"),
    )
    nt = F.col("nt")
    return chi.select(
        nt.cast("long").alias("n_rows"),
        F.col("ka").cast("int").alias("k_priority"),
        F.col("kb").cast("int").alias("k_status"),
        F.round(F.col("chi2_obs"), 9).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_obs")
                / (nt * (F.least(F.col("ka"), F.col("kb")) - 1))
            ),
            9,
        ).alias("cramers_v"),
    )
