"""Subquery operator family: EXISTS / NOT EXISTS, IN / NOT IN, and
correlated scalar subqueries (TPC-H q4/q16/q17/q18/q22 shapes adapted
to the fixture schema).

The reference surface itself contains a single uncorrelated scalar
subquery (SURVEY.md §2.4, dashboard SQL D:57, covered in the gate by
``diab_dash_bmi_dist``); this module extends the engine to the full
subquery repertoire an analytics user expects.

Every query here goes through ``_sql_query``: ONE ANSI SQL string is
both the Spark plan (``spark.sql``) and the DuckDB oracle, so parity
is pinned by construction and the interesting question becomes the
physical plan.  Catalyst decorrelates each form into a join — which is
exactly what you want at 100 TB, where a per-row subquery execution
would be a disaster:

- ``EXISTS``      -> left SEMI join on the correlation key (one hash
  shuffle, no row multiplication);
- ``NOT EXISTS``  -> left ANTI join;
- ``IN (subq)``   -> left semi join against the aggregated subquery;
- ``NOT IN``      -> null-aware anti join (Spark broadcasts the subquery
  side — safe here because a NOT IN list that doesn't fit in memory is
  a modeling bug, not an engine problem);
- correlated scalar agg -> subquery re-grouped on the correlation key +
  left outer equi-join (RewriteCorrelatedScalarSubquery), i.e. the
  aggregate runs ONCE over the inner table, not once per outer row.

tests/test_plans.py asserts the semi/anti join shapes so a regression
to a nested-loop plan is caught.
"""

from __future__ import annotations

from diabetes_etl_spark.functions.numeric import (
    sql_dec_avg,
    sql_dec_cast,
    sql_dec_sum,
)
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.plans.relational import _sql_query

_EXISTS_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

register(
    "subq_exists_shipped_orders",
    oracle=_EXISTS_SQL,
    doc="TPC-H q4 shape: order-priority counts where a correlated "
    "EXISTS finds a lineitem shipped after the order date.  The "
    "correlation carries an extra non-equi conjunct (l_shipdate > "
    "o_orderdate), so Catalyst plans a left semi join with the range "
    "predicate as join condition — one shuffle on orderkey, no row "
    "multiplication, aggregation after.",
    tags=("subquery", "exists", "extension"),
    extended=True,
)(_sql_query(_EXISTS_SQL, ("orders", "lineitem")))


_CORR_AVG_SQL = f"""
SELECT {sql_dec_cast(
    f"CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0", 2)}
  AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#11'
  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""

register(
    "subq_small_quantity_revenue",
    oracle=_CORR_AVG_SQL,
    doc="TPC-H q17 shape: revenue from below-half-average-quantity "
    "lineitems of one brand, the canonical correlated scalar "
    "aggregate.  RewriteCorrelatedScalarSubquery turns the per-part "
    "AVG into ONE re-grouped aggregate over lineitem joined back on "
    "l_partkey — the inner table is scanned once, not once per outer "
    "row, which is the difference between O(N) and O(N^2) at scale.",
    tags=("subquery", "correlated", "extension", "headline"),
    extended=True,
)(_sql_query(_CORR_AVG_SQL, ("lineitem", "part")))


_IN_HAVING_SQL = f"""
SELECT c_name, o_orderkey, {sql_dec_sum("l_quantity", 2)} AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
GROUP BY c_name, o_orderkey
ORDER BY total_qty DESC, o_orderkey
"""

register(
    "subq_large_volume_orders",
    oracle=_IN_HAVING_SQL,
    doc="TPC-H q18 shape: large-volume orders via IN over an "
    "aggregated+HAVING subquery.  Plans as a semi join against the "
    "grouped lineitem — the HAVING filter shrinks the subquery side "
    "before the join, and AQE can broadcast it when it fits.",
    tags=("subquery", "in", "having", "extension", "headline"),
    extended=True,
)(_sql_query(_IN_HAVING_SQL, ("customer", "orders", "lineitem")))


_NOT_EXISTS_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n_customers,
  {sql_dec_sum("c_acctbal", 2)} AS total_acctbal
FROM customer
WHERE c_acctbal > (SELECT {sql_dec_avg("c_acctbal", 2)}
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

register(
    "subq_not_exists_urgent_free",
    oracle=_NOT_EXISTS_SQL,
    doc="TPC-H q22 shape: above-average-balance customers with no "
    "urgent order — an uncorrelated scalar subquery (one global agg, "
    "broadcast as a literal into the filter) combined with a "
    "correlated NOT EXISTS (left anti join on custkey; the "
    "o_orderpriority filter pushes below the join so the anti side "
    "ships only urgent orders).",
    tags=("subquery", "not-exists", "extension"),
    extended=True,
)(_sql_query(_NOT_EXISTS_SQL, ("customer", "orders")))


_NOT_IN_SQL = """
SELECT p_brand, COUNT(*) AS n_parts
FROM part
WHERE p_size >= 10
  AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
GROUP BY p_brand
ORDER BY p_brand
"""

register(
    "subq_not_in_high_qty_parts",
    oracle=_NOT_IN_SQL,
    doc="TPC-H q16 shape: parts never shipped in high-quantity "
    "lineitems, via NOT IN.  Spark plans a null-aware anti join "
    "(broadcast of the DISTINCT-projected subquery side); l_partkey "
    "is non-nullable here so the null-aware machinery degenerates to "
    "a plain anti join with the same result as DuckDB's NOT IN.",
    tags=("subquery", "not-in", "extension"),
    extended=True,
)(_sql_query(_NOT_IN_SQL, ("part", "lineitem")))


_SCALAR_PER_SUPPLIER_SQL = """
SELECT s_suppkey, s_name,
  (SELECT COUNT(*) FROM lineitem WHERE l_suppkey = s_suppkey) AS n_lineitems,
  CAST((SELECT COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 0)
        FROM lineitem WHERE l_suppkey = s_suppkey) AS DOUBLE) AS total_revenue
FROM supplier
ORDER BY s_suppkey
"""

register(
    "subq_scalar_per_supplier",
    oracle=_SCALAR_PER_SUPPLIER_SQL,
    doc="Correlated scalar subqueries in the SELECT list (TPC-H "
    "q2/q15 flavor): per-supplier lineitem count and revenue.  Both "
    "subqueries decorrelate into ONE grouped aggregate over lineitem "
    "left-outer-joined back to supplier on suppkey — COUNT(*) of an "
    "empty group must surface as 0 (not NULL) and the SUM as the "
    "COALESCE default, which the rewrite handles with a post-join "
    "projection.",
    tags=("subquery", "correlated", "scalar", "extension"),
    extended=True,
)(_sql_query(_SCALAR_PER_SUPPLIER_SQL, ("supplier", "lineitem")))


_WAITING_SUPPLIER_SQL = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""

register(
    "subq_waiting_suppliers",
    oracle=_WAITING_SUPPLIER_SQL,
    doc="TPC-H q21 shape (adapted: lateness is shipdate > orderdate + "
    "60 days — the fixture has no receipt/commit dates): suppliers "
    "who were the SOLE late shipper on finished multi-supplier "
    "orders.  The hardest decorrelation in the suite: an EXISTS and a "
    "NOT EXISTS over the SAME fact table, both correlated on "
    "l_orderkey with an extra inequality on suppkey, and the NOT "
    "EXISTS additionally referencing o_orderdate from a DIFFERENT "
    "outer table.  Catalyst plans both as one-pass semi/anti hash "
    "joins on orderkey (lineitem scanned three times but never "
    "row-multiplied; at 100 TB each pass is scan + one shuffle, vs "
    "the per-row-subquery disaster a naive evaluation would be).",
    tags=("subquery", "exists", "not-exists", "extension"),
    extended=True,
)(_sql_query(_WAITING_SUPPLIER_SQL, ("supplier", "lineitem", "orders")))


_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.spend
FROM nation n,
LATERAL (
  SELECT c.c_name,
    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS spend
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey = n.n_nationkey
  GROUP BY c.c_custkey, c.c_name
  ORDER BY spend DESC, c.c_name
  LIMIT 2
) t
ORDER BY n.n_name, t.spend DESC, t.c_name
"""

register(
    "lateral_topk_per_nation",
    oracle=_LATERAL_SQL,
    doc="Correlated LATERAL derived table (SQL:1999 / Spark 4 "
    "LATERAL): for each nation, the top-2 customers by decimal-exact "
    "total spend, expressed as a per-outer-row subquery with ORDER BY "
    "+ LIMIT.  The point is the plan: Catalyst DECORRELATES the "
    "lateral — the inner aggregate+top-k runs ONCE over customer x "
    "orders re-grouped on the correlation key (window rank under the "
    "hood), then joins back to nation; never a per-nation rescan of "
    "orders, which is what a naive lateral executor would do and what "
    "kills this shape at 100 TB.  One SQL string is both the Spark "
    "plan and the DuckDB oracle.",
    tags=("subquery", "lateral", "topk", "extension"),
    extended=True,
)(_sql_query(_LATERAL_SQL, ("nation", "customer", "orders")))


_RECURSIVE_SQL = """
WITH RECURSIVE base AS (
  SELECT DISTINCT l.l_suppkey AS s,
    o.o_custkey + 1000000000000 AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT s AS src, c AS dst FROM base
  UNION
  SELECT c AS src, s AS dst FROM base
),
seeds AS (
  SELECT s AS seed FROM (SELECT DISTINCT s FROM base) t
  ORDER BY s LIMIT 3
),
walk(seed, node, hop) AS (
  SELECT seed, CAST(seed AS BIGINT) AS node, 0 AS hop FROM seeds
  UNION ALL
  SELECT DISTINCT w.seed, e.dst, w.hop + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.hop < 3
),
first_reach AS (
  SELECT seed, node, MIN(hop) AS hop
  FROM walk GROUP BY seed, node
)
SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM first_reach WHERE hop > 0
GROUP BY hop ORDER BY hop
"""

register(
    "recursive_cte_khop",
    oracle=_RECURSIVE_SQL,
    doc="WITH RECURSIVE (Spark 4 recursive CTE) — 3-hop reachability "
    "on the symmetric supplier-customer trade graph expressed as the "
    "SQL-standard recursion, ONE SQL string for both engines.  The "
    "recursive term takes SELECT DISTINCT of the previous level's "
    "frontier joined to edges (standard working-table semantics both "
    "engines), so each iteration materializes a deduplicated frontier "
    "bounded by seeds x nodes — never the walk multiset, which grows "
    "exponentially on a cyclic graph; the hop < 3 bound terminates "
    "the recursion regardless of cycles (Spark's UNION-distinct "
    "recursion isn't supported yet, so the bound + final MIN(hop) "
    "carry the semantics).  Cross-checked by construction against "
    "graph_khop_reach's iterative anti-join-visited BFS, which "
    "computes the same first-reach profile operator-style.",
    tags=("subquery", "recursive-cte", "graph", "extension"),
)(_sql_query(_RECURSIVE_SQL, ("lineitem", "orders")))
