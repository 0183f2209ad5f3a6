"""Core relational query plans (SURVEY.md §2.1–§2.7) over the TPC-H-ish
fixtures, each with a DuckDB oracle twin.

These are the library-coverage queries: the reference pipeline itself is
join-free single-table (SURVEY §2.4), but the rebuild ships the full
relational operator family, exercised here on the star schema
(FIXTURES.md §C).  Scale notes are inline per query — the plans are
written the way you'd want them on a 1000-executor cluster (pushed-down
filters, broadcast dims, partial aggregation, no driver collects).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from diabetes_etl_spark.functions.numeric import (
    dec_avg,
    dec_cast,
    dec_sum,
    sql_dec_avg,
    sql_dec_cast,
    sql_dec_sum,
    sql_spark_round,
)
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table, register_views


def _sql_query(sql: str, tables: tuple[str, ...]):
    """A query whose Spark plan IS the shared ANSI SQL text (spark.sql).

    Catalyst produces the same plan from SQL as from the DataFrame API;
    using one SQL string for both engines pins query/oracle parity.
    """

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, tables)
        return spark.sql(sql)

    return fn


# ---------------------------------------------------------------------------
# Scan + filter + group-by aggregate (the flagship: TPC-H Q1 shape).
# Scale: single pass over the fact table; partial (map-side) aggregation on
# 6 tiny groups means the shuffle carries ~6 rows per task. Filter and the
# 7-column projection push into the parquet scan.
# ---------------------------------------------------------------------------

_Q1_CUTOFF = "1999-12-01"


@register(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
  {sql_dec_sum("l_quantity", 2)} AS sum_qty,
  {sql_dec_sum("l_extendedprice", 2)} AS sum_base_price,
  {sql_dec_sum("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
  {sql_dec_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
  {sql_dec_avg("l_quantity", 2)} AS avg_qty,
  {sql_dec_avg("l_extendedprice", 2)} AS avg_price,
  {sql_dec_avg("l_discount", 6)} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 shape: filtered scan + grouped multi-aggregate "
    "(reference analogue: gold grouped aggs, diabetes_etl_pipeline.py:283-295).",
    tags=("agg", "scan", "flagship", "headline"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(F.col("l_quantity"), 2).alias("sum_qty"),
            dec_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dec_sum(disc_price, 4).alias("sum_disc_price"),
            dec_sum(charge, 6).alias("sum_charge"),
            dec_avg(F.col("l_quantity"), 2).alias("avg_qty"),
            dec_avg(F.col("l_extendedprice"), 2).alias("avg_price"),
            dec_avg(F.col("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# 3-way join + top-k (TPC-H Q3 shape).
# Scale: customer filter prunes before the join; orders⋈lineitem is the big
# shuffle join on the natural key; deterministic top-k via exact revenue and
# a unique tiebreak. No driver-side sorting — limit is pushed to a TakeOrdered.
# ---------------------------------------------------------------------------

_Q3_DATE = "1998-01-01"


@register(
    "q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
  {sql_dec_sum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{_Q3_DATE}'
  AND l_shipdate > TIMESTAMP '{_Q3_DATE}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shape: selective dim filter → fact joins → grouped agg → "
    "deterministic top-10.",
    tags=("join", "agg", "topk", "headline"),
    extended=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(_Q3_DATE).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(_Q3_DATE).cast("timestamp")
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# 6-way snowflake join (TPC-H Q5 shape).
# Scale: region/nation are broadcast (tiny dims — no shuffle); the
# customer/orders/lineitem/supplier chain shuffles on its keys; AQE picks
# broadcast for supplier when it fits.
# ---------------------------------------------------------------------------


@register(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT n_name,
  {sql_dec_sum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC
""",
    doc="TPC-H Q5 shape: snowflake join with broadcast dimensions.",
    tags=("join", "agg", "broadcast", "headline"),
    extended=True,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


# ---------------------------------------------------------------------------
# Projection / filter / CASE bucketing / string & date scalar functions
# (reference analogue: silver feature engineering, pipeline:185-257).
# Scale: narrow per-row map, fully inside whole-stage codegen; filter and
# column pruning reach the parquet scan.
# ---------------------------------------------------------------------------


@register(
    "proj_filter_case_lineitem",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
  CASE WHEN l_quantity < 10 THEN 'LOW'
       WHEN l_quantity < 25 THEN 'MID'
       ELSE 'HIGH' END AS qty_band,
  {sql_dec_cast("l_extendedprice * (1 - l_discount)", 4)} AS net_price,
  l_returnflag || '/' || l_linestatus AS flag_status,
  CAST(l_shipdate AS DATE) AS ship_date
FROM lineitem
WHERE l_quantity > 5 AND l_returnflag <> 'A'
""",
    doc="Per-row projection: CASE bucketing, arithmetic with deterministic "
    "rounding, concat, date cast (reference: pipeline:185-257).",
    tags=("project", "filter", "case"),
    extended=True,
)
def proj_filter_case_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.filter((q > 5) & (F.col("l_returnflag") != "A")).select(
        "l_orderkey",
        "l_linenumber",
        F.when(q < 10, "LOW").when(q < 25, "MID").otherwise("HIGH").alias("qty_band"),
        # scale 4: the product of two 2-decimal values has exactly 4
        # decimals, so the cast never hits a rounding tie (engines
        # disagree on tie-break for doubles).
        dec_cast(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        F.concat(F.col("l_returnflag"), F.lit("/"), F.col("l_linestatus")).alias("flag_status"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


# ---------------------------------------------------------------------------
# Global (no-key) aggregate with conditional sums — the reference's
# executive-summary / validation-summary shape (pipeline:359-366,645-653).
# ---------------------------------------------------------------------------


@register(
    "agg_global_kpis",
    oracle=f"""
SELECT COUNT(*) AS total_rows,
  COUNT(DISTINCT l_orderkey) AS n_orders,
  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_rows,
  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS discounted_rows,
  {sql_dec_avg("l_quantity", 2)} AS avg_qty,
  {sql_dec_sum("l_extendedprice * (1 - l_discount)", 4)} AS total_revenue,
  CAST(MIN(l_shipdate) AS DATE) AS first_ship_date,
  CAST(MAX(l_shipdate) AS DATE) AS last_ship_date
FROM lineitem
""",
    doc="Single-row global KPIs: count, countDistinct, conditional sums "
    "(count_if), min/max (reference: pipeline:359-366,645-653).",
    tags=("agg", "global", "headline"),
    extended=True,
)
def agg_global_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("total_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("returned_rows"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("discounted_rows"),
        dec_avg(F.col("l_quantity"), 2).alias("avg_qty"),
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("total_revenue"),
        F.min("l_shipdate").cast("date").alias("first_ship_date"),
        F.max("l_shipdate").cast("date").alias("last_ship_date"),
    )


@register(
    "agg_grouped_orders",
    oracle=f"""
SELECT o_orderpriority,
  COUNT(*) AS n_orders,
  COUNT(DISTINCT o_custkey) AS n_customers,
  {sql_dec_sum("o_totalprice", 2)} AS total_price,
  {sql_dec_avg("o_totalprice", 2)} AS avg_price,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="Grouped aggregate with exact countDistinct + conditional sum "
    "(reference: pipeline:283-295,318-329).",
    tags=("agg",),
    extended=True,
)
def agg_grouped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dec_sum(F.col("o_totalprice"), 2).alias("total_price"),
            dec_avg(F.col("o_totalprice"), 2).alias("avg_price"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
                "finished_orders"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Quantiles: exact median/percentile for oracle parity (reference uses
# percentile_approx for imputation, pipeline:123-155; the approx sketch is
# the 100 TB scale path and is exercised without an oracle below).
# ---------------------------------------------------------------------------


@register(
    "quantiles_by_flag",
    oracle="""
SELECT l_returnflag,
  ROUND(median(l_quantity), 6) AS med_qty,
  ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
  ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="Exact median / interpolated percentiles per group "
    "(reference: pipeline:123-155 median imputation).",
    tags=("agg", "quantile", "headline"),
    extended=True,
)
def quantiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_quantity"), 6).alias("med_qty"),
            F.round(F.percentile("l_quantity", 0.25), 6).alias("p25_qty"),
            F.round(F.percentile("l_quantity", 0.75), 6).alias("p75_qty"),
            F.round(F.percentile("l_extendedprice", 0.9), 6).alias("p90_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "quantile_sketch_by_flag",
    oracle="""
SELECT l_returnflag,
  quantile_disc(l_quantity, 0.5) AS approx_med_qty,
  quantile_disc(l_extendedprice, 0.9) AS approx_p90_price,
  COUNT(DISTINCT l_linenumber) AS approx_linenos
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="percentile_approx / approx_count_distinct: the mergeable-sketch "
    "scale path for 100 TB, oracle-paired at COVERING parameters (the "
    "LSH-pairing trick, round 9): accuracy=1e6 exceeds every group's "
    "row count, so the Greenwald-Khanna summary keeps exact ranks and "
    "returns the same dataset element as DuckDB's quantile_disc; the "
    "HLL++ register count at rsd=0.01 (2^14) vastly exceeds the 7-value "
    "l_linenumber domain squared, so linear counting is collision-free "
    "and exactly the true distinct count.  Both sketches stay in the "
    "physical plan (ObjectHashAggregate), so the 100 TB merge path is "
    "what's hash-pinned; sketch error bounds at production parameters "
    "(accuracy=1e4, default rsd) are asserted in tests.",
    tags=("agg", "quantile", "sketch"),
    extended=True,
)
def quantile_sketch_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_quantity", 0.5, 1000000).alias("approx_med_qty"),
            F.percentile_approx("l_extendedprice", 0.9, 1000000).alias("approx_p90_price"),
            F.approx_count_distinct("l_linenumber", rsd=0.01).alias("approx_linenos"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "corr_stddev_by_flag",
    oracle="""
SELECT l_returnflag,
  ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
  ROUND(stddev_samp(l_discount), 6) AS discount_stddev,
  ROUND(var_samp(l_quantity), 6) AS qty_variance
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="Pearson correlation + sample stddev/variance per group "
    "(reference: pipeline:323,608-611).",
    tags=("agg", "stats"),
    extended=True,
)
def corr_stddev_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.stddev("l_discount"), 6).alias("discount_stddev"),
            F.round(F.var_samp("l_quantity"), 6).alias("qty_variance"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Sort by CASE expression — the dashboard's custom categorical ordering
# (reference: Diabetes-Dashboard.lvdash.json:36-43).
# ---------------------------------------------------------------------------


@register(
    "sort_case_custom_order",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
  {sql_dec_sum("o_totalprice", 2)} AS total_price
FROM orders
GROUP BY o_orderpriority
ORDER BY CASE o_orderpriority
  WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
  WHEN '5-LOW' THEN 4 ELSE 5 END
""",
    doc="ORDER BY simple-CASE categorical order (reference: dashboard D:36-43).",
    tags=("sort", "case"),
    extended=True,
)
def sort_case_custom_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(
            F.expr(
                "CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 "
                "WHEN '3-MEDIUM' THEN 3 WHEN '5-LOW' THEN 4 ELSE 5 END"
            )
        )
    )


# ---------------------------------------------------------------------------
# Long-format KPI unpivot — the dashboard's UNION-ALL KPI dataset
# (reference: D:6-21). Spark side uses stack() = one scan instead of the
# oracle's 4-branch UNION ALL over a CTE (semantically identical result);
# at 100 TB re-scanning the fact table per KPI branch would be the bug.
# ---------------------------------------------------------------------------


@register(
    "kpi_long_unpivot",
    oracle=f"""
WITH k AS (
  SELECT COUNT(*) AS total_rows,
    {sql_dec_sum("l_extendedprice * (1 - l_discount)", 4)} AS total_revenue,
    {sql_dec_avg("l_discount", 6)} AS avg_discount,
    COUNT(DISTINCT l_orderkey) AS n_orders
  FROM lineitem
)
SELECT 'total_rows' AS metric_name, CAST(total_rows AS DOUBLE) AS metric_value FROM k
UNION ALL SELECT 'total_revenue', total_revenue FROM k
UNION ALL SELECT 'avg_discount', avg_discount FROM k
UNION ALL SELECT 'n_orders', CAST(n_orders AS DOUBLE) FROM k
""",
    doc="Wide 1-row KPI aggregate unpivoted to (metric_name, metric_value) "
    "long format (reference: dashboard D:6-21).",
    tags=("unpivot", "agg", "setop"),
    extended=True,
)
def kpi_long_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = li.agg(
        F.count("*").alias("total_rows"),
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "total_revenue"
        ),
        dec_avg(F.col("l_discount"), 6).alias("avg_discount"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    return base.select(
        F.expr(
            "stack(4, "
            "'total_rows', CAST(total_rows AS DOUBLE), "
            "'total_revenue', total_revenue, "
            "'avg_discount', avg_discount, "
            "'n_orders', CAST(n_orders AS DOUBLE)) AS (metric_name, metric_value)"
        )
    )


# ---------------------------------------------------------------------------
# Window functions.
# ---------------------------------------------------------------------------


@register(
    "window_share_of_total",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers,
  ROUND(COUNT(*) / SUM(COUNT(*)) OVER (), 6) AS segment_share
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    doc="Unbounded window SUM() OVER () for share-of-total "
    "(reference: dashboard D:130).",
    tags=("window", "agg"),
    extended=True,
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))
    return g.select(
        "c_mktsegment",
        "n_customers",
        F.round(
            F.col("n_customers") / F.sum("n_customers").over(Window.partitionBy()), 6
        ).alias("segment_share"),
    ).orderBy("c_mktsegment")


@register(
    "window_topk_per_group",
    oracle="""
SELECT o_orderstatus, o_orderkey, o_totalprice, rn AS price_rank
FROM (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_orderstatus
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t WHERE rn <= 3
""",
    doc="Top-k per group via ranking window (library operator; no reference "
    "analogue — SURVEY §2.6).",
    tags=("window", "topk", "headline"),
    extended=True,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("price_rank", F.row_number().over(w))
        .filter(F.col("price_rank") <= 3)
        .select("o_orderstatus", "o_orderkey", "o_totalprice", "price_rank")
    )


@register(
    "window_running_lead_lag",
    oracle="""
SELECT o_custkey, o_orderkey,
  CAST(lag(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS prev_price,
  CAST(lead(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS next_price,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS running_total,
  row_number() OVER w AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    doc="lead/lag + running sum with explicit ROWS frame (library operator, "
    "SURVEY §2.5; decimal-exact so the running sum is order-stable).",
    tags=("window", "headline"),
    extended=True,
)
def window_running_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag(dec).over(w).cast("double").alias("prev_price"),
        F.lead(dec).over(w).cast("double").alias("next_price"),
        F.sum(dec)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "window_distribution_ranks",
    oracle="""
SELECT o_orderkey, o_orderpriority,
  CAST(ntile(4) OVER w AS INT) AS price_quartile,
  ROUND(percent_rank() OVER w, 9) AS price_pct_rank,
  ROUND(cume_dist() OVER w, 9) AS price_cume_dist,
  first_value(o_orderkey) OVER wf AS frame_first_key,
  last_value(o_orderkey) OVER wf AS frame_last_key
FROM orders
WINDOW
  w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
  wf AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
""",
    doc="Distribution ranks: ntile / percent_rank / cume_dist plus "
    "first_value/last_value over an explicit bounded ROWS frame (library "
    "operators, SURVEY §2.5; full orderBy tiebreak keeps every rank "
    "deterministic — percent_rank and cume_dist are exact rational "
    "divisions, identical IEEE doubles in both engines).",
    tags=("window",),
    extended=True,
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wf = w.rowsBetween(-2, 2)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 9).alias("price_pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("price_cume_dist"),
        F.first("o_orderkey").over(wf).alias("frame_first_key"),
        F.last("o_orderkey").over(wf).alias("frame_last_key"),
    )


# ---------------------------------------------------------------------------
# Scalar subquery / CTE / HAVING — SQL-layer forms (reference: D:57, D:105-135).
# Shared SQL string = identical semantics in Spark SQL and DuckDB.
# ---------------------------------------------------------------------------

_SCALAR_SUBQ_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
  ROUND(COUNT(*) * CAST(100 AS DOUBLE) / (SELECT COUNT(*) FROM customer), 6) AS pct_of_all
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

register(
    "scalar_subquery_share",
    oracle=_SCALAR_SUBQ_SQL,
    doc="Uncorrelated scalar subquery as divisor (reference: dashboard D:57).",
    tags=("subquery", "sql"),
    extended=True,
)(_sql_query(_SCALAR_SUBQ_SQL, ("customer",)))


_CTE_SQL = f"""
WITH banded AS (
  SELECT CASE WHEN o_totalprice < 50000 THEN 'P1_SMALL'
              WHEN o_totalprice < 150000 THEN 'P2_MEDIUM'
              ELSE 'P3_LARGE' END AS price_band,
         o_orderstatus, o_totalprice
  FROM orders
)
SELECT price_band, o_orderstatus, COUNT(*) AS n_orders,
  {sql_dec_sum("o_totalprice", 2)} AS total_price
FROM banded
GROUP BY price_band, o_orderstatus
ORDER BY price_band, o_orderstatus
"""

register(
    "cte_price_bands",
    oracle=_CTE_SQL,
    doc="CTE + CASE bucketing + grouped agg (reference: dashboard D:105-135).",
    tags=("cte", "case", "sql"),
    extended=True,
)(_sql_query(_CTE_SQL, ("orders",)))


_HAVING_SQL = f"""
SELECT o_custkey, COUNT(*) AS n_orders,
  {sql_dec_sum("o_totalprice", 2)} AS total_spent
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
ORDER BY o_custkey
"""

register(
    "having_frequent_customers",
    oracle=_HAVING_SQL,
    doc="HAVING filter over grouped aggregate (library coverage, FIXTURES §C).",
    tags=("agg", "having", "sql"),
    extended=True,
)(_sql_query(_HAVING_SQL, ("orders",)))


# ---------------------------------------------------------------------------
# Joins: broadcast dim chain, semi, anti, outer.
# ---------------------------------------------------------------------------


@register(
    "join_broadcast_dims",
    oracle=f"""
SELECT r_name, n_name, COUNT(*) AS n_customers,
  {sql_dec_sum("c_acctbal", 2)} AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
""",
    doc="Fact ⋈ broadcast dims (nation, region): no shuffle for the dim side.",
    tags=("join", "broadcast"),
    extended=True,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dec_sum(F.col("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


@register(
    "join_semi_active_customers",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="Left-semi join (EXISTS): customers having at least one order.",
    tags=("join", "semi"),
    extended=True,
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_anti_inactive_customers",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="Left-anti join (NOT EXISTS): customers with no orders.",
    tags=("join", "anti"),
    extended=True,
)
def join_anti_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_outer_order_counts",
    oracle=f"""
SELECT c_custkey, c_mktsegment,
  COUNT(o_orderkey) AS n_orders,
  COALESCE({sql_dec_sum("o_totalprice", 2)}, 0.0) AS total_spent
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
""",
    doc="Left-outer join preserving zero-order customers + null-safe agg.",
    tags=("join", "outer", "headline"),
    extended=True,
)
def join_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dec_sum(F.col("o_totalprice"), 2), F.lit(0.0)).alias(
                "total_spent"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Set operations.
# ---------------------------------------------------------------------------


@register(
    "setop_union_all",
    oracle="""
SELECT o_orderkey AS orderkey, 'EARLY' AS era FROM orders
WHERE o_orderdate < TIMESTAMP '1996-01-01'
UNION ALL
SELECT o_orderkey, 'LATE' FROM orders
WHERE o_orderdate >= TIMESTAMP '2000-01-01'
""",
    doc="UNION ALL of two filtered projections (reference: dashboard D:6-21).",
    tags=("setop",),
    extended=True,
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    early = orders.filter(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    ).select(F.col("o_orderkey").alias("orderkey"), F.lit("EARLY").alias("era"))
    late = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select(F.col("o_orderkey").alias("orderkey"), F.lit("LATE").alias("era"))
    return early.unionAll(late)


@register(
    "setop_intersect",
    oracle="""
SELECT o_custkey AS custkey FROM orders
INTERSECT
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
""",
    doc="INTERSECT (distinct) of two key sets (SURVEY §2.7 library op).",
    tags=("setop",),
    extended=True,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    rich = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    return orders.intersect(rich)


@register(
    "setop_except",
    oracle="""
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
EXCEPT
SELECT o_custkey FROM orders
""",
    doc="EXCEPT (distinct): high-balance customers that never ordered.",
    tags=("setop",),
    extended=True,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    return rich.exceptAll(orders.distinct()).distinct()


@register(
    "distinct_flag_status",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="DISTINCT projection (dropDuplicates).",
    tags=("setop", "distinct"),
    extended=True,
)
def distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot / rollup.
# ---------------------------------------------------------------------------


@register(
    "pivot_priority_by_status",
    oracle="""
SELECT o_orderpriority,
  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="Server-side pivot with pinned value list (reference: dashboard "
    "pivot widget D:742-790; pinned values per SURVEY §7.6).",
    tags=("pivot",),
    extended=True,
)
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    p = orders.groupBy("o_orderpriority").pivot("o_orderstatus", ["F", "O", "P"]).count()
    return p.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(c), F.lit(0).cast("long")).alias(f"status_{c.lower()}")
            for c in ("F", "O", "P")
        ],
    ).orderBy("o_orderpriority")


@register(
    "unpivot_part_metrics",
    oracle="""
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS metric_value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
""",
    doc="Unpivot wide columns to long format (df.unpivot / stack).",
    tags=("unpivot",),
    extended=True,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return part.unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "metric_value")


@register(
    "rollup_status_priority",
    oracle=f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
  COALESCE(o_orderpriority, 'ALL') AS priority,
  COUNT(*) AS n_orders,
  {sql_dec_sum("o_totalprice", 2)} AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority
""",
    doc="ROLLUP hierarchy totals (library op; SURVEY §2.3 notes reference "
    "has no grouping sets — shipped as part of the full agg family).",
    tags=("agg", "rollup"),
    extended=True,
)
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("status", "priority")
    )


# ---------------------------------------------------------------------------
# Range-predicate join (equi key + time-range filter).
# ---------------------------------------------------------------------------


@register(
    "range_join_ship_lag",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_lineitems,
  {sql_dec_sum("l_quantity", 2)} AS total_qty
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
  AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 60 DAY
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    doc="Equi + range-predicate join: lineitems shipped within 60 days of "
    "their order (SURVEY §2.4 range-join family).",
    tags=("join", "range"),
    extended=True,
)
def range_join_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 60 DAYS"))
    )
    return (
        orders.join(li, cond)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lineitems"),
            dec_sum(F.col("l_quantity"), 2).alias("total_qty"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "cube_status_priority",
    oracle=f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
  COALESCE(o_orderpriority, 'ALL') AS priority,
  COUNT(*) AS n_orders,
  {sql_dec_sum("o_totalprice", 2)} AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY status, priority
""",
    doc="CUBE cross-dimension totals (library op completing the "
    "grouping-set family next to ROLLUP; SURVEY §2.3).",
    tags=("agg", "cube"),
    extended=True,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
        .orderBy("status", "priority")
    )


@register(
    "grouping_sets_regions",
    oracle=f"""
SELECT COALESCE(r_name, 'ALL') AS region,
  COALESCE(n_name, 'ALL') AS nation,
  COUNT(*) AS n_customers,
  {sql_dec_sum("c_acctbal", 2)} AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
ORDER BY region, nation
""",
    doc="GROUPING SETS with explicit set list over a dimension join "
    "(SQL entry; completes the grouping-set family, SURVEY §2.3).",
    tags=("agg", "grouping-sets", "sql"),
    extended=True,
)
def grouping_sets_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"gs_{t}")
    return spark.sql(f"""
SELECT COALESCE(r_name, 'ALL') AS region,
  COALESCE(n_name, 'ALL') AS nation,
  COUNT(*) AS n_customers,
  {sql_dec_sum("c_acctbal", 2)} AS total_acctbal
FROM gs_customer
JOIN gs_nation ON c_nationkey = n_nationkey
JOIN gs_region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
ORDER BY region, nation
""")


@register(
    "salted_agg_orders",
    oracle=f"""
SELECT o_custkey,
  COUNT(*) AS n_orders,
  {sql_dec_sum("o_totalprice", 2)} AS total_price
FROM orders
GROUP BY o_custkey
ORDER BY n_orders DESC, o_custkey
LIMIT 100
""",
    doc="Skew-safe two-phase aggregation: groupBy(key, salt) partial -> "
    "groupBy(key) merge.  On a skewed key distribution the salt spreads "
    "a hot key over N reducers; the final merge handles N rows per key. "
    "(AQE skew handling is also on globally — session.py — this is the "
    "explicit form for deterministic pipelines.)  Result is salt-"
    "invariant, so it oracle-checks against a plain GROUP BY.",
    tags=("agg", "skew", "salting"),
    extended=True,
)
def salted_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    n_salt = 16
    partial = (
        orders.withColumn(
            "_salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(n_salt))
        )
        .groupBy("o_custkey", "_salt")
        .agg(
            F.count("*").alias("_n"),
            dec_sum(F.col("o_totalprice"), 2).alias("_tp"),
        )
    )
    return (
        partial.groupBy("o_custkey")
        .agg(
            F.sum("_n").alias("n_orders"),
            # partial sums are exact decimals cast to double; re-fold at
            # the same scale so the merged sum is still order-independent
            dec_sum(F.col("_tp"), 2).alias("total_price"),
        )
        .orderBy(F.col("n_orders").desc(), F.col("o_custkey"))
        .limit(100)
    )


@register(
    "salted_join_orders",
    oracle=f"""
SELECT c_mktsegment, COUNT(*) AS n_orders,
  {sql_dec_sum("o_totalprice", 2)} AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    doc="Skew-safe salted equi-join (operators/joins.py:salted_join): the "
    "fact side carries a deterministic 16-way salt, the dimension side "
    "is replicated per salt, so a hot customer key spreads over 16 "
    "reducers instead of one straggler.  Salt-invariant by construction "
    "— oracle-checks against the plain join.",
    tags=("join", "skew", "salting"),
    extended=True,
)
def salted_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.joins import salted_join

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(
        orders, customer, "o_custkey", "c_custkey",
        salt_src="o_orderkey", n_salts=16,
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "approx_distinct_customers",
    oracle="""
SELECT o_orderpriority,
  COUNT(DISTINCT o_custkey % 50) AS approx_cohorts,
  COUNT(DISTINCT o_custkey) AS exact_customers,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="approx_count_distinct (HyperLogLog++) per order-priority — the "
    "mergeable scale path for countDistinct — oracle-paired at "
    "COVERING parameters (round 9): the sketched key is the 50-value "
    "customer cohort (o_custkey % 50) at rsd=0.01, where the HLL "
    "register count (2^14) so exceeds the domain squared that linear "
    "counting is collision-free and exactly the true distinct count; "
    "the full-cardinality exact countDistinct rides alongside so the "
    "row still answers the original question.  The HLL buffer + merge "
    "stays in the physical plan, so the hash pins the real 100 TB "
    "sketch path; full-key estimate error at production rsd=0.02 is "
    "asserted within bound in tests/test_plans.py.",
    tags=("agg", "sketch", "approx"),
    extended=True,
)
def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct(
                F.col("o_custkey") % 50, rsd=0.01
            ).alias("approx_cohorts"),
            F.countDistinct("o_custkey").alias("exact_customers"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "skew_profile_orders",
    oracle="""
WITH counts AS (
  SELECT o_custkey AS key, COUNT(*) AS n_rows FROM orders GROUP BY 1
),
tot AS (SELECT SUM(n_rows) AS total, COUNT(*) AS nkeys FROM counts),
ranked AS (
  SELECT c.key, c.n_rows,
    c.n_rows / CAST(t.total AS DOUBLE) AS share,
    c.n_rows / (CAST(t.total AS DOUBLE) / t.nkeys) AS x_vs_mean,
    ROW_NUMBER() OVER (ORDER BY c.n_rows DESC, c.key) AS rn
  FROM counts c CROSS JOIN tot t
)
SELECT key, n_rows, share, x_vs_mean
FROM ranked WHERE rn <= 10 ORDER BY n_rows DESC, key
""",
    doc="Key-skew diagnostics (operators/skew.py:key_skew_profile): "
    "top-10 heaviest customer keys in orders with each key's share "
    "of the table and its ratio to the mean key load — the "
    "measurement that decides WHEN the salted join/agg mitigations "
    "are worth their extra shuffle.  One aggregate pass, exact "
    "integers + single IEEE divisions (floats hash-match without a "
    "decimal fold), top-k with a total tiebreak.",
    tags=("skew", "diagnostics", "extension"),
    extended=True,
)
def skew_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.skew import key_skew_profile

    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return key_skew_profile(orders, "o_custkey", top_n=10)


# -- referential-integrity audit (round 8) ----------------------------------


@register(
    "ri_orphan_audit",
    oracle="""
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
   WHERE NOT EXISTS (SELECT 1 FROM customer c
                     WHERE c.c_custkey = o.o_custkey))
    AS orders_orphans,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
   WHERE NOT EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_orderkey = l.l_orderkey))
    AS lineitem_orphans,
  (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
    AS customers_referenced,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
   WHERE NOT EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey))
    AS customers_never_ordered
""",
    doc="Cross-table referential-integrity audit — the DQ check every "
    "warehouse runs before trusting joins: orphaned orders (missing "
    "customer), orphaned lineitems (missing order), referenced-key "
    "cardinality, and never-referenced dimension rows.  Each check is "
    "one LEFT ANTI join (Catalyst turns the small side into a "
    "broadcast where it fits); the four scalars assemble via "
    "cross-join of 1-row aggregates — zero driver collects.",
    tags=("dq", "join", "anti", "extension"),
    extended=True,
)
def ri_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    o_orph = (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey, "left_anti"
        )
        .agg(F.count("*").cast("long").alias("orders_orphans"))
    )
    l_orph = (
        lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
        )
        .agg(F.count("*").cast("long").alias("lineitem_orphans"))
    )
    refed = orders.agg(
        F.count_distinct("o_custkey").cast("long").alias(
            "customers_referenced"
        )
    )
    never = (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .agg(F.count("*").cast("long").alias("customers_never_ordered"))
    )
    return o_orph.crossJoin(l_orph).crossJoin(refed).crossJoin(never)


# -- RFM segmentation ----------------------------------------------------------


@register(
    "orders_rfm_segments",
    oracle="""
WITH mx AS (SELECT MAX(o_orderdate) AS anchor FROM orders),
per_cust AS (
  SELECT o_custkey,
    date_diff('day', MAX(o_orderdate), mx.anchor) AS recency_days,
    COUNT(*) AS frequency,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders, mx GROUP BY o_custkey, mx.anchor
),
ranked AS (
  SELECT *,
    row_number() OVER (ORDER BY recency_days, o_custkey) AS r_rank,
    row_number() OVER (ORDER BY frequency DESC, o_custkey) AS f_rank,
    row_number() OVER (ORDER BY monetary DESC, o_custkey) AS m_rank,
    COUNT(*) OVER () AS n
  FROM per_cust
),
scored AS (
  SELECT
    CAST(5 - least(((r_rank - 1) * 5) // n, 4) AS INT) AS r_q,
    CAST(5 - least(((f_rank - 1) * 5) // n, 4) AS INT) AS f_q,
    CAST(5 - least(((m_rank - 1) * 5) // n, 4) AS INT) AS m_q,
    monetary
  FROM ranked
)
SELECT r_q, f_q, m_q,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS segment_value
FROM scored GROUP BY r_q, f_q, m_q
""",
    doc="RFM segmentation (recency / frequency / monetary quintiles, "
    "5 = best): per-customer metrics in one orders pass, quintiles "
    "via rank-based integer cuts — row_number with the customer-key "
    "tiebreak, never ntile (whose tie placement is "
    "engine-dependent) — and the 125-cell segment grid with counts "
    "and decimal-exact value mass.  The workhorse marketing rollup; "
    "recency anchors at the corpus max order date (scalar-attach).",
    tags=("relational", "rfm", "extension"),
    extended=True,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("anchor"))
    per_cust = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "anchor")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .select(
            "o_custkey",
            F.datediff(F.col("anchor"), F.col("last_order")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    wr = Window.orderBy(F.col("recency_days"), F.col("o_custkey"))
    wf = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    wm = Window.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    wn = Window.partitionBy()
    ranked = (
        per_cust.withColumn("r_rank", F.row_number().over(wr))
        .withColumn("f_rank", F.row_number().over(wf))
        .withColumn("m_rank", F.row_number().over(wm))
        .withColumn("n", F.count("*").over(wn))
    )

    def quint(rank_col: str):
        return (
            F.lit(5)
            - F.least(
                F.expr(f"(({rank_col} - 1) * 5) div n"), F.lit(4)
            )
        ).cast("int")

    return (
        ranked.select(
            quint("r_rank").alias("r_q"),
            quint("f_rank").alias("f_q"),
            quint("m_rank").alias("m_q"),
            "monetary",
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("monetary").cast("decimal(18,2)"))
            .cast("double")
            .alias("segment_value"),
        )
    )


@register(
    "customers_pareto_frontier",
    oracle="""
WITH mx AS (SELECT MAX(o_orderdate) AS anchor FROM orders),
per_cust AS (
  SELECT o_custkey,
    CAST(date_diff('day', MAX(o_orderdate), mx.anchor) AS BIGINT)
      AS recency_days,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders, mx GROUP BY o_custkey, mx.anchor
)
SELECT o_custkey, recency_days, spend
FROM per_cust p
WHERE NOT EXISTS (
  SELECT 1 FROM per_cust q
  WHERE q.recency_days <= p.recency_days AND q.spend >= p.spend
    AND (q.recency_days < p.recency_days OR q.spend > p.spend)
)
""",
    doc="Pareto frontier of customers by (recency minimized, total "
    "spend maximized) — the skyline operator (Borzsonyi et al. 2001) "
    "via the sort-scan shape: one RANGE-frame window for the best "
    "spend at strictly smaller recency + one equal-recency partition "
    "window, O(n log n) instead of the O(n^2) dominance self-join "
    "the ORACLE literally runs (operators/topk.py:skyline2d) — so "
    "the hash match PROVES the window formulation equals the "
    "NOT-EXISTS definition, strictness and ties included.",
    tags=("relational", "skyline", "extension"),
    extended=True,
)
def customers_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.topk import skyline2d

    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("anchor"))
    per_cust = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "anchor")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("spend"),
        )
        .select(
            "o_custkey",
            F.datediff(F.col("anchor"), F.col("last_order"))
            .cast("long")
            .alias("recency_days"),
            "spend",
        )
    )
    return skyline2d(
        per_cust, "recency_days", "spend", "o_custkey"
    ).select("o_custkey", "recency_days", "spend")


@register(
    "orders_benford_audit",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM d),
obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY digit),
x AS (
  SELECT o.digit, o.c,
    ROUND(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / o.digit)
          / ln(CAST(10 AS DOUBLE)), 9) AS p_benford
  FROM obs o
)
SELECT x.digit, x.c AS n_orders,
  x.p_benford,
  ROUND(CAST(x.c AS DOUBLE) / n.nn, 9) AS p_observed,
  ROUND((CAST(x.c AS DOUBLE) / n.nn - x.p_benford)
        * (CAST(x.c AS DOUBLE) / n.nn - x.p_benford) / x.p_benford, 9)
    AS chi_term
FROM x, n
""",
    doc="Benford first-digit audit of order values — the classic "
    "fraud/fabrication screen: observed leading-digit frequencies vs "
    "log10(1 + 1/d), with per-digit chi-square terms.  First digit "
    "extracted via exact integer/string ops; the two lns quantize at "
    "the source and their ratio is one IEEE division; frequencies "
    "are exact-count divisions.  One scan, 9-row output.",
    tags=("relational", "benford", "audit", "extension"),
    extended=True,
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = orders.where(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"),
            1, 1,
        ).cast("int").alias("digit")
    )
    n = d.count()
    obs = d.groupBy("digit").agg(F.count("*").cast("long").alias("c"))
    p_benford = F.round(
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
        / F.log(F.lit(10.0)),
        9,
    )
    p_obs = F.col("c").cast("double") / F.lit(float(n))
    return obs.select(
        "digit",
        F.col("c").alias("n_orders"),
        p_benford.alias("p_benford"),
        F.round(p_obs, 9).alias("p_observed"),
        F.round(
            (p_obs - p_benford) * (p_obs - p_benford) / p_benford, 9
        ).alias("chi_term"),
    )


@register(
    "customers_gini_by_nation",
    oracle="""
WITH spend AS (
  SELECT c.c_nationkey AS nation, o.o_custkey,
    SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS s
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, o.o_custkey
),
ranked AS (
  SELECT nation, s,
    row_number() OVER (PARTITION BY nation ORDER BY s, o_custkey) AS i,
    COUNT(*) OVER (PARTITION BY nation) AS n
  FROM spend
),
agg AS (
  SELECT nation, MAX(n) AS n_customers,
    SUM(CAST(i AS DECIMAL(38,2)) * s) AS ws,
    SUM(CAST(s AS DECIMAL(38,2))) AS ts
  FROM ranked GROUP BY nation
)
SELECT nation, CAST(n_customers AS BIGINT) AS n_customers,
  CAST(CAST(ts AS DECIMAL(18,2)) AS DOUBLE) AS total_spend,
  ROUND(CAST(2 AS DOUBLE) * CAST(ws AS DOUBLE)
        / (n_customers * CAST(ts AS DOUBLE))
        - CAST(n_customers + 1 AS DOUBLE) / n_customers, 9) AS gini
FROM agg
""",
    doc="Gini coefficient of customer-spend concentration per nation "
    "(G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending-sorted "
    "spend, ties broken on customer key) — the inequality measure "
    "behind 'whale' revenue-risk dashboards.  Exact decimal "
    "rank-weighted sums; two IEEE divisions at the end; one shuffle "
    "for the per-customer rollup and one per-nation window.",
    tags=("relational", "gini", "extension"),
    extended=True,
)
def customers_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    spend = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"), "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s")
        )
    )
    w = Window.partitionBy("nation").orderBy(
        F.col("s"), F.col("o_custkey")
    )
    wn = Window.partitionBy("nation")
    ranked = spend.withColumn("i", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    agg = ranked.groupBy("nation").agg(
        F.max("n").alias("n_customers"),
        F.sum(F.col("i").cast("decimal(38,2)") * F.col("s")).alias("ws"),
        F.sum(F.col("s").cast("decimal(38,2)")).alias("ts"),
    )
    return agg.select(
        "nation",
        F.col("n_customers").cast("long").alias("n_customers"),
        F.col("ts").cast("decimal(18,2)").cast("double")
        .alias("total_spend"),
        F.round(
            F.lit(2.0) * F.col("ws").cast("double")
            / (F.col("n_customers") * F.col("ts").cast("double"))
            - (F.col("n_customers") + 1).cast("double")
            / F.col("n_customers"),
            9,
        ).alias("gini"),
    )


@register(
    "customers_spearman_freq_spend",
    oracle="""
WITH pc AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS f,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
  FROM orders GROUP BY o_custkey
),
rk AS (
  SELECT o_custkey,
    CAST(AVG(CAST(rf AS DECIMAL(38,1)))
         OVER (PARTITION BY f) AS DECIMAL(38,1)) AS rf,
    CAST(AVG(CAST(rm AS DECIMAL(38,1)))
         OVER (PARTITION BY m) AS DECIMAL(38,1)) AS rm
  FROM (
    SELECT o_custkey, f, m,
      row_number() OVER (ORDER BY f, o_custkey) AS rf,
      row_number() OVER (ORDER BY m, o_custkey) AS rm
    FROM pc)
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    SUM(CAST(rf AS DECIMAL(38,1))) AS sf,
    SUM(CAST(rm AS DECIMAL(38,1))) AS sm,
    SUM(CAST(rf * rm AS DECIMAL(38,2))) AS sfm,
    SUM(CAST(rf * rf AS DECIMAL(38,2))) AS sff,
    SUM(CAST(rm * rm AS DECIMAL(38,2))) AS smm
  FROM rk
)
SELECT n AS n_customers,
  ROUND((n * CAST(sfm AS DOUBLE) - CAST(sf AS DOUBLE) * CAST(sm AS DOUBLE))
        / (sqrt(n * CAST(sff AS DOUBLE)
                - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE))
           * sqrt(n * CAST(smm AS DOUBLE)
                  - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))), 9)
    AS spearman_rho
FROM s
""",
    doc="Tie-corrected Spearman rank correlation between customer "
    "order frequency and total spend: AVERAGE ranks per tied value "
    "(exact .5 decimals — a tied group's mean rank is always a "
    "half-integer), Pearson on ranks from exact decimal sums, two "
    "IEEE sqrt/divisions at the end.  The monotonic-association "
    "companion to the existing Pearson corr operators; frequency is "
    "heavily tied, which is exactly what the average-rank correction "
    "exists for.",
    tags=("relational", "spearman", "extension"),
    extended=True,
)
def customers_spearman_freq_spend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    pc = orders.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("f"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("m"),
    )
    rf = F.row_number().over(Window.orderBy(F.col("f"), F.col("o_custkey")))
    rm = F.row_number().over(Window.orderBy(F.col("m"), F.col("o_custkey")))
    rk = (
        pc.withColumn("rf0", rf.cast("decimal(38,1)"))
        .withColumn("rm0", rm.cast("decimal(38,1)"))
        .withColumn(
            "rf",
            F.avg("rf0").over(Window.partitionBy("f"))
            .cast("decimal(38,1)"),
        )
        .withColumn(
            "rm",
            F.avg("rm0").over(Window.partitionBy("m"))
            .cast("decimal(38,1)"),
        )
    )
    s = rk.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("rf").cast("decimal(38,1)")).alias("sf"),
        F.sum(F.col("rm").cast("decimal(38,1)")).alias("sm"),
        F.sum((F.col("rf") * F.col("rm")).cast("decimal(38,2)"))
        .alias("sfm"),
        F.sum((F.col("rf") * F.col("rf")).cast("decimal(38,2)"))
        .alias("sff"),
        F.sum((F.col("rm") * F.col("rm")).cast("decimal(38,2)"))
        .alias("smm"),
    )
    n = F.col("n")
    num = n * F.col("sfm").cast("double") - F.col("sf").cast("double") * F.col(
        "sm"
    ).cast("double")
    den = F.sqrt(
        n * F.col("sff").cast("double")
        - F.col("sf").cast("double") * F.col("sf").cast("double")
    ) * F.sqrt(
        n * F.col("smm").cast("double")
        - F.col("sm").cast("double") * F.col("sm").cast("double")
    )
    return s.select(
        n.alias("n_customers"),
        F.round(num / den, 9).alias("spearman_rho"),
    )


# -- bucketed co-located join (round 9) --------------------------------------


@register(
    "join_bucketed_colocated",
    oracle=f"""
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  {sql_dec_sum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="orders x lineitem revenue by priority over BUCKETED managed "
    "tables (sources/bucketed.py): both facts are written once with "
    "bucketBy(8, orderkey) + sortBy, so the equi-join reads them "
    "already co-partitioned — the physical plan has NO Exchange on "
    "the join key and sort-merge join skips its per-task sort "
    "(asserted in tests/test_bucketed.py).  This is the pay-the-"
    "shuffle-once-at-ingest layout a 1000-executor warehouse gives "
    "its core facts; results are byte-identical to the plain join "
    "(the oracle runs on the raw parquet).  Scale: the only "
    "exchanges left are the 5-row aggregate and the output sort.",
    tags=("join", "bucketing", "layout", "extension"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.sources.bucketed import bucketed_pair

    orders, lineitem = bucketed_pair(
        spark, sf_dir, "orders", "lineitem", "o_orderkey", "l_orderkey"
    )
    return (
        orders.join(
            lineitem,
            lineitem["l_orderkey"] == orders["o_orderkey"],
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# -- mergeable HLL sketch union (round 9) ------------------------------------


@register(
    "sketch_hll_union_users",
    oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
ORDER BY event_type
""",
    doc="Mergeable distinct-count sketches (Apache DataSketches HLL "
    "via Spark's hll_sketch_agg/hll_union_agg): one pass builds a "
    "per-event-type user sketch, and the 'ALL' rollup comes from "
    "UNIONING the per-type sketches — never rescanning the corpus.  "
    "That mergeability is THE 100 TB story: sketch each "
    "segment/partition once, answer any rollup by sketch union.  "
    "Oracle-paired at covering parameters (lgConfigK=21 keeps the "
    "sketch in coupon-exact sparse mode at fixture cardinalities, so "
    "estimates equal exact distinct counts; at production "
    "cardinality the same plan degrades gracefully to ~1% error).  "
    "Scale: map-side partial sketches merge in the agg — the shuffle "
    "carries fixed-size sketch bytes, not user ids.",
    tags=("sketch", "hll", "distinct", "mergeable", "extension"),
    extended=True,
)
def sketch_hll_union_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(21)).alias("sk")
    )
    per_type = sketches.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("long").alias("n_users"),
    )
    merged = sketches.agg(
        F.hll_union_agg("sk").alias("u")
    ).select(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate("u").cast("long").alias("n_users"),
    )
    return per_type.unionByName(merged).orderBy("event_type")


# -- iterative exact selection (round 9) -------------------------------------


@register(
    "selection_exact_percentiles",
    oracle="""
WITH ranked AS (
  SELECT l_extendedprice AS v,
    row_number() OVER (ORDER BY l_extendedprice) AS rn
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked)
SELECT pct, k, v AS value FROM (
  SELECT 50 AS pct, CAST(CEIL(0.50 * n) AS BIGINT) AS k FROM n
  UNION ALL SELECT 90, CAST(CEIL(0.90 * n) AS BIGINT) FROM n
  UNION ALL SELECT 99, CAST(CEIL(0.99 * n) AS BIGINT) FROM n
) ks JOIN ranked ON ranked.rn = ks.k
ORDER BY pct
""",
    doc="EXACT p50/p90/p99 of l_extendedprice via iterative bucketed "
    "selection (operators/selection.py): per percentile, O(log_B n) "
    "histogram passes over a shrinking bracket instead of the full "
    "global sort the oracle deliberately runs (fine in DuckDB at "
    "fixture scale, a corpus-wide range exchange at 100 TB).  Each "
    "round's bracket predicate pushes down to parquet row-group "
    "stats, so later rounds physically read less; driver state is "
    "the B-bucket histogram (bounded).  Results are bit-identical "
    "to the sort-based answer — exact, not approximate.",
    tags=("selection", "percentile", "iterative", "extension"),
    extended=True,
)
def selection_exact_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from diabetes_etl_spark.operators.selection import exact_kth

    li = load_table(spark, sf_dir, "lineitem")
    n = li.where(F.col("l_extendedprice").isNotNull()).count()
    rows = []
    for pct in (50, 90, 99):
        k = math.ceil(pct / 100.0 * n)
        v, _rounds = exact_kth(li, "l_extendedprice", k)
        rows.append((pct, k, v))
    return spark.createDataFrame(
        rows, "pct int, k long, value double"
    ).orderBy("pct")


# -- KMV bottom-k sketch: distinct + intersection estimates (round 9) ---------

_KMV_K = 4096  # covering at fixture scale: every sketch holds ALL
# distinct user hashes, so the estimator takes the exact-count branch
# and the DuckDB oracle can be the EXACT set algebra (the LSH-style
# covering-parameter pairing); the truncated-estimator branch is
# unit-tested with small k in tests/test_sketch.py.


def _kmv_event_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.sketch import (
        kmv_pair_stats,
        kmv_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "event_type", F.col("user_id"), _KMV_K)
    out = kmv_pair_stats(sk, _KMV_K)
    return out.select(
        F.col("ga").alias("type_a"),
        F.col("gb").alias("type_b"),
        F.col("n_bottom").alias("kmv_union_size"),
        F.col("matches").alias("kmv_common"),
        "est_union",
        F.round("est_jaccard", 9).alias("est_jaccard"),
    ).orderBy("type_a", "type_b")


register(
    "sketch_kmv_event_overlap",
    oracle="""
WITH u AS (
  SELECT DISTINCT event_type AS g, user_id FROM events
),
gs AS (SELECT DISTINCT g FROM u),
pairs AS (
  SELECT a.g AS ta, b.g AS tb FROM gs a JOIN gs b ON a.g < b.g
),
m AS (
  SELECT p.ta, p.tb, uu.user_id,
    MAX(CASE WHEN uu.g = p.ta THEN 1 ELSE 0 END) AS ia,
    MAX(CASE WHEN uu.g = p.tb THEN 1 ELSE 0 END) AS ib
  FROM pairs p JOIN u uu ON uu.g = p.ta OR uu.g = p.tb
  GROUP BY p.ta, p.tb, uu.user_id
)
SELECT ta AS type_a, tb AS type_b,
  CAST(COUNT(*) AS BIGINT) AS kmv_union_size,
  CAST(SUM(ia * ib) AS BIGINT) AS kmv_common,
  CAST(COUNT(*) AS DOUBLE) AS est_union,
  ROUND(CAST(SUM(ia * ib) AS DOUBLE) / COUNT(*), 9) AS est_jaccard
FROM m
GROUP BY ta, tb
ORDER BY type_a, type_b
""",
    doc="KMV (bottom-k / k-minimum-values) distinct sketch with SET "
    "INTERSECTION — the capability HLL lacks (inclusion-exclusion "
    "blows up on small overlaps; a bottom-k signature is a uniform "
    "sample of the union, so matches/sample-size is an unbiased "
    "Jaccard estimator — Broder min-wise hashing / Beyer SIGMOD'07).  "
    "Per event_type: the k smallest md5-prefix hashes of user_id "
    "(one distinct pass + per-group window, sketch table O(groups x "
    "k)); every pair's union/Jaccard/intersection estimate computes "
    "on the merged bottom-k WITHOUT rescanning events; sketches merge "
    "by union + re-truncate (per-day rollups never touch raw data).  "
    "Gate form runs k=4096 COVERING (sketch not full -> exact-count "
    "branch), so the oracle is the exact set algebra; the truncated "
    "(k-1)*2^32/tau estimator branch carries error-bound unit tests.",
    tags=("sketch", "kmv", "distinct", "jaccard", "extension", "headline"),
    extended=True,
)(_kmv_event_overlap)


# -- item-item collaborative filtering (round 9) -------------------------------


def _cf_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ui = (
        orders.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_partkey"),
              orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("u"),
                F.col("l_partkey").alias("i"))
        .distinct()
    )
    # bounded fan-out contract: degenerate power-users would make the
    # self-join quadratic per user; cap at 200 items (no fixture user
    # reaches it — the oracle applies the same cap).  The cap is a
    # COUNT WINDOW over the u partition rather than a groupBy+semi-join
    # pair: one exchange on u establishes the partitioning that the
    # self-join below then reuses on BOTH sides (identical subtrees →
    # ReusedExchange), where the semi-join form shuffled the relation
    # for the cap and again for each join side.
    from pyspark.sql import Window as _W

    kept = (
        ui.withColumn(
            "__nu", F.count(F.lit(1)).over(_W.partitionBy("u"))
        )
        .where(F.col("__nu") <= 200)
        .select("u", "i")
    )
    item_n = kept.groupBy("i").agg(F.count(F.lit(1)).alias("ni"))
    pairs = (
        kept.alias("a")
        .join(kept.alias("b"),
              (F.col("a.u") == F.col("b.u"))
              & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("ia"), F.col("b.i").alias("ib"))
        .agg(F.count(F.lit(1)).alias("cij"))
        .where(F.col("cij") >= 2)
    )
    sym = pairs.select("ia", "ib", "cij").unionByName(
        pairs.select(F.col("ib").alias("ia"),
                     F.col("ia").alias("ib"), "cij")
    )
    scored = (
        sym.join(item_n.withColumnRenamed("i", "ia")
                 .withColumnRenamed("ni", "na"), "ia")
        .join(item_n.withColumnRenamed("i", "ib")
              .withColumnRenamed("ni", "nb"), "ib")
        .select(
            "ia", "ib", "cij",
            (F.col("cij").cast("double")
             / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
             ).alias("cosine"),
        )
    )
    w = Window.partitionBy("ia").orderBy(
        F.desc("cosine"), F.asc("ib")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select(
            F.col("ia").alias("item"),
            F.col("ib").alias("rec_item"),
            F.col("cij").cast("long").alias("common_users"),
            F.round("cosine", 9).alias("cosine"),
            F.col("rk").cast("int").alias("rank"),
        )
        .orderBy("item", "rank")
    )


register(
    "cf_item_similarity_topk",
    oracle="""
WITH ui AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
kept AS (
  SELECT u, i FROM ui
  WHERE u IN (SELECT u FROM ui GROUP BY u HAVING COUNT(*) <= 200)
),
item_n AS (SELECT i, COUNT(*) AS ni FROM kept GROUP BY i),
pairs AS (
  SELECT a.i AS ia, b.i AS ib, COUNT(*) AS cij
  FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
  GROUP BY a.i, b.i HAVING COUNT(*) >= 2
),
sym AS (
  SELECT ia, ib, cij FROM pairs
  UNION ALL SELECT ib, ia, cij FROM pairs
),
scored AS (
  SELECT s.ia, s.ib, s.cij,
    CAST(s.cij AS DOUBLE)
      / SQRT(CAST(na.ni * nb.ni AS DOUBLE)) AS cosine
  FROM sym s
  JOIN item_n na ON na.i = s.ia
  JOIN item_n nb ON nb.i = s.ib
),
ranked AS (
  SELECT ia, ib, cij, cosine,
    ROW_NUMBER() OVER (PARTITION BY ia
      ORDER BY cosine DESC, ib) AS rk
  FROM scored
)
SELECT ia AS item, ib AS rec_item, CAST(cij AS BIGINT) AS common_users,
  ROUND(cosine, 9) AS cosine, CAST(rk AS INT) AS rank
FROM ranked WHERE rk <= 5
ORDER BY item, rank
""",
    doc="Item-item collaborative filtering: cosine-normalized "
    "co-occurrence cos(i,j) = c_ij / sqrt(c_i * c_j) over the "
    "distinct customer-part matrix, per-item top-5 neighbors by "
    "(cosine DESC, item) — the classic Amazon/implicit-feedback "
    "recommender as pure relational ops.  Scale contract: per-user "
    "pair fan-out is quadratic in basket size, so users above a 200-"
    "item cap are EXCLUDED (documented + mirrored in the oracle — "
    "the df-cap discipline: heavy users carry ~no similarity signal); "
    "min-support c_ij >= 2 prunes the pair tail; similarity joins key "
    "on item ids (int,int,count rows); top-k is a per-item window, "
    "never a global sort.  SQRT is IEEE-correctly-rounded, division "
    "pinned — identical doubles both engines.",
    tags=("recsys", "cf", "similarity", "extension", "headline"),
    extended=True,
)(_cf_item_similarity)


# -- Poisson bootstrap CI (round 9) --------------------------------------------

_BOOT_B = 64
# integer thresholds: floor(cdf_Poisson(1)(k) * 2^32) for k = 0..6 —
# pure-integer inverse-CDF lookup, identical literals both engines
_BOOT_TH = (1580030168, 3160060337, 3950075421, 4213413783,
            4279248373, 4292415291, 4294609777)


def _boot_w_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_TH)
    )
    return f"CASE {branches} ELSE {len(_BOOT_TH)} END"


def _poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    b = F.explode(
        F.sequence(F.lit(0), F.lit(_BOOT_B - 1))
    ).alias("b")
    rep = orders.select(
        F.col("o_orderkey"), F.col("o_totalprice"), b
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit("#"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = F.expr(_boot_w_sql("__u"))
    means = (
        rep.withColumn("__u", u)
        .withColumn("w", w)
        .groupBy("b")
        .agg(
            F.sum(
                (F.col("w") * F.col("o_totalprice")).cast(
                    "decimal(38,6)"
                )
            ).alias("s"),
            F.sum("w").alias("n"),
        )
        .select(
            "b",
            F.round(
                F.col("s").cast("double") / F.col("n"), 6
            ).alias("m"),
        )
    )
    wr = Window.orderBy("m")
    ranked = means.withColumn("rn", F.row_number().over(wr))
    lo_idx = 2       # ceil(0.025 * 64)
    hi_idx = 63      # ceil(0.975 * 64)
    point = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("point_mean"),
    )
    stats = ranked.agg(
        F.sum(F.col("m").cast("decimal(15,6)")).alias("sm"),
        F.sum(
            F.col("m").cast("decimal(15,6)")
            * F.col("m").cast("decimal(15,6)")
        ).alias("sm2"),
        F.max(F.when(F.col("rn") == lo_idx, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == hi_idx, F.col("m"))).alias("ci_hi"),
    ).select(
        F.sqrt(
            (
                F.col("sm2").cast("double")
                - F.col("sm").cast("double")
                * F.col("sm").cast("double")
                / F.lit(float(_BOOT_B))
            )
            / F.lit(float(_BOOT_B - 1))
        ).alias("boot_se"),
        "ci_lo",
        "ci_hi",
    )
    return point.crossJoin(F.broadcast(stats))


# shared by the explode form (the oracle twin) and the array-fold
# single-pass form below — weights are bit-identical in both, so one
# oracle serves both registrations
_BOOT_ORACLE = f"""
WITH rep AS (
  SELECT o_orderkey, o_totalprice, b.b AS b
  FROM orders, (SELECT UNNEST(generate_series(0, {_BOOT_B - 1})) AS b) b
),
wtab AS (
  SELECT b, o_totalprice,
    {_boot_w_sql("('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#' || CAST(b AS VARCHAR)), 1, 8))::BIGINT")} AS w
  FROM rep
),
means AS (
  SELECT b,
    ROUND(CAST(SUM(CAST(w * o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
          / SUM(w), 6) AS m
  FROM wtab GROUP BY b
),
ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn FROM means
),
stats AS (
  SELECT
    SQRT((CAST(SUM(CAST(m AS DECIMAL(19,6)) * CAST(m AS DECIMAL(19,6))) AS DOUBLE)
          - CAST(SUM(CAST(m AS DECIMAL(19,6))) AS DOUBLE)
            * CAST(SUM(CAST(m AS DECIMAL(19,6))) AS DOUBLE)
            / CAST({_BOOT_B} AS DOUBLE))
         / CAST({_BOOT_B - 1} AS DOUBLE)) AS boot_se,
    MAX(CASE WHEN rn = 2 THEN m END) AS ci_lo,
    MAX(CASE WHEN rn = 63 THEN m END) AS ci_hi
  FROM ranked
),
point AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
          / COUNT(*), 6) AS point_mean
  FROM orders
)
SELECT n_rows, point_mean, boot_se, ci_lo, ci_hi FROM point, stats
"""

register(
    "stats_poisson_bootstrap_ci",
    oracle=_BOOT_ORACLE,
    doc=f"Poisson bootstrap ({_BOOT_B} replicates) of the mean order "
    "value: each row's multiplicity in replicate b is an inverse-CDF "
    "lookup of Poisson(1) on an integer md5 hash of (row, b) — the "
    "bootstrap that works at 100 TB because it needs NO resampling "
    "pass, no global row count, and no per-replicate shuffle of data: "
    "one scan fans out B weighted copies (explode), map-side combine "
    "reduces them to B partial sums per task, and everything after "
    "runs on a B-row table (rank for the percentile CI, exact "
    "DECIMAL folds for the SE).  Inverse-CDF thresholds are pinned "
    "integer literals (floor(cdf * 2^32)) so replicate weights are "
    "bit-identical across engines — a deterministic bootstrap, which "
    "is also what makes it re-runnable/auditable in production.",
    tags=("statistics", "bootstrap", "extension"),
    extended=True,
)(_poisson_bootstrap_ci)


def _poisson_bootstrap_ci_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    # B weight COLUMNS projected in one whole-stage-codegen pass — NOT
    # a transform() array: higher-order-function lambdas evaluate
    # interpreted per element (measured 2x slower than the explode
    # form at B=64), while a wide flat projection of the same CASE
    # expressions stays inside codegen.  The replicate index is a
    # string LITERAL per column, so the hashed bytes are identical to
    # the explode form's concat(key, '#', CAST(b AS STRING)).
    def u_sql(i: int) -> str:
        return (
            "CAST(conv(substring(md5(concat(CAST(o_orderkey AS "
            f"STRING), '#{i}')), 1, 8), 16, 10) AS BIGINT)"
        )

    base = orders.select(
        F.col("o_totalprice"),
        *[
            F.expr(_boot_w_sql(u_sql(i))).alias(f"w{i}")
            for i in range(_BOOT_B)
        ],
    )
    sums = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("sx"),
        *[F.sum(F.col(f"w{i}")).alias(f"n{i}") for i in range(_BOOT_B)],
        *[
            F.sum(
                (F.col(f"w{i}") * F.col("o_totalprice")).cast(
                    "decimal(38,6)"
                )
            ).alias(f"s{i}")
            for i in range(_BOOT_B)
        ],
    )
    marr = F.array(
        *[
            F.round(
                F.col(f"s{i}").cast("double") / F.col(f"n{i}"), 6
            )
            for i in range(_BOOT_B)
        ]
    )
    means = sums.select(
        "n_rows", "sx", F.explode(marr).alias("m")
    )
    wr = Window.orderBy("m")
    ranked = means.withColumn("rn", F.row_number().over(wr))
    lo_idx = 2       # ceil(0.025 * 64)
    hi_idx = 63      # ceil(0.975 * 64)
    return ranked.agg(
        F.max("n_rows").cast("long").alias("n_rows"),
        F.round(
            F.max("sx").cast("double") / F.max("n_rows"), 6
        ).alias("point_mean"),
        F.sqrt(
            (
                F.sum(
                    F.col("m").cast("decimal(15,6)")
                    * F.col("m").cast("decimal(15,6)")
                ).cast("double")
                - F.sum(F.col("m").cast("decimal(15,6)")).cast("double")
                * F.sum(F.col("m").cast("decimal(15,6)")).cast("double")
                / F.lit(float(_BOOT_B))
            )
            / F.lit(float(_BOOT_B - 1))
        ).alias("boot_se"),
        F.max(F.when(F.col("rn") == lo_idx, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == hi_idx, F.col("m"))).alias("ci_hi"),
    ).select("n_rows", "point_mean", "boot_se", "ci_lo", "ci_hi")


register(
    "stats_poisson_bootstrap_ci_fold",
    oracle=_BOOT_ORACLE,
    doc=f"Single-pass NO-FAN-OUT form of stats_poisson_bootstrap_ci "
    "(round-9 VERDICT #7, optional): instead of exploding "
    f"{_BOOT_B} weighted row copies, each row projects {_BOOT_B} "
    "weight columns in one whole-stage-codegen pass and the global "
    f"aggregate keeps 2x{_BOOT_B}+2 buffers (sum w_b, sum w_b*x, "
    "count, sum x); the percentile/SE epilogue runs on the B-row "
    "means table exploded from one driver-sized row.  Weights are "
    "bit-identical to the explode form (same md5 bytes, replicate "
    "index folded into a string literal), so both share one oracle.  "
    "HONEST MEASUREMENT (local[32], sf0.1): the explode form is "
    "FASTER here (10.5 s vs 14.3 s min-of-2) — its 64x fan-out "
    "already collapses map-side, so locally it only costs cheap "
    "codegen'd row materialization, while the fold pays a 130-buffer "
    "aggregate per row.  The fold's advantage is structural, not "
    "local: zero row fan-out keeps the scan's memory bandwidth flat "
    "when the row is WIDE (real corpora carry text/embedding "
    "columns; the fixture's 2-column projection is the fold's worst "
    "case) and keeps B scalable without multiplying rows.  A "
    "transform()-array variant was tried and rejected: HOF lambdas "
    "evaluate interpreted (21.7 s — 2x worse than explode).",
    tags=("statistics", "bootstrap", "single-pass", "extension"),
    extended=True,
)(_poisson_bootstrap_ci_fold)


# -- join strategy hints (round 9) ---------------------------------------------

_HINT_SQL = """
SELECT 'shuffle_hash' AS strategy, n_orders, revenue FROM (
  SELECT /*+ SHUFFLE_HASH(o) */
    COUNT(*) AS n_orders,
    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
      AS revenue
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '1-URGENT'
) a
UNION ALL
SELECT 'merge', n_orders, revenue FROM (
  SELECT /*+ MERGE(o) */
    COUNT(*) AS n_orders,
    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
      AS revenue
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '2-HIGH'
) b
UNION ALL
SELECT 'broadcast', n_orders, revenue FROM (
  SELECT /*+ BROADCAST(o) */
    COUNT(*) AS n_orders,
    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
      AS revenue
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '3-MEDIUM'
) c
ORDER BY strategy
"""

register(
    "join_strategy_hints",
    oracle=_HINT_SQL,
    doc="Join-strategy HINTS — the manual override lever when "
    "Catalyst's size estimates are wrong at 100 TB (a common failure: "
    "a filtered dimension whose post-filter size the optimizer can't "
    "see).  The same orders-lineitem join runs under SHUFFLE_HASH "
    "(skips the sort — wins when one side fits per-partition memory), "
    "MERGE (sort-merge — wins when both sides are huge or pre-"
    "sorted), and BROADCAST (replicates the small side — kills the "
    "shuffle entirely); tests/test_plans.py asserts each hint "
    "actually flips the physical operator.  Results are identical by "
    "construction — strategy choice must never change answers — and "
    "DuckDB reads the hint as a comment, so ONE SQL string is both "
    "the plan and the oracle.",
    tags=("join", "hints", "plan-control", "extension"),
    extended=True,
)(_sql_query(_HINT_SQL, ("orders", "lineitem")))


# -- distribution-free median CI via order statistics (round 9) -----------------


def _median_ci_orderstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        "o_totalprice",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    n = F.col("n")
    half = n.cast("double") / 2
    z = F.lit(1.959963985)
    spread = z * F.sqrt(n.cast("double")) / 2
    lo_idx = F.ceil(half - spread).cast("long")
    hi_idx = (F.floor(half + spread) + 1).cast("long")
    med_lo = (n + 1).cast("double") / 2
    tagged = ranked.select(
        "o_totalprice", "rk", "n",
        lo_idx.alias("lo_idx"), hi_idx.alias("hi_idx"),
        F.floor(med_lo).cast("long").alias("m1"),
        F.ceil(med_lo).cast("long").alias("m2"),
    )
    return tagged.agg(
        F.max("n").cast("long").alias("n_rows"),
        F.round(
            (
                F.max(F.when(F.col("rk") == F.col("m1"),
                             F.col("o_totalprice")))
                + F.max(F.when(F.col("rk") == F.col("m2"),
                               F.col("o_totalprice")))
            )
            / 2,
            6,
        ).alias("median"),
        F.max(
            F.when(F.col("rk") == F.col("lo_idx"), F.col("o_totalprice"))
        ).alias("ci_lo"),
        F.max(
            F.when(F.col("rk") == F.col("hi_idx"), F.col("o_totalprice"))
        ).alias("ci_hi"),
    )


register(
    "stats_median_ci_orderstats",
    oracle="""
WITH ranked AS (
  SELECT o_totalprice,
    ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rk,
    COUNT(*) OVER () AS n
  FROM orders
),
idx AS (
  SELECT o_totalprice, rk, n,
    CAST(ceil(CAST(n AS DOUBLE) / 2
      - CAST(1.959963985 AS DOUBLE) * SQRT(CAST(n AS DOUBLE)) / 2)
      AS BIGINT) AS lo_idx,
    CAST(floor(CAST(n AS DOUBLE) / 2
      + CAST(1.959963985 AS DOUBLE) * SQRT(CAST(n AS DOUBLE)) / 2)
      + 1 AS BIGINT) AS hi_idx,
    CAST(floor(CAST(n + 1 AS DOUBLE) / 2) AS BIGINT) AS m1,
    CAST(ceil(CAST(n + 1 AS DOUBLE) / 2) AS BIGINT) AS m2
  FROM ranked
)
SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
  ROUND((MAX(CASE WHEN rk = m1 THEN o_totalprice END)
       + MAX(CASE WHEN rk = m2 THEN o_totalprice END)) / 2, 6)
    AS median,
  MAX(CASE WHEN rk = lo_idx THEN o_totalprice END) AS ci_lo,
  MAX(CASE WHEN rk = hi_idx THEN o_totalprice END) AS ci_hi
FROM idx
""",
    doc="Distribution-free 95% confidence interval for the MEDIAN via "
    "order statistics: the binomial argument puts the median between "
    "the (n/2 - z*sqrt(n)/2)-th and (n/2 + z*sqrt(n)/2 + 1)-th sorted "
    "values with ~95% coverage REGARDLESS of the distribution — no "
    "bootstrap resampling, no normality.  z is the pinned 9-decimal "
    "literal; indices are floor/ceil of identical doubles; the "
    "selected values are exact order statistics under the "
    "deterministic (value, key) order.  Complements "
    "stats_poisson_bootstrap_ci (mean) with the quantile analogue.  "
    "Fixture form sorts once; the 100 TB twin fetches the three "
    "order statistics with the iterative exact-selection operator "
    "(selection_exact_percentiles) — no global sort.",
    tags=("statistics", "quantile", "ci", "extension"),
    extended=True,
)(_median_ci_orderstats)


# -- Mann-Kendall trend test (round 9) -------------------------------------------


def _mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.signum(
            (F.col("b.c") - F.col("a.c")).cast("double")
        ).cast("long").alias("sgn")
    )
    s = pairs.agg(
        F.sum("sgn").alias("s"), F.count(F.lit(1)).alias("n_pairs")
    )
    ties = daily.groupBy("c").agg(F.count(F.lit(1)).alias("t"))
    tie_term = ties.agg(
        F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).alias("tt"),
        F.sum(F.lit(1) * F.col("t")).alias("n_days"),
    )
    j = s.crossJoin(F.broadcast(tie_term))
    n = F.col("n_days")
    var = (
        (n * (n - 1) * (2 * n + 5) - F.col("tt")).cast("double")
        / F.lit(18.0)
    )
    sgn = F.col("s")
    z = (
        F.when(sgn > 0, (sgn - 1).cast("double") / F.sqrt(var))
        .when(sgn < 0, (sgn + 1).cast("double") / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        n.cast("long").alias("n_days"),
        sgn.cast("long").alias("mk_s"),
        F.round(F.sqrt(var), 9).alias("sd_s"),
        F.round(z, 9).alias("z_mk"),
    )


register(
    "orders_mann_kendall_trend",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
    COUNT(*) AS c
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT CAST(sign(CAST(b.c - a.c AS DOUBLE)) AS BIGINT) AS sgn
  FROM daily a JOIN daily b ON a.d < b.d
),
s AS (SELECT SUM(sgn) AS s, COUNT(*) AS n_pairs FROM pairs),
ties AS (SELECT c, COUNT(*) AS t FROM daily GROUP BY c),
tt AS (
  SELECT SUM(t * (t - 1) * (2 * t + 5)) AS tt, SUM(t) AS n_days
  FROM ties
)
SELECT CAST(n_days AS BIGINT) AS n_days, CAST(s AS BIGINT) AS mk_s,
  ROUND(SQRT(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tt
    AS DOUBLE) / CAST(18.0 AS DOUBLE)), 9) AS sd_s,
  ROUND(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
      / SQRT(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tt
        AS DOUBLE) / CAST(18.0 AS DOUBLE))
    WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
      / SQRT(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tt
        AS DOUBLE) / CAST(18.0 AS DOUBLE))
    ELSE CAST(0 AS DOUBLE) END, 9) AS z_mk
FROM s, tt
""",
    doc="Mann-Kendall nonparametric trend TEST on daily order volume "
    "— the significance companion to orders_theil_sen_trend's slope: "
    "S = sum of pairwise signs (exact integers over the bounded "
    "daily-series self-join), tie-corrected variance n(n-1)(2n+5)/18 "
    "- sum t(t-1)(2t+5)/18, and the continuity-corrected z compared "
    "to fixed critical values (no libm p-value by design).  Scale: "
    "the corpus collapses to O(days) rows in one grouped pass before "
    "any pairing; the day-pair join is O(days^2) on a calendar-"
    "bounded table.",
    tags=("timeseries", "trend", "statistics", "extension"),
    extended=True,
)(_mann_kendall)


# -- lagged cross-correlation of two daily series (round 9) ----------------------


def _volume_value_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("d")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).cast("decimal(17,6)").alias("v"),
    )
    lags = spark.range(-3, 4).select(
        F.col("id").cast("int").alias("lag")
    )
    pairs = (
        lags.crossJoin(daily.alias("a"))
        .join(
            daily.alias("b"),
            F.col("b.d") == F.expr("date_add(a.d, lag)"),
        )
        .select(
            "lag",
            F.col("a.c").alias("x"),
            F.col("b.v").alias("y"),
        )
    )
    s_ = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy_dec"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_dec"),
        F.sum(F.col("y") * F.col("y")).alias("syy_dec"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy_dec").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy_dec").cast("double")
    syy = F.col("syy_dec").cast("double")
    cov = sxy - sx * sy / n
    vx = sxx - sx * sx / n
    vy = syy - sy * sy / n
    return s_.select(
        "lag",
        n.cast("long").alias("n_days"),
        F.round(cov / F.sqrt(vx * vy), 9).alias("crosscorr"),
    ).orderBy("lag")


register(
    "orders_volume_value_crosscorr",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
    COUNT(*) AS c,
    CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
      AS DOUBLE) / COUNT(*), 6) AS DECIMAL(19,6)) AS v
  FROM orders GROUP BY 1
),
lags AS (SELECT UNNEST(generate_series(-3, 3)) AS lag),
pairs AS (
  SELECT l.lag, a.c AS x, b.v AS y
  FROM lags l
  JOIN daily a ON TRUE
  JOIN daily b ON b.d = a.d + to_days(CAST(l.lag AS INT))
),
s AS (
  SELECT lag, COUNT(*) AS n,
    SUM(x) AS sx, SUM(y) AS sy_dec,
    SUM(x * x) AS sxx, SUM(x * y) AS sxy_dec,
    SUM(y * y) AS syy_dec
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_days,
  ROUND((CAST(sxy_dec AS DOUBLE) - CAST(sx AS DOUBLE)
      * CAST(sy_dec AS DOUBLE) / n)
    / SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        * CAST(sx AS DOUBLE) / n)
      * (CAST(syy_dec AS DOUBLE) - CAST(sy_dec AS DOUBLE)
        * CAST(sy_dec AS DOUBLE) / n)), 9) AS crosscorr
FROM s
ORDER BY lag
""",
    doc="Lagged cross-correlation (lags -3..+3 days) between daily "
    "order VOLUME and daily average order VALUE — does a busy day "
    "predict cheaper orders tomorrow?  Exact-sum Pearson per lag: "
    "the 6-decimal daily means fold through DECIMAL (Spark side "
    "(17,6) so products stay inside precision 38; the DuckDB twin "
    "casts (19,6) to force HUGEINT storage — the cross-engine "
    "decimal-width pattern), counts are integers, one division + "
    "sqrt per lag.  The lag pairing is a 7-row broadcast against the "
    "calendar-bounded daily table; the corpus collapses in ONE "
    "grouped pass before any of it.",
    tags=("timeseries", "crosscorr", "statistics", "extension"),
    extended=True,
)(_volume_value_crosscorr)


# -- Herfindahl-Hirschman concentration (round 9) ---------------------------------


def _hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("s")
        )
    )
    w = Window.partitionBy("c_nationkey")
    shares = spend.select(
        "c_nationkey",
        F.round(
            F.col("s").cast("double")
            / F.sum("s").over(w).cast("double"),
            9,
        ).cast("decimal(10,9)").alias("share"),
    )
    g = shares.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("share") * F.col("share")).alias("hhi_dec"),
    )
    return g.select(
        "c_nationkey",
        F.col("n_customers").cast("long").alias("n_customers"),
        F.round(F.col("hhi_dec").cast("double"), 9).alias("hhi"),
        F.round(
            F.lit(1.0) / F.col("hhi_dec").cast("double"), 6
        ).alias("effective_customers"),
    ).orderBy("c_nationkey")


register(
    "orders_hhi_concentration",
    oracle="""
WITH spend AS (
  SELECT c.c_nationkey, o.o_custkey,
    SUM(CAST(o.o_totalprice AS DECIMAL(38,2))) AS s
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, o.o_custkey
),
shares AS (
  SELECT c_nationkey,
    CAST(ROUND(CAST(s AS DOUBLE)
      / CAST(SUM(s) OVER (PARTITION BY c_nationkey) AS DOUBLE), 9)
      AS DECIMAL(10,9)) AS share
  FROM spend
),
g AS (
  SELECT c_nationkey, COUNT(*) AS n_customers,
    SUM(share * share) AS hhi_dec
  FROM shares GROUP BY c_nationkey
)
SELECT c_nationkey, CAST(n_customers AS BIGINT) AS n_customers,
  ROUND(CAST(hhi_dec AS DOUBLE), 9) AS hhi,
  ROUND(CAST(1 AS DOUBLE) / CAST(hhi_dec AS DOUBLE), 6)
    AS effective_customers
FROM g ORDER BY c_nationkey
""",
    doc="Herfindahl-Hirschman spend concentration per nation (= the "
    "Simpson index of customer spend shares): shares quantize to 9 "
    "decimals — DECIMAL(10,9), so share*share is the exact (21,18) "
    "product in BOTH engines (inside int64/precision limits on each "
    "side) and the HHI sum is order-independent; effective customer "
    "count = 1/HHI is the business readout (an HHI of 0.2 means the "
    "nation behaves as if it had 5 equal customers — the "
    "concentration companion to customers_gini_by_nation's "
    "inequality).  Two grouped passes, both keyed on nation/customer.",
    tags=("analytics", "concentration", "extension"),
    extended=True,
)(_hhi_concentration)


# -- one-way ANOVA: day-of-week effect (round 9) -----------------------------------


def _dow_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    g = daily.select(
        F.dayofweek("d").alias("dow"), F.col("c")
    ).groupBy("dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst"),
        F.sum(
            F.round(
                F.col("s").cast("double")
                * F.col("s")
                / F.col("n"),
                9,
            ).cast("decimal(28,9)")
        ).cast("double").alias("group_sq"),
    )
    k, nt = F.col("k"), F.col("nt")
    ss_between = F.col("group_sq") - F.col("st").cast("double") * F.col(
        "st"
    ) / nt
    ss_within = F.col("sst").cast("double") - F.col("group_sq")
    fstat = (ss_between / (k - 1)) / (ss_within / (nt - k))
    return t.select(
        k.cast("int").alias("k_groups"),
        nt.cast("long").alias("n_days"),
        F.round(ss_between, 6).alias("ss_between"),
        F.round(ss_within, 6).alias("ss_within"),
        F.round(fstat, 9).alias("f_stat"),
    )


register(
    "orders_dow_anova",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
    COUNT(*) AS c
  FROM orders GROUP BY 1
),
g AS (
  SELECT dayofweek(d) + 1 AS dow, COUNT(*) AS n, SUM(c) AS s,
    SUM(c * c) AS ss
  FROM daily GROUP BY 1
),
t AS (
  SELECT COUNT(*) AS k, SUM(n) AS nt, SUM(s) AS st, SUM(ss) AS sst,
    CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * s / n, 9)
      AS DECIMAL(28,9))) AS DOUBLE) AS group_sq
  FROM g
)
SELECT CAST(k AS INT) AS k_groups, CAST(nt AS BIGINT) AS n_days,
  ROUND(group_sq - CAST(st AS DOUBLE) * st / nt, 6) AS ss_between,
  ROUND(CAST(sst AS DOUBLE) - group_sq, 6) AS ss_within,
  ROUND(((group_sq - CAST(st AS DOUBLE) * st / nt) / (k - 1))
    / ((CAST(sst AS DOUBLE) - group_sq) / (nt - k)), 9) AS f_stat
FROM t
""",
    doc="One-way ANOVA F test for a day-of-week effect on daily order "
    "volume — the parametric seasonality check next to the MASE "
    "backtest and Mann-Kendall trend: SS_between from per-group "
    "s^2/n terms (9dp-quantized + DECIMAL-folded so the 7-group sum "
    "is order-independent), SS_within by subtraction from the exact "
    "integer sum of squares, F = (SSB/(k-1)) / (SSW/(n-k)) compared "
    "to F critical values (no libm p-value).  NOTE the engines' "
    "dayofweek bases differ (Spark 1=Sunday, DuckDB 0=Sunday) — the "
    "oracle adds 1, pinning identical group keys.  The corpus "
    "collapses to O(days) in one pass; everything after is O(7).",
    tags=("timeseries", "anova", "statistics", "extension"),
    extended=True,
)(_dow_anova)


# -- Wald-Wolfowitz runs test (round 9) ---------------------------------------------


def _runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    med = daily.agg(
        F.expr("median(c)").cast("double").alias("m")
    )
    lab = daily.crossJoin(F.broadcast(med)).where(
        F.col("c").cast("double") != F.col("m")
    ).select(
        "d",
        F.when(F.col("c").cast("double") > F.col("m"), 1)
        .otherwise(0)
        .alias("above"),
    )
    w = Window.orderBy("d")
    seq = lab.select(
        "above", F.lag("above").over(w).alias("prev")
    )
    s = seq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("above").alias("n1"),
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.col("above") != F.col("prev")),
                1,
            ).otherwise(0)
        ).alias("runs"),
    )
    n1 = F.col("n1")
    n2 = F.col("n") - n1
    mu = F.lit(1.0) + (2 * n1 * n2).cast("double") / F.col("n")
    var = (
        (2 * n1 * n2).cast("double")
        * ((2 * n1 * n2) - F.col("n")).cast("double")
        / (
            F.col("n").cast("double")
            * F.col("n")
            * (F.col("n") - 1)
        )
    )
    return s.select(
        F.col("n").cast("long").alias("n_days"),
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        F.col("runs").cast("long").alias("n_runs"),
        F.round(mu, 9).alias("expected_runs"),
        # degenerate sequences (one-sided after median exclusion, or
        # fewer than 2 labeled days) have zero run variance: NULL z,
        # never a fabricated statistic
        F.when(
            (n1 > 0) & (n2 > 0) & (F.col("n") > 1),
            F.round(
                (F.col("runs").cast("double") - mu) / F.sqrt(var), 9
            ),
        ).alias("z_runs"),
    )


register(
    "orders_runs_test",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
    COUNT(*) AS c
  FROM orders GROUP BY 1
),
med AS (SELECT CAST(median(c) AS DOUBLE) AS m FROM daily),
lab AS (
  SELECT d, CASE WHEN CAST(c AS DOUBLE) > m THEN 1 ELSE 0 END AS above
  FROM daily, med WHERE CAST(c AS DOUBLE) <> m
),
seq AS (
  SELECT above, LAG(above) OVER (ORDER BY d) AS prev FROM lab
),
s AS (
  SELECT COUNT(*) AS n, SUM(above) AS n1,
    SUM(CASE WHEN prev IS NULL OR above <> prev THEN 1 ELSE 0 END)
      AS runs
  FROM seq
)
SELECT CAST(n AS BIGINT) AS n_days, CAST(n1 AS BIGINT) AS n_above,
  CAST(n - n1 AS BIGINT) AS n_below, CAST(runs AS BIGINT) AS n_runs,
  ROUND(CAST(1 AS DOUBLE) + CAST(2 * n1 * (n - n1) AS DOUBLE) / n, 9)
    AS expected_runs,
  CASE WHEN n1 > 0 AND n - n1 > 0 AND n > 1 THEN
  ROUND((CAST(runs AS DOUBLE)
      - (CAST(1 AS DOUBLE) + CAST(2 * n1 * (n - n1) AS DOUBLE) / n))
    / SQRT(CAST(2 * n1 * (n - n1) AS DOUBLE)
      * CAST(2 * n1 * (n - n1) - n AS DOUBLE)
      / (CAST(n AS DOUBLE) * n * (n - 1))), 9) END AS z_runs
FROM s
""",
    doc="Wald-Wolfowitz runs test for randomness of the daily-volume "
    "sequence around its exact median (days AT the median excluded — "
    "the standard convention, stated): runs counted by one LAG "
    "window over the calendar-bounded labeled series, expected runs "
    "1 + 2*n1*n2/n and its variance from exact BIGINT products, z "
    "compared to fixed critical values.  Too FEW runs = clustering/"
    "regimes, too many = oscillation — the nonparametric sanity test "
    "a seasonal model's residual stream should pass.  The corpus "
    "collapses to O(days) in one grouped pass; the exact median at "
    "scale comes from the iterative selection operator.",
    tags=("timeseries", "runs-test", "statistics", "extension"),
    extended=True,
)(_runs_test)


# -- Gini / Lorenz revenue concentration (round 10) -----------------------------


def _gini_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(15,2)")).alias("rev")
    )
    w = Window.orderBy("rev", "o_custkey")
    ranked = rev.select(
        "rev",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    i_dec = F.col("i").cast("decimal(18,0)")
    agg = ranked.agg(
        F.max("n").alias("n"),
        F.sum("rev").alias("s"),
        F.sum(i_dec * F.col("rev")).alias("iws"),
        F.sum(
            F.when(
                F.col("i") <= F.floor(F.col("n") / 2), F.col("rev")
            )
        ).alias("bottom_half"),
        F.sum(
            F.when(
                F.col("i") > F.col("n") - F.floor(F.col("n") / 10),
                F.col("rev"),
            )
        ).alias("top_decile"),
    )
    n = F.col("n").cast("decimal(18,0)")
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("s").cast("double").alias("total_revenue"),
        F.round(
            (2 * F.col("iws") - (n + 1) * F.col("s")).cast("double")
            / (n * F.col("s")).cast("double"),
            9,
        ).alias("gini"),
        F.round(
            F.col("bottom_half").cast("double") / F.col("s").cast("double"),
            9,
        ).alias("bottom_half_share"),
        F.round(
            F.col("top_decile").cast("double") / F.col("s").cast("double"),
            9,
        ).alias("top_decile_share"),
    )


register(
    "orders_gini_customers",
    oracle="""
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(19,2))) AS rev
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i,
    COUNT(*) OVER () AS n
  FROM rev
),
agg AS (
  SELECT MAX(n) AS n, SUM(rev) AS s,
    SUM(CAST(i AS DECIMAL(19,0)) * rev) AS iws,
    SUM(CASE WHEN i <= CAST(floor(CAST(n AS DOUBLE) / 2) AS BIGINT)
        THEN rev END) AS bottom_half,
    SUM(CASE WHEN i > n - CAST(floor(CAST(n AS DOUBLE) / 10) AS BIGINT)
        THEN rev END) AS top_decile
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
  CAST(s AS DOUBLE) AS total_revenue,
  ROUND(CAST(2 * iws - (n + 1) * s AS DOUBLE)
        / CAST(n * s AS DOUBLE), 9) AS gini,
  ROUND(CAST(bottom_half AS DOUBLE) / CAST(s AS DOUBLE), 9)
    AS bottom_half_share,
  ROUND(CAST(top_decile AS DOUBLE) / CAST(s AS DOUBLE), 9)
    AS top_decile_share
FROM agg
""",
    doc="Gini coefficient + Lorenz-curve shares of customer revenue "
    "concentration: G = (2 sum(i x_i) - (n+1) S) / (n S) over the "
    "revenue-ascending rank order — exact DECIMAL products and sums "
    "end-to-end (rank cast DECIMAL(18,0) x revenue DECIMAL(15,2): "
    "Spark's product stays under precision 38 so nothing truncates; "
    "the DuckDB twin goes wide into HUGEINT — both exact, the r9 "
    "bootstrap-SE width pattern), with ONE IEEE division per output. "
    "bottom_half_share / top_decile_share read the Lorenz curve at "
    "the 50th and 90th percentiles (floor boundaries, integer rank "
    "compare).  Complements HHI (squared market shares) with the "
    "rank-based inequality view.  Fixture form sorts once globally; "
    "the 100 TB path gets rank i from a two-pass range-partitioned "
    "rank (quantile boundaries + per-bucket offsets, the "
    "docs_global_ids machinery) — no single-partition window.",
    tags=("statistics", "concentration", "extension"),
    extended=True,
)(_gini_customers)


# -- Kendall's tau-b over daily order aggregates (round 10) --------------------


def _kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y"),
    )
    a = daily.select(
        F.col("d").alias("da"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    # day-grain self-join: the pair volume is days^2 — BOUNDED by the
    # calendar (~2.4k days full TPC-H history -> ~6M cells), never by
    # order volume; per-cell work is integer sign tests
    pairs = a.join(b, F.col("da") < F.col("db"))
    sx = F.signum((F.col("xb") - F.col("xa")).cast("double"))
    sy = F.signum((F.col("yb") - F.col("ya")).cast("double"))
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when((sx * sy) > 0, 1).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((sx * sy) < 0, 1).otherwise(0)
        ).alias("dsc"),
        F.sum(F.when((sx == 0) & (sy != 0), 1).otherwise(0)).alias("tx"),
        F.sum(F.when((sy == 0) & (sx != 0), 1).otherwise(0)).alias("ty"),
        F.sum(F.when((sx == 0) & (sy == 0), 1).otherwise(0)).alias("txy"),
    )
    c, d_ = F.col("c"), F.col("dsc")
    den = F.sqrt(
        (c + d_ + F.col("tx")).cast("double")
        * (c + d_ + F.col("ty")).cast("double")
    )
    return agg.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        c.cast("long").alias("concordant"),
        d_.cast("long").alias("discordant"),
        F.col("tx").cast("long").alias("ties_x"),
        F.col("ty").cast("long").alias("ties_y"),
        F.col("txy").cast("long").alias("ties_both"),
        F.when(
            den > 0, F.round((c - d_).cast("double") / den, 9)
        ).alias("kendall_tau_b"),
    )


register(
    "orders_kendall_tau_daily",
    oracle="""
WITH daily AS (
  SELECT o_orderdate AS d, COUNT(*) AS x,
    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders GROUP BY o_orderdate
),
pairs AS (
  SELECT
    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sx,
    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sy
  FROM daily a JOIN daily b ON a.d < b.d
),
agg AS (
  SELECT COUNT(*) AS n_pairs,
    SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS c,
    SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS dsc,
    SUM(CASE WHEN sx = 0 AND sy != 0 THEN 1 ELSE 0 END) AS tx,
    SUM(CASE WHEN sy = 0 AND sx != 0 THEN 1 ELSE 0 END) AS ty,
    SUM(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END) AS txy
  FROM pairs
)
SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(c AS BIGINT) AS concordant,
  CAST(dsc AS BIGINT) AS discordant,
  CAST(tx AS BIGINT) AS ties_x,
  CAST(ty AS BIGINT) AS ties_y,
  CAST(txy AS BIGINT) AS ties_both,
  CASE WHEN (c + dsc + tx) * (c + dsc + ty) > 0 THEN
    ROUND(CAST(c - dsc AS DOUBLE)
      / SQRT(CAST(c + dsc + tx AS DOUBLE)
             * CAST(c + dsc + ty AS DOUBLE)), 9)
  END AS kendall_tau_b
FROM agg
""",
    doc="Kendall's tau-b between daily order volume and daily revenue "
    "— completes the correlation trio (Pearson = exact-sum corr "
    "plans, Spearman = customers_spearman_freq_spend; Kendall is the "
    "one whose value is a PROBABILITY statement, P(concordant) - "
    "P(discordant), robust to any monotone transform).  "
    "Concordant/discordant/tie counts are exact integers off a "
    "day-grain self-join whose pair volume is bounded by the "
    "CALENDAR (~2.4k days in full TPC-H history, ~6M sign tests) "
    "regardless of order volume; tau-b's tie-corrected denominator "
    "is one pinned-order sqrt at the end, degenerate-NULL.  The "
    "daily spine aggregates map-side before the join, so order rows "
    "never enter the pair stage.",
    tags=("statistics", "correlation", "extension"),
    extended=True,
)(_kendall_tau_daily)


# -- K-fold target encoding (round 13) ----------------------------------------

_TE_FOLDS = 5
_TE_SMOOTH = 20  # m-estimate pseudo-count toward the out-of-fold global mean


def _target_encoding_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold m-estimate target encoding of o_orderpriority
    against o_totalprice — the leakage-safe categorical encoder
    (Micci-Barreca 2001 smoothing + the K-fold scheme every gradient-
    boosting pipeline uses): rows in fold f are encoded ONLY from the
    other folds, enc(c,f) = (S_c - S_cf + m * mu_oof) / (n_c - n_cf
    + m), with mu_oof the global mean excluding fold f, so the
    encoder never sees its own target.

    Scale shape: ONE map-side-combinable grouped pass collapses the
    fact table to the (category x fold) cell grid; category / fold /
    global totals are windows over that bounded grid (|categories| *
    K cells — 25 here), never over rows.  Money sums fold as exact
    DECIMAL(38,2); the encoding itself is one IEEE division per cell,
    9dp-quantized.
    """
    orders = load_table(spark, sf_dir, "orders")
    fold = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % _TE_FOLDS
    )
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("category"), fold.alias("fold")
    ).agg(
        F.count("*").alias("n_cf"),
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("s_cf"),
    )
    # Windows over the bounded cell grid (|categories| x K rows), not
    # over order rows — the same bounded-epilogue discipline as the
    # causal plans' O(strata) stages.
    wc = Window.partitionBy("category")
    wf = Window.partitionBy("fold")
    wg = Window.partitionBy(F.lit(1))
    enriched = cells.select(
        "category",
        "fold",
        "n_cf",
        "s_cf",
        F.sum("n_cf").over(wc).alias("n_c"),
        F.sum("s_cf").over(wc).alias("s_c"),
        F.sum("n_cf").over(wf).alias("n_f"),
        F.sum("s_cf").over(wf).alias("s_f"),
        F.sum("n_cf").over(wg).alias("n_g"),
        F.sum("s_cf").over(wg).alias("s_g"),
    )
    mu_oof = F.round(
        (F.col("s_g") - F.col("s_f")).cast("double")
        / (F.col("n_g") - F.col("n_f")),
        9,
    )
    enc = F.round(
        (
            (F.col("s_c") - F.col("s_cf")).cast("double")
            + _TE_SMOOTH * mu_oof
        )
        / (F.col("n_c") - F.col("n_cf") + _TE_SMOOTH),
        9,
    )
    return enriched.select(
        "category",
        "fold",
        F.col("n_cf").alias("n_in_fold"),
        (F.col("n_c") - F.col("n_cf")).alias("n_oof"),
        mu_oof.alias("mu_oof"),
        enc.alias("enc_smoothed"),
    ).orderBy("category", "fold")


def _te_oracle() -> str:
    # enc lands at money magnitude (~1e5) where a 9dp round can hit a
    # representable tie; mirror Spark's string-first HALF_UP rounding.
    return sql_spark_round(f"""
WITH cells AS (
  SELECT o_orderpriority AS category,
    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
      % {_TE_FOLDS} AS fold,
    COUNT(*) AS n_cf,
    SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS s_cf
  FROM orders GROUP BY 1, 2
),
enriched AS (
  SELECT category, fold, n_cf, s_cf,
    SUM(n_cf) OVER (PARTITION BY category) AS n_c,
    SUM(s_cf) OVER (PARTITION BY category) AS s_c,
    SUM(n_cf) OVER (PARTITION BY fold) AS n_f,
    SUM(s_cf) OVER (PARTITION BY fold) AS s_f,
    SUM(n_cf) OVER () AS n_g,
    SUM(s_cf) OVER () AS s_g
  FROM cells
)
SELECT category, fold,
  CAST(n_cf AS BIGINT) AS n_in_fold,
  CAST(n_c - n_cf AS BIGINT) AS n_oof,
  ROUND(CAST(s_g - s_f AS DOUBLE) / (n_g - n_f), 9) AS mu_oof,
  ROUND((CAST(s_c - s_cf AS DOUBLE)
         + {_TE_SMOOTH} * ROUND(CAST(s_g - s_f AS DOUBLE) / (n_g - n_f), 9))
        / (n_c - n_cf + {_TE_SMOOTH}), 9) AS enc_smoothed
FROM enriched
ORDER BY category, fold
""")


register(
    "features_target_encoding_kfold",
    oracle=_te_oracle(),
    doc="Out-of-fold m-estimate target encoding (Micci-Barreca 2001 "
    "smoothing, K-fold leakage scheme): o_orderpriority encoded "
    "against o_totalprice with fold-f rows encoded only from the "
    "other folds and shrunk toward the out-of-fold global mean by "
    f"m={_TE_SMOOTH} pseudo-counts.  The categorical-feature "
    "companion to corpus_leakage_guarded_split: both guard target "
    "leakage by construction.  One grouped pass to the (category x "
    "fold) grid; everything after is windows over that bounded grid.",
    tags=("features", "encoding", "ml", "extension"),
    extended=True,
)(_target_encoding_kfold)


# -- HBOS histogram-based outlier scoring (round 13) -------------------------

_HBOS_BINS = 10
_HBOS_TOPK = 25
_HBOS_FEATS = ("l_quantity", "l_extendedprice", "l_discount")


def _hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBOS (Goldstein & Dengel 2012): histogram-based outlier score
    over lineitem's (quantity, extendedprice, discount) — score =
    sum_f -ln(density of the row's bin in feature f), the
    feature-independence anomaly detector that runs in two aggregate
    passes plus one scoring scan at ANY corpus size (the reason HBOS
    is the standard first-pass detector at scale; no pairwise
    distances, no trees).

    Equi-width bins from the global min/max (top bin closed);
    per-feature histograms come from ONE posexplode'd
    map-side-combined aggregate (3N ints collapse to 30 cells) and
    BROADCAST back onto the scoring scan; every row's own bin has
    count >= 1, so densities are never zero.  The bin index is a
    floor of an identically-ordered IEEE expression, each -ln term
    is 9dp-quantized at birth (the BM25 discipline), and the top-25
    readout orders by (score DESC, l_orderkey, l_linenumber) — a
    TakeOrderedAndProject heap, no corpus sort."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", *_HBOS_FEATS
    )
    bounds = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.min(f).alias(f"mn_{f}") for f in _HBOS_FEATS],
        *[F.max(f).alias(f"mx_{f}") for f in _HBOS_FEATS],
    )

    def bin_col(f):
        mn, mx = F.col(f"mn_{f}"), F.col(f"mx_{f}")
        return (
            F.when(
                mx > mn,
                F.least(
                    F.lit(_HBOS_BINS - 1),
                    F.floor(
                        (F.col(f) - mn) / (mx - mn) * F.lit(_HBOS_BINS)
                    ),
                ),
            )
            .otherwise(0)
            .cast("int")
        )

    binned = li.crossJoin(F.broadcast(bounds)).select(
        "l_orderkey",
        "l_linenumber",
        *_HBOS_FEATS,
        "n_rows",
        *[bin_col(f).alias(f"bin_{f}") for f in _HBOS_FEATS],
    )
    hist = (
        binned.select(
            F.posexplode(
                F.array(*[F.col(f"bin_{f}") for f in _HBOS_FEATS])
            ).alias("fi", "b")
        )
        .groupBy("fi", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = binned
    for i, f in enumerate(_HBOS_FEATS):
        h = hist.where(F.col("fi") == i).select(
            F.col("b").alias(f"bin_{f}"), F.col("c").alias(f"c_{f}")
        )
        scored = scored.join(F.broadcast(h), f"bin_{f}")
    score = sum(
        -F.round(
            F.log(F.col(f"c_{f}").cast("double") / F.col("n_rows")), 9
        )
        for f in _HBOS_FEATS
    )
    return (
        scored.select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            F.col("bin_l_quantity").alias("bin_qty"),
            F.col("bin_l_extendedprice").alias("bin_price"),
            F.col("bin_l_discount").alias("bin_disc"),
            F.round(score, 9).alias("hbos_score"),
        )
        .orderBy(
            F.col("hbos_score").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(_HBOS_TOPK)
    )


def _hbos_oracle() -> str:
    mnmx = ", ".join(
        f"MIN({f}) AS mn_{f}, MAX({f}) AS mx_{f}" for f in _HBOS_FEATS
    )
    bins = ",\n    ".join(
        f"CAST(CASE WHEN mx_{f} > mn_{f} THEN "
        f"LEAST({_HBOS_BINS - 1}, CAST(floor(({f} - mn_{f}) "
        f"/ (mx_{f} - mn_{f}) * {_HBOS_BINS}) AS BIGINT)) "
        f"ELSE 0 END AS INT) AS bin_{f}"
        for f in _HBOS_FEATS
    )
    hists = ",\n".join(
        f"h{i} AS (SELECT bin_{f} AS b, COUNT(*) AS c_{f} "
        f"FROM binned GROUP BY 1)"
        for i, f in enumerate(_HBOS_FEATS)
    )
    joins = "\n  ".join(
        f"JOIN h{i} ON h{i}.b = binned.bin_{f}"
        for i, f in enumerate(_HBOS_FEATS)
    )
    terms = " + ".join(
        f"(-ROUND(ln(CAST(c_{f} AS DOUBLE) / n_rows), 9))"
        for f in _HBOS_FEATS
    )
    return f"""
WITH bounds AS (
  SELECT COUNT(*) AS n_rows, {mnmx} FROM lineitem
),
binned AS (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
    l_discount, n_rows,
    {bins}
  FROM lineitem, bounds
),
{hists}
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
  l_discount,
  bin_l_quantity AS bin_qty,
  bin_l_extendedprice AS bin_price,
  bin_l_discount AS bin_disc,
  ROUND({terms}, 9) AS hbos_score
FROM binned
  {joins}
ORDER BY hbos_score DESC, l_orderkey, l_linenumber
LIMIT {_HBOS_TOPK}
"""


register(
    "lineitem_hbos_outliers",
    oracle=_hbos_oracle(),
    doc="HBOS histogram-based outlier scoring over lineitem "
    "(quantity, extendedprice, discount): score = sum of -ln(bin "
    "density) across per-feature 10-bin equi-width histograms — the "
    "constant-memory feature-independence anomaly detector that "
    "complements the robust-z/MAD family (which is univariate) and "
    "needs no distances or trees.  Global min/max in one aggregate, "
    "histograms from one posexplode'd map-side-combined pass "
    "(3N ints -> 30 cells) broadcast onto the scoring scan, -ln "
    "terms 9dp-quantized at birth, top-25 by (score DESC, key) via "
    "a TakeOrderedAndProject heap.  Scale: two aggregate passes + "
    "one scoring scan, broadcast-only joins, no corpus sort.",
    tags=("anomaly", "statistics", "relational", "extension"),
    extended=True,
)(_hbos_outliers)


# -- ABC / XYZ inventory segmentation (round 13) -----------------------------


def _abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ part segmentation — the supply-chain planner's
    two-axis classification: ABC = cumulative-revenue Pareto class
    (A while the running revenue share <= 0.80, B <= 0.95, else C),
    XYZ = weekly-demand variability class from the coefficient of
    variation over the corpus' calendar weeks with zero weeks
    counted (X: cv <= 0.5, Y: cv <= 1.0, else Z) — together they
    say what to stock tightly (AX) vs review manually (CZ).

    Exactness: revenue folds as DECIMAL(38,2) money sums (exact) and
    the running total as an ordered decimal window, so every
    cumulative share is ROUND(exact/exact, 9); the CV needs no mean
    subtraction: with S = sum qty, Q = sum qty^2 (exact BIGINT/
    DECIMAL) and W the corpus week count, cv = sqrt(Q*W - S^2)/S has
    an EXACT integer radicand and one correctly-rounded sqrt + one
    division.  Class boundaries compare 9dp-rounded values, so both
    engines cut identically.

    Scale shape: one map-side-combinable pass over lineitem to the
    PART DIMENSION; the revenue-ranked cumulative window rides that
    dimension (the customers_pareto_frontier precedent), never the
    fact table; W attaches as a 1-row broadcast."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(
            F.unix_date(F.col("l_shipdate").cast("date")) / 7
        ).alias("wk"),
    )
    weeks = li.agg(F.countDistinct("wk").alias("w_cnt"))
    per_part = li.groupBy("l_partkey").agg(
        F.sum("price").alias("revenue"),
        F.sum("qty").alias("s_qty"),
        F.sum((F.col("qty") * F.col("qty")).cast("decimal(38,0)")).alias(
            "q_qty"
        ),
    )
    tot = per_part.agg(F.sum("revenue").alias("rev_total"))
    w_rank = Window.orderBy(
        F.col("revenue").desc(), F.col("l_partkey").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    ranked = (
        per_part.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(weeks))
        .select(
            "l_partkey",
            "revenue",
            "s_qty",
            "q_qty",
            "rev_total",
            "w_cnt",
            F.sum("revenue").over(w_rank).alias("cum_rev"),
        )
    )
    rev_share = F.round(
        F.col("revenue").cast("double") / F.col("rev_total").cast("double"),
        9,
    )
    cum_share = F.round(
        F.col("cum_rev").cast("double") / F.col("rev_total").cast("double"),
        9,
    )
    rad = (
        F.col("q_qty") * F.col("w_cnt").cast("decimal(38,0)")
        - F.col("s_qty").cast("decimal(38,0)")
        * F.col("s_qty").cast("decimal(38,0)")
    )
    cv = F.round(
        F.sqrt(rad.cast("double")) / F.col("s_qty").cast("double"), 9
    )
    return (
        ranked.select(
            "l_partkey",
            F.round(F.col("revenue").cast("double"), 2).alias(
                "revenue"
            ),
            rev_share.alias("rev_share"),
            cum_share.alias("cum_share"),
            F.when(cum_share <= 0.80, "A")
            .when(cum_share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
            F.col("s_qty").cast("long").alias("total_qty"),
            F.round(
                F.col("s_qty").cast("double") / F.col("w_cnt"), 9
            ).alias("weekly_mean_qty"),
            cv.alias("weekly_cv"),
            F.when(cv <= 0.5, "X")
            .when(cv <= 1.0, "Y")
            .otherwise("Z")
            .alias("xyz_class"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_partkey").asc())
    )


register(
    "parts_abc_xyz_classes",
    oracle="""
WITH li AS (
  SELECT l_partkey,
    CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
    CAST(l_quantity AS BIGINT) AS qty,
    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7
      AS wk
  FROM lineitem
),
weeks AS (SELECT COUNT(DISTINCT wk) AS w_cnt FROM li),
per_part AS (
  SELECT l_partkey, SUM(price) AS revenue, SUM(qty) AS s_qty,
    SUM(CAST(qty AS HUGEINT) * qty) AS q_qty
  FROM li GROUP BY l_partkey
),
tot AS (SELECT SUM(revenue) AS rev_total FROM per_part),
ranked AS (
  SELECT l_partkey, revenue, s_qty, q_qty, rev_total, w_cnt,
    SUM(revenue) OVER (ORDER BY revenue DESC, l_partkey
                       ROWS UNBOUNDED PRECEDING) AS cum_rev
  FROM per_part CROSS JOIN tot CROSS JOIN weeks
),
scored AS (
  SELECT l_partkey,
    ROUND(CAST(revenue AS DOUBLE), 2) AS revenue,
    ROUND(CAST(revenue AS DOUBLE) / CAST(rev_total AS DOUBLE), 9)
      AS rev_share,
    ROUND(CAST(cum_rev AS DOUBLE) / CAST(rev_total AS DOUBLE), 9)
      AS cum_share,
    CAST(s_qty AS BIGINT) AS total_qty,
    ROUND(CAST(s_qty AS DOUBLE) / w_cnt, 9) AS weekly_mean_qty,
    ROUND(sqrt(CAST(q_qty * CAST(w_cnt AS HUGEINT)
                    - CAST(s_qty AS HUGEINT) * s_qty AS DOUBLE))
          / CAST(s_qty AS DOUBLE), 9) AS weekly_cv
  FROM ranked
)
SELECT l_partkey, revenue, rev_share, cum_share,
  CASE WHEN cum_share <= 0.80 THEN 'A'
       WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class,
  total_qty, weekly_mean_qty, weekly_cv,
  CASE WHEN weekly_cv <= 0.5 THEN 'X'
       WHEN weekly_cv <= 1.0 THEN 'Y' ELSE 'Z' END AS xyz_class
FROM scored
ORDER BY revenue DESC, l_partkey ASC
""",
    doc="ABC/XYZ part segmentation: cumulative-revenue Pareto class "
    "(A <= 0.80 running share, B <= 0.95, C) crossed with the "
    "weekly-demand-variability class from the coefficient of "
    "variation over corpus calendar weeks with zero weeks counted "
    "(X <= 0.5, Y <= 1.0, Z) — the supply-chain planner's stocking "
    "matrix, and the classification view of what Gini/Lorenz "
    "measures as a single number.  Exact money/quantity folds; the "
    "CV radicand Q*W - S^2 is an exact integer so cv needs one "
    "correctly-rounded sqrt + one division; class cuts compare "
    "9dp-rounded shares.  Scale: one map-side-combinable pass to "
    "the part DIMENSION; the ranked cumulative window rides that "
    "dimension (the customers_pareto_frontier precedent), never the "
    "fact table.",
    tags=("relational", "analytics", "segmentation", "extension"),
    extended=True,
)(_abc_xyz)


# -- Croston intermittent-demand forecast (round 13) -------------------------

_CROSTON_ALPHA = 0.1


def _croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (1972) per part: separate exponential
    smoothing of nonzero weekly demand SIZES and of the INTERVALS
    between demand weeks, forecast = z/p demand per week, plus the
    Syntetos-Boylan approximation (1 - alpha/2) z/p that corrects
    Croston's inversion bias — the standard forecaster for the
    intermittent (XYZ-class Z) parts where SES/Holt on the raw
    series systematically overshoots right after each spike.

    Each part's state walk is z' = (1-a) z + a q, p' = (1-a) p + a I
    carried as EXACT 1e9-scaled integers with explicit integer
    half-up rounding per step (the float recurrence lands on exact
    10th-decimal ties where the engines' double rounding modes
    split), seeded z = first demand, p = 1; Spark folds each part's sorted demand-week array
    with a native aggregate lambda (the orders_holt_smoothing
    pattern, per part), and the oracle replays the identical walk in
    a recursive CTE keyed by (part, idx) — every intermediate state
    for every part is hash-pinned.

    Scale shape: one map-side-combinable (part, week) aggregate;
    per-part arrays are bounded by the CALENDAR (52 rows/year), so
    the collect_list state is dimension x weeks, never fact-sized;
    the fold is scalar work per part row."""
    from pyspark.sql import functions as SF

    a = _CROSTON_ALPHA
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(
            F.unix_date(F.col("l_shipdate").cast("date")) / 7
        ).alias("wk"),
    )
    weekly = li.groupBy("l_partkey", "wk").agg(
        F.sum("qty").alias("q")
    )
    arrs = weekly.groupBy("l_partkey").agg(
        SF.sort_array(
            SF.collect_list(F.struct(F.col("wk"), F.col("q")))
        ).alias("ev"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    # State walks in EXACT 1e9-scaled integers with explicit integer
    # half-up rounding ((9x + y + 5) DIV 10): the float form of the
    # recurrence lands on exact 10th-decimal .5 ties where Spark
    # (HALF_UP) and DuckDB (half-even) round doubles apart.
    fold = (
        "aggregate(slice(ev, 2, size(ev) - 1), "
        "named_struct("
        "'z', element_at(ev, 1).q * CAST(1000000000 AS BIGINT), "
        "'p', CAST(1000000000 AS BIGINT), "
        "'w', element_at(ev, 1).wk), "
        "(st, e) -> named_struct("
        "'z', (9 * st.z + e.q * CAST(1000000000 AS BIGINT) + 5) "
        "DIV 10, "
        "'p', (9 * st.p + (e.wk - st.w) "
        "* CAST(1000000000 AS BIGINT) + 5) DIV 10, "
        "'w', e.wk))"
    )
    st = arrs.withColumn("st", F.expr(fold))
    fc_int = F.expr(
        "CAST(round(CAST(st.z AS DOUBLE) / CAST(st.p AS DOUBLE) "
        "* 1e9, 0) AS BIGINT)"
    )
    sba_int = F.expr(
        "(19 * CAST(round(CAST(st.z AS DOUBLE) / CAST(st.p AS DOUBLE) "
        "* 1e9, 0) AS BIGINT) + 10) DIV 20"
    )
    scale = F.lit(1e9)
    return st.select(
        "l_partkey",
        "n_events",
        F.round(F.col("st.z").cast("double") / scale, 9).alias(
            "size_est"
        ),
        F.round(F.col("st.p").cast("double") / scale, 9).alias(
            "interval_est"
        ),
        F.round(fc_int.cast("double") / scale, 9).alias(
            "croston_forecast"
        ),
        F.round(sba_int.cast("double") / scale, 9).alias(
            "sba_forecast"
        ),
    ).orderBy("l_partkey")


register(
    "parts_croston_forecast",
    oracle=f"""
WITH RECURSIVE li AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7
      AS wk
  FROM lineitem
),
weekly AS (
  SELECT l_partkey, wk, SUM(qty) AS q FROM li GROUP BY 1, 2
),
seq AS (
  SELECT l_partkey, wk, q,
    row_number() OVER (PARTITION BY l_partkey ORDER BY wk) AS idx,
    COUNT(*) OVER (PARTITION BY l_partkey) AS n_events
  FROM weekly
),
rec AS (
  SELECT l_partkey, idx, n_events,
    CAST(q * 1000000000 AS BIGINT) AS z,
    CAST(1000000000 AS BIGINT) AS p,
    wk AS w
  FROM seq WHERE idx = 1
  UNION ALL
  SELECT s.l_partkey, s.idx, s.n_events,
    CAST((9 * rec.z + s.q * 1000000000 + 5) // 10 AS BIGINT) AS z,
    CAST((9 * rec.p + (s.wk - rec.w) * 1000000000 + 5) // 10
         AS BIGINT) AS p,
    s.wk AS w
  FROM rec JOIN seq s
    ON s.l_partkey = rec.l_partkey AND s.idx = rec.idx + 1
)
SELECT l_partkey,
  CAST(n_events AS BIGINT) AS n_events,
  ROUND(CAST(z AS DOUBLE) / 1e9, 9) AS size_est,
  ROUND(CAST(p AS DOUBLE) / 1e9, 9) AS interval_est,
  ROUND(CAST(CAST(round(CAST(z AS DOUBLE) / CAST(p AS DOUBLE)
                        * 1e9, 0) AS BIGINT) AS DOUBLE) / 1e9, 9)
    AS croston_forecast,
  ROUND(CAST((19 * CAST(round(CAST(z AS DOUBLE) / CAST(p AS DOUBLE)
                              * 1e9, 0) AS BIGINT) + 10) // 20
             AS DOUBLE) / 1e9, 9) AS sba_forecast
FROM rec WHERE idx = n_events
ORDER BY l_partkey
""",
    doc="Croston intermittent-demand forecast per part (Croston "
    "1972; Syntetos-Boylan 2005 bias correction): separate "
    f"alpha={_CROSTON_ALPHA} exponential smoothing of nonzero "
    "weekly demand sizes and inter-demand intervals, forecast = "
    "z/p per week with the SBA (1 - alpha/2) correction — the "
    "standard forecaster for the XYZ-class-Z parts where SES/Holt "
    "overshoots after every spike; completes the forecasting "
    "family beside Holt and the seasonal-naive MASE backtest.  "
    "Spark folds each part's sorted demand-week array with a "
    "native aggregate lambda; the oracle replays the identical "
    "9dp-quantized walk in a recursive CTE keyed by (part, idx) — "
    "every intermediate state for every part hash-pinned.  Scale: "
    "one map-side-combinable (part, week) pass; per-part arrays "
    "bounded by the calendar.",
    tags=("relational", "forecasting", "timeseries", "extension"),
    extended=True,
)(_croston)
