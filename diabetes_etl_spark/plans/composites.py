"""Composite queries — one per operator family that the extended
tier splits into per-operator variants (each registered with
``extended=True``).

The driver's correctness gate checks the first GATE_CAPACITY registered
queries, so each family gets ONE merged query here that exercises every
member operator in a single oracle-paired result; the per-operator
split-outs stay registered in the extended tier and run through the
same oracle comparison in tests/test_oracle.py.

Determinism follows the registry contract: decimal-exact sums, explicit
rounding on rational divisions, total tiebreak orders, identical column
aliases on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from diabetes_etl_spark.functions.numeric import dec_sum, sql_dec_sum
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_events_stream, load_table
from diabetes_etl_spark.streaming.ingest import stream_snapshot

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_DUCK_FMT = "%Y-%m-%d %H:%M:%S"


# ---------------------------------------------------------------------------
# §2.5 window family: ranking top-k, lead/lag, running frame, distribution
# ranks (ntile / percent_rank / cume_dist), and share-of-partition-total —
# one pass over orders, one window sort per partition spec.
# Scale: all functions share the (status, price DESC, key) sort, so Spark
# plans a single Window exchange+sort; the rank filter bounds the output.
# ---------------------------------------------------------------------------


@register(
    "window_suite",
    oracle="""
SELECT o_orderstatus, o_orderkey, o_totalprice, price_rank, prev_price,
  next_price, running_total, price_quartile, price_pct_rank,
  price_cume_dist, share_of_status
FROM (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
    row_number() OVER w AS price_rank,
    CAST(lag(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS prev_price,
    CAST(lead(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS next_price,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      AS running_total,
    CAST(ntile(4) OVER w AS INT) AS price_quartile,
    ROUND(percent_rank() OVER w, 9) AS price_pct_rank,
    ROUND(cume_dist() OVER w, 9) AS price_cume_dist,
    ROUND(o_totalprice / CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          PARTITION BY o_orderstatus) AS DOUBLE), 9) AS share_of_status
  FROM orders
  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
) t
WHERE price_rank <= 10
ORDER BY o_orderstatus, price_rank
""",
    doc="Window-family composite: row_number top-k per group, lead/lag, "
    "running decimal-exact SUM frame, ntile/percent_rank/cume_dist, and "
    "share-of-partition-total — the gate twin of the extended "
    "window_topk_per_group / window_running_lead_lag / "
    "window_distribution_ranks / window_share_of_total queries "
    "(SURVEY §2.5).",
    tags=("window", "topk", "composite"),
)
def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    running = (
        F.sum(dec)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
    )
    status_total = (
        F.sum(dec).over(Window.partitionBy("o_orderstatus")).cast("double")
    )
    return (
        orders.select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("price_rank"),
            F.lag(dec).over(w).cast("double").alias("prev_price"),
            F.lead(dec).over(w).cast("double").alias("next_price"),
            running.alias("running_total"),
            F.ntile(4).over(w).alias("price_quartile"),
            F.round(F.percent_rank().over(w), 9).alias("price_pct_rank"),
            F.round(F.cume_dist().over(w), 9).alias("price_cume_dist"),
            F.round(F.col("o_totalprice") / status_total, 9).alias(
                "share_of_status"
            ),
        )
        .filter(F.col("price_rank") <= 10)
        .orderBy("o_orderstatus", "price_rank")
    )


# ---------------------------------------------------------------------------
# §2.3 statistics family: exact median / interpolated percentiles +
# Pearson corr + sample stddev/variance in one grouped aggregate
# (reference analogues: pipeline:123-155 imputation, :323,608-611 stats).
# ---------------------------------------------------------------------------


@register(
    "quantiles_corr_stddev_by_flag",
    oracle="""
SELECT l_returnflag,
  ROUND(median(l_quantity), 6) AS med_qty,
  ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
  ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
  ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
  ROUND(stddev_samp(l_discount), 6) AS discount_stddev,
  ROUND(var_samp(l_quantity), 6) AS qty_variance
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="Statistics composite: exact median/percentiles + corr + sample "
    "stddev/variance per group — gate twin of the extended "
    "quantiles_by_flag / corr_stddev_by_flag queries (SURVEY §2.3; "
    "reference pipeline:123-155,323,608-611).",
    tags=("agg", "quantile", "stats", "composite"),
    extended=True,
)
def quantiles_corr_stddev_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_quantity"), 6).alias("med_qty"),
            F.round(F.percentile("l_quantity", 0.25), 6).alias("p25_qty"),
            F.round(F.percentile("l_quantity", 0.75), 6).alias("p75_qty"),
            F.round(F.percentile("l_extendedprice", 0.9), 6).alias("p90_price"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
                "qty_price_corr"
            ),
            F.round(F.stddev("l_discount"), 6).alias("discount_stddev"),
            F.round(F.var_samp("l_quantity"), 6).alias("qty_variance"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# §2.4 join family: left-outer, left-semi, left-anti over the same
# customer/orders pair, tagged per branch.
# Scale: each branch shuffles on the same custkey — AQE can reuse the
# exchange; semi/anti carry only the key column of the probe side.
# ---------------------------------------------------------------------------


@register(
    "join_outer_semi_anti",
    oracle=f"""
SELECT 'outer' AS join_kind, c_custkey AS custkey,
  COUNT(o_orderkey) AS n_orders,
  COALESCE({sql_dec_sum("o_totalprice", 2)}, 0.0) AS metric
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
UNION ALL
SELECT 'semi', c_custkey, CAST(NULL AS BIGINT), c_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT 'anti', c_custkey, CAST(NULL AS BIGINT), c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="Join-family composite: left-outer (null-safe agg over zero-order "
    "customers) + left-semi (EXISTS) + left-anti (NOT EXISTS), tagged per "
    "branch — gate twin of the extended join_outer_order_counts / "
    "join_semi_active_customers / join_anti_inactive_customers queries "
    "(SURVEY §2.4).",
    tags=("join", "outer", "semi", "anti", "composite"),
)
def join_outer_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    order_keys = orders.select("o_custkey")
    outer = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dec_sum(F.col("o_totalprice"), 2), F.lit(0.0)).alias(
                "metric"
            ),
        )
        .select(
            F.lit("outer").alias("join_kind"),
            F.col("c_custkey").alias("custkey"),
            "n_orders",
            "metric",
        )
    )
    semi = cust.join(
        order_keys, cust.c_custkey == order_keys.o_custkey, "left_semi"
    ).select(
        F.lit("semi").alias("join_kind"),
        F.col("c_custkey").alias("custkey"),
        F.lit(None).cast("bigint").alias("n_orders"),
        F.col("c_acctbal").alias("metric"),
    )
    anti = cust.join(
        order_keys, cust.c_custkey == order_keys.o_custkey, "left_anti"
    ).select(
        F.lit("anti").alias("join_kind"),
        F.col("c_custkey").alias("custkey"),
        F.lit(None).cast("bigint").alias("n_orders"),
        F.col("c_acctbal").alias("metric"),
    )
    return outer.unionByName(semi).unionByName(anti)


# ---------------------------------------------------------------------------
# §2.7 set-operation family: INTERSECT, EXCEPT, DISTINCT over one key
# domain, tagged per branch.
# ---------------------------------------------------------------------------


@register(
    "setop_intersect_except_distinct",
    oracle="""
SELECT 'intersect' AS op, custkey FROM (
  SELECT o_custkey AS custkey FROM orders
  INTERSECT
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
) t
UNION ALL
SELECT 'except', custkey FROM (
  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
  EXCEPT
  SELECT o_custkey FROM orders
) t
UNION ALL
SELECT 'distinct', custkey FROM (
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
) t
""",
    doc="Set-operation composite: INTERSECT + EXCEPT (both distinct "
    "semantics) + DISTINCT projection, tagged per branch — gate twin of "
    "the extended setop_intersect / setop_except / distinct_flag_status "
    "queries (SURVEY §2.7).",
    tags=("setop", "distinct", "composite"),
    extended=True,
)
def setop_intersect_except_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    order_keys = orders.select(F.col("o_custkey").alias("custkey"))
    rich = cust.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    inter = order_keys.intersect(rich).select(
        F.lit("intersect").alias("op"), "custkey"
    )
    # subtract() IS Spark's EXCEPT DISTINCT — semantically equal to the
    # oracle's EXCEPT for any input multiplicity (exceptAll+distinct
    # would keep a multiplicity->1 survivor for left rows that also
    # appear on the right).
    exc = rich.subtract(order_keys).select(
        F.lit("except").alias("op"), "custkey"
    )
    dist = (
        orders.filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
        .select(F.lit("distinct").alias("op"), "custkey")
    )
    return inter.unionByName(exc).unionByName(dist)


# ---------------------------------------------------------------------------
# §2.7 pivot/unpivot family: wide pivot with pinned value list, then
# unpivot back to long — a lossless round-trip, checked as one result
# (reference: dashboard pivot widget D:742-790).
# ---------------------------------------------------------------------------


@register(
    "pivot_unpivot_roundtrip",
    oracle="""
WITH p AS (
  SELECT o_orderpriority,
    COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
    COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
    COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'F' AS o_orderstatus, status_f AS n_orders FROM p
UNION ALL
SELECT o_orderpriority, 'O', status_o FROM p
UNION ALL
SELECT o_orderpriority, 'P', status_p FROM p
ORDER BY o_orderpriority, o_orderstatus
""",
    doc="Pivot→unpivot round-trip: server-side pivot with pinned status "
    "values (zero-filled), unpivoted back to long format — gate twin of "
    "the extended pivot_priority_by_status / unpivot_part_metrics / "
    "kpi_long_unpivot queries (SURVEY §2.7; reference dashboard "
    "D:742-790).",
    tags=("pivot", "unpivot", "composite"),
    extended=True,
)
def pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            *[
                F.coalesce(F.col(c), F.lit(0).cast("long")).alias(
                    f"status_{c.lower()}"
                )
                for c in ("F", "O", "P")
            ],
        )
    )
    long = wide.unpivot(
        "o_orderpriority",
        ["status_f", "status_o", "status_p"],
        "o_orderstatus",
        "n_orders",
    ).select(
        "o_orderpriority",
        F.upper(F.substring("o_orderstatus", 8, 1)).alias("o_orderstatus"),
        "n_orders",
    )
    return long.orderBy("o_orderpriority", "o_orderstatus")


# ---------------------------------------------------------------------------
# §2.3 grouping-set family: GROUPING SETS over the dimension join with a
# HAVING filter applied to every grouping level. Shared SQL text = same
# Catalyst and DuckDB semantics.
# ---------------------------------------------------------------------------

_GS_HAVING_SQL = f"""
SELECT COALESCE(r_name, 'ALL') AS region,
  COALESCE(n_name, 'ALL') AS nation,
  COUNT(*) AS n_customers,
  {sql_dec_sum("c_acctbal", 2)} AS total_acctbal
FROM {{customer}}
JOIN {{nation}} ON c_nationkey = n_nationkey
JOIN {{region}} ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
HAVING COUNT(*) >= 10
ORDER BY region, nation
"""


@register(
    "grouping_sets_having_regions",
    oracle=_GS_HAVING_SQL.format(
        customer="customer", nation="nation", region="region"
    ),
    doc="Grouping-set composite: GROUPING SETS ((region,nation),(region),()) "
    "over broadcast dimension joins with HAVING pruning small groups at "
    "every grouping level — gate twin of the extended "
    "grouping_sets_regions / rollup_status_priority / "
    "cube_status_priority / having_frequent_customers queries "
    "(SURVEY §2.3/§2.7).",
    tags=("agg", "grouping-sets", "having", "sql", "composite"),
    extended=True,
)
def grouping_sets_having_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"gsh_{t}")
    return spark.sql(
        _GS_HAVING_SQL.format(
            customer="gsh_customer", nation="gsh_nation", region="gsh_region"
        )
    )


# ---------------------------------------------------------------------------
# §2.8 event-time window family: tumbling + sliding windows over the same
# event stream, tagged per branch. Spark assigns each event to its 1
# tumbling / 4 sliding windows map-side; the oracle expands the same
# offsets explicitly.
# ---------------------------------------------------------------------------


@register(
    "events_windows",
    oracle=f"""
SELECT 'tumbling' AS window_kind,
  strftime(date_trunc('hour', ts), '{_DUCK_FMT}') AS window_start,
  COUNT(*) AS n_events,
  {sql_dec_sum("value", 2)} AS total_value
FROM events
GROUP BY 2
UNION ALL
SELECT 'sliding', strftime(window_start, '{_DUCK_FMT}'), COUNT(*),
  {sql_dec_sum("value", 2)}
FROM (
  SELECT value,
    CAST(to_timestamp(900 * CAST(floor(epoch(ts) / 900) AS BIGINT))
         AS TIMESTAMP) - (k * INTERVAL 15 MINUTE) AS window_start
  FROM events, (VALUES (0), (1), (2), (3)) off(k)
) expanded
GROUP BY 2
ORDER BY window_kind, window_start
""",
    doc="Event-time window composite: tumbling 1-hour and sliding "
    "1-hour/15-minute windows over the same events, tagged per branch — "
    "gate twin of the extended events_tumbling_hourly / "
    "events_sliding_windows queries (SURVEY §2.8).",
    tags=("events", "window-time", "composite"),
    extended=True,
)
def events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tumbling = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value"), 2).alias("total_value"),
        )
        .select(
            F.lit("tumbling").alias("window_kind"),
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    sliding = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value"), 2).alias("total_value"),
        )
        .select(
            F.lit("sliding").alias("window_kind"),
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    return tumbling.unionByName(sliding).orderBy("window_kind", "window_start")


# ---------------------------------------------------------------------------
# §2.8 streaming join family: stream-static broadcast enrich + watermarked
# stream-stream interval join, both driven to completion with availableNow
# and reduced to per-key counts so the two branches share a schema.
# Scale: the static dim is broadcast per micro-batch (never shuffled); the
# stream-stream state is bounded to 1 hour per side by the watermarks.
# ---------------------------------------------------------------------------


@register(
    "stream_join_enrich",
    oracle="""
SELECT 'static' AS branch, c.c_mktsegment AS join_key, COUNT(*) AS n_rows
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 2
UNION ALL
SELECT 'stream', CAST(p.user_id AS VARCHAR), COUNT(*)
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
GROUP BY 2
ORDER BY branch, join_key
""",
    doc="Streaming-join composite: stream-static broadcast enrich "
    "(per-segment counts) + watermarked stream-stream interval join "
    "(per-user purchase-click match counts), tagged per branch — gate "
    "twin of the extended stream_static_enrich / stream_stream_join "
    "queries (SURVEY §2.8); bounded input makes both equal their batch "
    "oracles.",
    tags=("streaming", "join", "composite"),
    extended=True,
)
def stream_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = (
        load_events_stream(spark, sf_dir)
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_rows"))
    )
    static_snap = stream_snapshot(spark, enriched, output_mode="complete").select(
        F.lit("static").alias("branch"),
        F.col("c_mktsegment").alias("join_key"),
        "n_rows",
    )

    purchases = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        load_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    matched = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
    )
    stream_snap = (
        stream_snapshot(spark, matched)
        .groupBy("p_user")
        .agg(F.count("*").alias("n_rows"))
        .select(
            F.lit("stream").alias("branch"),
            F.col("p_user").cast("string").alias("join_key"),
            "n_rows",
        )
    )
    return static_snap.unionByName(stream_snap).orderBy("branch", "join_key")


@register(
    "window_range_frame_trailing",
    oracle=f"""
SELECT o_orderkey, o_custkey,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate
    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
  ) AS DOUBLE) AS trailing_30d_spend
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
    doc="Time-based RANGE window frame: per-customer 30-day trailing "
    "spend.  Spark's rangeBetween needs a numeric ordering column, so "
    "the plan orders on epoch seconds with a -30d literal bound — "
    "logically identical to the oracle's RANGE BETWEEN INTERVAL "
    "frame; rows with equal order values share one frame (the "
    "RANGE-vs-ROWS distinction the ROWS suite can't exercise).  One "
    "shuffle on the partition key, frame evaluation is streaming "
    "within each sorted partition.",
    tags=("window", "range-frame", "extension"),
    extended=True,
)
def window_range_frame_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        # dec_sum can't be .over()'d directly (the window must attach to
        # the SUM, not the outer double cast) — same decimal-exact shape
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_30d_spend"),
    ).orderBy("o_custkey", "order_date", "o_orderkey")


@register(
    "orders_monthly_rollup",
    oracle=f"""
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
    {sql_dec_sum("o_totalprice", 2)} AS revenue,
    COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT strftime(month, '%Y-%m-%d') AS month_start, revenue, n_orders,
  ROUND(revenue - lag(revenue) OVER (ORDER BY month), 2) AS revenue_delta
FROM m ORDER BY month
""",
    doc="Calendar rollup: month-truncated revenue totals with a "
    "month-over-month delta via lag — the date_trunc/window composite "
    "every reporting layer needs.  Group keys are months (tiny), so "
    "the aggregate shuffle carries one row per (task, month) and the "
    "single-partition window over ~80 months is driver-trivial.",
    tags=("calendar", "window", "extension"),
    extended=True,
)
def orders_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        dec_sum(F.col("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("month")
    return m.select(
        F.date_format("month", "yyyy-MM-dd").alias("month_start"),
        "revenue",
        "n_orders",
        F.round(
            F.col("revenue") - F.lag("revenue").over(w), 2
        ).alias("revenue_delta"),
    ).orderBy("month_start")


@register(
    "topk_pruned_orders",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INT) AS rank
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 5
ORDER BY o_orderpriority, rank
""",
    doc="Map-side-pruned grouped top-k "
    "(operators/topk.py:topk_per_group_pruned): top-5 orders by price "
    "within each of 5 priority classes — the heavy-hitter shape where "
    "the plain window form shuffles EVERY row to 5 reducers.  Phase 1 "
    "is a narrow per-partition sort + Arrow-batched per-group head(k) "
    "(no exchange; survivors bounded by k x partitions per group), "
    "phase 2 the ranking window over the bounded survivor set.  "
    "Row-identical to the window form under the total "
    "(price DESC, orderkey) order — the oracle IS the window form.",
    tags=("topk", "window", "scale-technique", "extension"),
    extended=True,
)
def topk_pruned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.topk import topk_per_group_pruned

    orders = load_table(spark, sf_dir, "orders")
    return (
        topk_per_group_pruned(
            orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
            ["o_orderpriority"],
            [F.col("o_totalprice").desc(), F.col("o_orderkey")],
            5,
        )
        .orderBy("o_orderpriority", "rank")
    )
