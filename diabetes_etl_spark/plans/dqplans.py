"""Declarative data-quality suite plans (operators/dq.py): the
Deequ-style one-scan metric computation + constraint verification,
run against lineitem as the generic-engine counterpart of the
diabetes pipeline's hard-coded expectations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.dq import (
    Check,
    completeness,
    compliance,
    compute_metrics,
    maximum,
    mean,
    minimum,
    size,
    uniqueness,
    verify,
)
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

# The suite under test: every metric rides ONE lineitem scan.  Built
# lazily — Column construction needs an active SparkContext.
def _metrics():
    return [
        size(),
        completeness("l_returnflag"),
        completeness("l_shipdate"),
        uniqueness("l_orderkey"),
        minimum("l_quantity"),
        maximum("l_discount"),
        mean("l_extendedprice"),
        compliance(
            "discount_in_range",
            (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1),
        ),
        compliance("quantity_positive", F.col("l_quantity") > 0),
    ]

_CHECKS = [
    Check("size", ">=", 1.0),
    Check("completeness(l_returnflag)", "==", 1.0),
    Check("completeness(l_shipdate)", "==", 1.0),
    Check("uniqueness(l_orderkey)", "between", 0.1, 0.5),
    Check("minimum(l_quantity)", ">=", 1.0),
    Check("maximum(l_discount)", "<=", 0.1),
    Check("mean(l_extendedprice)", "between", 10000.0, 90000.0),
    Check("compliance(discount_in_range)", "==", 1.0),
    Check("compliance(quantity_positive)", "==", 1.0),
    # deliberately-absent metric: must FAIL, not vanish
    Check("minimum(l_ghost)", ">=", 0.0),
]


def _constraint_label(c: Check) -> str:
    return f"{c.metric} {c.op} {c.lo}" + (
        f"..{c.hi}" if c.hi is not None else ""
    )


def _duck_metric_sql() -> str:
    return """
SELECT 'size' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM lineitem
UNION ALL SELECT 'completeness(l_returnflag)',
  ROUND(CAST(COUNT(l_returnflag) AS DOUBLE) / COUNT(*), 9) FROM lineitem
UNION ALL SELECT 'completeness(l_shipdate)',
  ROUND(CAST(COUNT(l_shipdate) AS DOUBLE) / COUNT(*), 9) FROM lineitem
UNION ALL SELECT 'uniqueness(l_orderkey)',
  ROUND(CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) / COUNT(*), 9)
  FROM lineitem
UNION ALL SELECT 'minimum(l_quantity)',
  CAST(MIN(l_quantity) AS DOUBLE) FROM lineitem
UNION ALL SELECT 'maximum(l_discount)',
  CAST(MAX(l_discount) AS DOUBLE) FROM lineitem
UNION ALL SELECT 'mean(l_extendedprice)',
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,9))) AS DOUBLE)
        / COUNT(l_extendedprice), 9) FROM lineitem
UNION ALL SELECT 'compliance(discount_in_range)',
  ROUND(CAST(SUM(CASE WHEN l_discount >= 0 AND l_discount <= 0.1
                 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 9)
  FROM lineitem
UNION ALL SELECT 'compliance(quantity_positive)',
  ROUND(CAST(SUM(CASE WHEN l_quantity > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 9) FROM lineitem
"""


def _duck_checks_sql() -> str:
    rows = []
    for i, c in enumerate(_CHECKS):
        label = _constraint_label(c).replace("'", "''")
        if c.op == ">=":
            pred = f"value >= {c.lo}"
        elif c.op == "<=":
            pred = f"value <= {c.lo}"
        elif c.op == "==":
            pred = f"value = {c.lo}"
        else:
            pred = f"value >= {c.lo} AND value <= {c.hi}"
        rows.append(
            f"SELECT {i} AS ord, '{c.metric}' AS metric, "
            f"'{label}' AS constraint_label, '{pred}' AS _p"
        )
    return " UNION ALL ".join(rows)


def _duck_report_sql() -> str:
    # replay each check's predicate inline (DuckDB cannot eval the
    # stored predicate string, so the CASE mirrors Check.expr)
    cases = []
    for i, c in enumerate(_CHECKS):
        if c.op == ">=":
            pred = f"m.value >= {c.lo}"
        elif c.op == "<=":
            pred = f"m.value <= {c.lo}"
        elif c.op == "==":
            pred = f"m.value = {c.lo}"
        else:
            pred = f"m.value >= {c.lo} AND m.value <= {c.hi}"
        cases.append(
            f"WHEN s.ord = {i} THEN m.value IS NOT NULL AND ({pred})"
        )
    case = "CASE " + " ".join(cases) + " ELSE FALSE END"
    return f"""
WITH metrics AS ({_duck_metric_sql()}),
spec AS ({_duck_checks_sql()})
SELECT s.constraint_label AS constraint_name, s.metric, m.value,
  COALESCE({case}, FALSE) AS passed
FROM spec s LEFT JOIN metrics m ON m.metric = s.metric
ORDER BY s.ord
"""


@register(
    "dq_suite_lineitem",
    oracle=_duck_report_sql(),
    doc="Deequ-style declarative data-quality suite over lineitem "
    "(Schelter et al., VLDB 2018): 9 metrics — size, completeness, "
    "uniqueness, min/max, decimal-folded mean, compliance fractions "
    "— all computed in ONE aggregation pass (count-distinct rides "
    "the same scan via Expand), then 10 constraints verified against "
    "the metric rows, including one naming a metric the suite never "
    "computed (must FAIL, not vanish).  Generalizes the reference's "
    "hard-coded DQ cells into a reusable declarative suite.  Scale: "
    "one corpus scan, a 9-row metrics frame, broadcast verification.",
    tags=("dq", "quality", "constraints", "extension"),
    extended=True,
)
def dq_suite_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    metrics = compute_metrics(li, _metrics())
    report = verify(metrics, _CHECKS)
    return report.select(
        F.col("constraint").alias("constraint_name"),
        "metric",
        "value",
        "passed",
    )
