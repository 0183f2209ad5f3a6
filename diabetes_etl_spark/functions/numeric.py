"""Deterministic numeric aggregation helpers.

Floating-point SUM/AVG are order-dependent, and a distributed engine
gives no ordering guarantee — the same query can hash-differ from a
single-threaded oracle (or from its own previous run) in the last ulp.
Casting each element to a fixed-scale DECIMAL before summing makes the
aggregate exact and associative, so the result is bit-identical across
partitionings, engines, and cluster sizes; the final cast back to
DOUBLE keeps the output schema simple (and avoids engine-specific
decimal precision widening rules leaking into result schemas).

Each Spark helper has an `sql_*` twin that renders the equivalent ANSI
SQL for the DuckDB oracle, so query and oracle stay in lock-step.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec_cast(col: Column, scale: int = 2, precision: int = 18) -> Column:
    """Deterministically round a double expression via a decimal cast."""
    return col.cast(f"decimal({precision},{scale})").cast("double")


def dec_sum(col: Column, scale: int = 2, precision: int = 18) -> Column:
    """Exact (order-independent) sum of a double expression."""
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")


def dec_avg(col: Column, scale: int = 2, precision: int = 18) -> Column:
    """Deterministic mean: exact decimal sum, then one double division."""
    return dec_sum(col, scale, precision) / F.count(col)


def sql_dec_cast(expr: str, scale: int = 2, precision: int = 18) -> str:
    return f"CAST(CAST({expr} AS DECIMAL({precision},{scale})) AS DOUBLE)"


def sql_dec_sum(expr: str, scale: int = 2, precision: int = 18) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL({precision},{scale}))) AS DOUBLE)"


def sql_dec_avg(expr: str, scale: int = 2, precision: int = 18) -> str:
    return f"{sql_dec_sum(expr, scale, precision)} / COUNT({expr})"


def sql_spark_round(sql: str) -> str:
    """Rewrite every ``ROUND(expr, n)`` in a SQL string to match Spark's
    rounding semantics exactly.

    Spark's ``round()`` on DOUBLE goes through
    ``BigDecimal.valueOf(Double.toString(x))`` — it rounds the SHORTEST
    DECIMAL REPR of the double, half-up.  DuckDB's ``round()`` rounds
    the true binary value half-away-from-zero.  They disagree exactly
    when the shortest repr is a midpoint (e.g. avg = 131.075 stored as
    131.07499999999999): Spark says 131.08, DuckDB says 131.07.  The
    rewrite ``CAST(ROUND(CAST(CAST(x AS STRING) AS DECIMAL(28,14)), n)
    AS DOUBLE)`` reproduces Spark's string-first behavior (both engines
    print shortest round-trip reprs and round decimals away from zero),
    and is itself engine-portable, so it is also safe inside SQL that
    BOTH engines execute (the dashboard datasets).
    """
    out, i = [], 0
    while True:
        j = sql.find("ROUND(", i)
        if j < 0:
            out.append(sql[i:])
            return "".join(out)
        out.append(sql[i:j])
        depth, k = 0, j + 5
        for k in range(j + 5, len(sql)):
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
                if depth == 0:
                    break
        inner, n = sql[j + 6 : k].rsplit(",", 1)
        out.append(
            f"CAST(ROUND(CAST(CAST(({inner.strip()}) AS STRING) "
            f"AS DECIMAL(28,14)), {n.strip()}) AS DOUBLE)"
        )
        i = k + 1
