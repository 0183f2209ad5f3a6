"""Registered power-iteration PCA query (operators/pca.py) over the
`embeddings` fixture.

The oracle UNROLLS the same fixed iterations as SQL CTE layers with
the identical decimal/quantization discipline — the k-means/pagerank
precedent applied to spectral linear algebra: per round, the per-row
centered dot product is a SEQUENTIAL in-array fold (list_reduce here,
F.aggregate in Spark — same index order, same IEEE sequence), the
per-dimension accumulators fold through DECIMAL(38,12), the norm is
the ordered fold of squares + one sqrt quantized to 9 decimals, and
the new vector quantizes to 9 decimals.  Every intermediate round's
eigenvector estimate is therefore hash-pinned, not just the fixed
point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.functions.numeric import sql_spark_round
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

_ITERS = 2


def _round_sql(r: int) -> str:
    prev = f"v{r - 1}"
    return f"""
cd{r} AS (
  SELECT b.vec_id, b.e, m.mu,
    ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      list_transform(b.e, (x, i) -> (x - m.mu[i]) * v.v[i])),
      (acc, t) -> acc + t), 9) AS dot
  FROM base b CROSS JOIN mul m CROSS JOIN {prev} v
),
contrib{r} AS (
  SELECT i - 1 AS pos, (e[i] - mu[i]) * dot AS contrib
  FROM (SELECT e, mu, dot, unnest(generate_series(1, len(e))) AS i
        FROM cd{r})
),
s{r} AS (
  SELECT list(sd ORDER BY pos) AS s FROM (
    SELECT pos, CAST(SUM(CAST(contrib AS DECIMAL(38,12))) AS DOUBLE) AS sd
    FROM contrib{r} GROUP BY pos)
),
v{r} AS (
  SELECT list_transform(s, x -> ROUND(x / nrm, 9)) AS v
  FROM (
    SELECT s,
      ROUND(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(s, x -> x * x)), (acc, t) -> acc + t)), 9) AS nrm
    FROM s{r})
)"""


_PCA_ORACLE = (
    """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
pts AS (
  SELECT vec_id, i - 1 AS pos, e[i] AS x
  FROM (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS i
        FROM base)
),
mu_t AS (
  SELECT pos, ROUND(CAST(s AS DOUBLE) / n, 12) AS m
  FROM (SELECT pos, SUM(CAST(x AS DECIMAL(28,12))) AS s, COUNT(*) AS n
        FROM pts GROUP BY pos)
),
mul AS (SELECT list(m ORDER BY pos) AS mu FROM mu_t),
v0 AS (
  SELECT list_transform(
    mu, x -> ROUND(CAST(1 AS DOUBLE)
                   / ROUND(sqrt(CAST(len(mu) AS DOUBLE)), 9), 9)) AS v
  FROM mul
)"""
    + ",".join([""] + [_round_sql(r) for r in range(1, _ITERS + 1)])
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS round, i - 1 AS pos, v[i] AS v"
        f" FROM (SELECT v, unnest(generate_series(1, len(v))) AS i"
        f" FROM v{r})"
        for r in range(_ITERS + 1)
    )
    + "\nORDER BY round, pos"
)

# Spark's round()/decimal-cast go through the double's SHORTEST REPR
# (BigDecimal.valueOf) while DuckDB rounds the true binary value —
# they disagree when the shortest repr IS a midpoint (observed: 2 of
# 192 v values off by 1e-9 before this rewrite).  The established
# rewrite (functions/numeric.py:sql_spark_round) reproduces
# Spark's string-first rounding inside the oracle.
_PCA_ORACLE = sql_spark_round(_PCA_ORACLE)


@register(
    "embeddings_pca_power",
    oracle=_PCA_ORACLE,
    doc=f"Dominant principal component of the embedding corpus by "
    f"MATRIX-FREE power iteration ({_ITERS} fixed rounds — "
    "operators/pca.py:power_iteration_rounds): the d x d covariance "
    "never materializes; per round ONE corpus pass computes each "
    "row's centered dot (scan-local sequential array fold) and the "
    "per-dimension decimal-folded accumulators (posexplode -> d-row "
    "aggregate), and driver state is the d-vector (the k-means-"
    "centroid pattern).  The spectral primitive behind embedding "
    "whitening / all-but-the-top dominant-direction removal "
    "ahead of clustering/ANN.  The oracle unrolls "
    "identical rounds, so every intermediate eigenvector estimate is "
    "hash-pinned.",
    tags=("embeddings", "pca", "iterative", "extension", "headline"),
    extended=True,
)
def embeddings_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.pca import power_iteration_rounds

    emb = load_table(spark, sf_dir, "embeddings")
    return power_iteration_rounds(emb, iterations=_ITERS).orderBy(
        "round", "pos"
    )
