"""K-means clustering + SemDeDup-style semantic dedup queries over the
`embeddings` fixture (operators/clustering.py).

Both oracles UNROLL the same fixed Lloyd's iterations as SQL CTE
layers with identical decimal-pinned arithmetic — like the PageRank
oracle (plans/graphplans.py), an iterative float algorithm under the
gate-style hash comparison: seeds are the k smallest ids, per-round
centroid means pin to DECIMAL(18,12), squared distances fold through
DECIMAL(25,15), argmin ties break on cluster id.  The hash therefore
pins every intermediate round, not just the final assignment.

The SemDeDup composition (Abbas et al. 2023 shape: cluster the
embedding space, then deduplicate WITHIN clusters only) is the scale
story for embedding near-dup: the within-cluster pair join replaces
the corpus-wide all-pairs join — pair volume drops from C(n,2) to
sum C(n_c,2), and the cluster id is an equi-join key, so Catalyst
plans a shuffle-hash/sort-merge join, never a cartesian.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.operators import similarity as SIM
from diabetes_etl_spark.operators.clustering import kmeans_assign
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

_K = 4
_ITERS = 2
_TAU = 0.45  # same threshold as sim_neardup_pairs — shared oracle math


def _assign_sql(name: str, cent: str) -> str:
    return f"""
{name} AS (
  SELECT id, cid AS cluster, d2 FROM (
    SELECT id, cid, d2,
      row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
    FROM (
      SELECT p.id, c.cid,
        SUM(CAST((p.x - c.c) * (p.x - c.c) AS DECIMAL(25,15))) AS d2
      FROM pts p JOIN {cent} c ON p.pos = c.pos
      GROUP BY p.id, c.cid))
  WHERE rn = 1
)"""


def _update_sql(name: str, prev: str, assign: str) -> str:
    return f"""
{name} AS (
  SELECT prev.cid, prev.pos,
    COALESCE(CAST(CAST(CAST(s.s AS DOUBLE) / s.n AS DECIMAL(18,12))
                  AS DOUBLE), prev.c) AS c
  FROM {prev} prev LEFT JOIN (
    SELECT a.cluster AS cid, p.pos,
      SUM(CAST(p.x AS DECIMAL(25,15))) AS s, COUNT(*) AS n
    FROM pts p JOIN {assign} a ON p.id = a.id
    GROUP BY a.cluster, p.pos
  ) s ON prev.cid = s.cid AND prev.pos = s.pos
)"""


def _kmeans_cte(k: int, iters: int) -> str:
    """Shared CTE prefix: pts / seeds / c0 / a1..aN / c1..cN / af —
    the exact unroll of operators/clustering.py:kmeans_assign."""
    parts = [
        f"""
pts AS (
  SELECT vec_id AS id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
seeds AS (
  SELECT sid, row_number() OVER (ORDER BY sid) - 1 AS cid
  FROM (SELECT vec_id AS sid FROM embeddings ORDER BY vec_id LIMIT {k})
),
c0 AS (SELECT s.cid, p.pos, p.x AS c FROM seeds s JOIN pts p ON s.sid = p.id)"""
    ]
    for r in range(1, iters + 1):
        parts.append(_assign_sql(f"a{r}", f"c{r - 1}"))
        parts.append(_update_sql(f"c{r}", f"c{r - 1}", f"a{r}"))
    parts.append(_assign_sql("af", f"c{iters}"))
    return ",".join(parts)


_KMEANS_ORACLE = (
    "WITH "
    + _kmeans_cte(_K, _ITERS)
    + """
SELECT id AS vec_id, cluster, ROUND(CAST(d2 AS DOUBLE), 9) AS d2
FROM af ORDER BY vec_id
"""
)


@register(
    "cluster_kmeans_embeddings",
    oracle=_KMEANS_ORACLE,
    doc=f"Distributed k-means (k={_K}, {_ITERS} Lloyd's iterations) over "
    "the embeddings table: deterministic smallest-id seeds, "
    "decimal-folded distances, DECIMAL(18,12)-pinned centroid means, "
    "cluster-id tiebreak.  Per iteration the k*d centroid table "
    "broadcasts against the exploded point table and the (id, cid) "
    "aggregate map-side-combines before its one shuffle; centroid "
    "state commits per round to work_dir parquet (components.py "
    "pattern).  The oracle unrolls identical iterations as CTE "
    "layers, hash-pinning every round.",
    tags=("clustering", "iterative", "extension", "headline"),
    extended=True,
)
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    asg = kmeans_assign(emb, k=_K, iterations=_ITERS)
    return asg.select(
        F.col("id").alias("vec_id"), "cluster", "d2"
    ).orderBy("vec_id")


_SEMDEDUP_ORACLE = (
    "WITH "
    + _kmeans_cte(_K, _ITERS)
    + f""",
norms AS (
  SELECT vec_id,
    sqrt(CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
         AS DECIMAL(20,15))) AS DOUBLE)) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
members AS (
  SELECT e.vec_id, e.embedding, a.cluster, n.nrm
  FROM embeddings e
  JOIN af a ON e.vec_id = a.id
  JOIN norms n ON e.vec_id = n.vec_id
  WHERE n.nrm > 0
),
cpairs AS (
  SELECT x.cluster, x.vec_id AS id_a, y.vec_id AS id_b,
         x.embedding AS ea, y.embedding AS eb, x.nrm AS na, y.nrm AS nb
  FROM members x JOIN members y
    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
),
dots AS (
  SELECT cluster, id_a, id_b, na, nb,
    CAST(SUM(CAST(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)
         AS DECIMAL(20,15))) AS DOUBLE) AS dot
  FROM (SELECT cluster, id_a, id_b, na, nb,
               unnest(ea) AS xa, unnest(eb) AS xb FROM cpairs)
  GROUP BY cluster, id_a, id_b, na, nb
),
dup AS (
  SELECT cluster, id_a, id_b FROM (
    SELECT cluster, id_a, id_b, ROUND(dot / (na * nb), 9) AS cosine_sim
    FROM dots)
  WHERE cosine_sim >= {_TAU}
),
dropped AS (SELECT cluster, id_b AS id FROM dup GROUP BY cluster, id_b)
SELECT m.cluster,
  COUNT(*) AS n_points,
  COALESCE(p.n_pairs, 0) AS n_dup_pairs,
  COALESCE(d.n_dropped, 0) AS n_dropped,
  COUNT(*) - COALESCE(d.n_dropped, 0) AS n_kept
FROM members m
LEFT JOIN (SELECT cluster, COUNT(*) AS n_pairs FROM dup GROUP BY cluster) p
  ON m.cluster = p.cluster
LEFT JOIN (SELECT cluster, COUNT(*) AS n_dropped FROM dropped GROUP BY cluster) d
  ON m.cluster = d.cluster
GROUP BY m.cluster, p.n_pairs, d.n_dropped
ORDER BY m.cluster
"""
)


@register(
    "semdedup_cluster_stats",
    oracle=_SEMDEDUP_ORACLE,
    doc=f"SemDeDup composition: k-means (k={_K}) partitions the embedding "
    f"space, then near-dup pairs (exact decimal cosine >= {_TAU}) are "
    "found WITHIN clusters only and every doc with a smaller-id "
    "near-neighbour is dropped (greedy keep-min representative).  "
    "The cluster id is an equi-join key, so the pair join is a hash "
    "join over sum C(n_c,2) pairs instead of a corpus-wide C(n,2) "
    "cartesian — the standard way embedding dedup survives 100 TB.  "
    "Zero-norm vectors are excluded (no cosine direction).  Output: "
    "per-cluster point / dup-pair / dropped / kept counts.",
    tags=("clustering", "dedup", "similarity", "extension", "headline"),
)
def semdedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    asg = kmeans_assign(emb, k=_K, iterations=_ITERS).select(
        F.col("id").alias("vec_id"), "cluster"
    )
    members = (
        SIM.with_norm(emb)
        .join(asg, "vec_id")
        .select("vec_id", "embedding", "cluster", F.col("_norm").alias("nrm"))
    )
    # vectorized-candidates-then-exact-verify: one numpy matmul per
    # cluster group emits the pairs whose IEEE cosine reaches
    # (tau - 1e-6) — the matmul's error is ~dim*ulp ~ 1e-13, six
    # orders below the margin, so no pair whose EXACT rounded cosine
    # reaches tau can be lost — then ONLY those few candidates pay the
    # decimal-folded exact cosine.  Replaces a within-cluster pair
    # join that evaluated ~sum C(n_c,2) interpreted decimal dot folds
    # (43s -> ~4s at sf0.1); result set identical by construction.
    from diabetes_etl_spark.operators.clustering import (
        within_cluster_candidates,
    )

    cand = within_cluster_candidates(members, _TAU - 1e-6)
    x = members.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    y = members.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    dup = (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .withColumn(
            "cosine_sim",
            F.round(
                SIM.dot_exact("ea", "eb") / (F.col("na") * F.col("nb")), 9
            ),
        )
        .filter(F.col("cosine_sim") >= _TAU)
        .select("cluster", "id_a", "id_b")
    )
    pairs = dup.groupBy("cluster").agg(F.count("*").alias("n_pairs"))
    dropped = (
        dup.select("cluster", F.col("id_b").alias("id"))
        .distinct()
        .groupBy("cluster")
        .agg(F.count("*").alias("n_dropped"))
    )
    return (
        members.groupBy("cluster")
        .agg(F.count("*").alias("n_points"))
        .join(pairs, "cluster", "left")
        .join(dropped, "cluster", "left")
        .select(
            "cluster",
            "n_points",
            F.coalesce("n_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (
                F.col("n_points") - F.coalesce("n_dropped", F.lit(0))
            ).alias("n_kept"),
        )
        .orderBy("cluster")
    )


_POOL_ORACLE = """
SELECT label, i - 1 AS pos,
  CAST(CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(25,15))) AS DOUBLE)
       / COUNT(*) AS DECIMAL(18,12)) AS DOUBLE) AS c
FROM (SELECT label, i, embedding[i] AS x
      FROM (SELECT label, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings))
GROUP BY label, i ORDER BY label, pos
"""


@register(
    "cluster_pooled_embeddings",
    oracle=_POOL_ORACLE,
    doc="Mean-pooled embedding per label group "
    "(operators/clustering.py:pool_embeddings) — the chunk->document "
    "aggregation of a RAG pipeline, with the k-means determinism "
    "recipe: per-dimension DECIMAL-folded sums, one IEEE division, "
    "DECIMAL(18,12)-pinned doubles.  One map-side-combined "
    "(group, pos) aggregate + one array re-assembly; the vector "
    "never crosses into Python.  Output exploded to (label, pos, c) "
    "rows for the hash compare.",
    tags=("clustering", "embedding", "pooling", "extension"),
    extended=True,
)
def cluster_pooled_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.clustering import pool_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    pooled = pool_embeddings(emb, "label")
    return (
        pooled.select("label", F.posexplode("pooled").alias("pos", "c"))
        .orderBy("label", "pos")
    )


# -- simplified silhouette (round 10) -------------------------------------------

_SIL_ORACLE = (
    "WITH "
    + _kmeans_cte(_K, _ITERS)
    + f""",
alld AS (
  SELECT p.id, c.cid,
    SUM(CAST((p.x - c.c) * (p.x - c.c) AS DECIMAL(25,15))) AS d2
  FROM pts p JOIN c{_ITERS} c ON p.pos = c.pos
  GROUP BY p.id, c.cid
),
own AS (
  SELECT a.id, a.cluster, d.d2 AS d2_own
  FROM af a JOIN alld d ON a.id = d.id AND a.cluster = d.cid
),
oth AS (
  SELECT a.id, MIN(d.d2) AS d2_other
  FROM af a JOIN alld d ON a.id = d.id AND a.cluster <> d.cid
  GROUP BY a.id
),
per AS (
  SELECT o.cluster,
    CAST(ROUND(CASE WHEN GREATEST(sqrt(CAST(o.d2_own AS DOUBLE)),
                                  sqrt(CAST(t.d2_other AS DOUBLE))) > 0
      THEN (sqrt(CAST(t.d2_other AS DOUBLE))
            - sqrt(CAST(o.d2_own AS DOUBLE)))
           / GREATEST(sqrt(CAST(o.d2_own AS DOUBLE)),
                      sqrt(CAST(t.d2_other AS DOUBLE)))
      ELSE CAST(0.0 AS DOUBLE) END, 12) AS DECIMAL(28,12)) AS s
  FROM own o JOIN oth t ON o.id = t.id
)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
  ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 9) AS mean_silhouette
FROM per GROUP BY cluster ORDER BY cluster
"""
)


@register(
    "cluster_silhouette_kmeans",
    oracle=_SIL_ORACLE,
    doc=f"Per-cluster SIMPLIFIED silhouette of the k={_K} k-means "
    "clustering (operators/clustering.py:kmeans_silhouette): "
    "s = (b - a)/max(a, b) with a = distance to the own centroid, "
    "b = nearest other centroid — the centroid-based form that "
    "scales (exact silhouette is all-pairs quadratic; this reuses "
    "the n x k distance table the assignment already computes, so "
    "cluster-quality costs one extra broadcast join).  The fit "
    "diagnostic for the k knob: low or negative means overlapping "
    "clusters.  Distances are the same decimal-exact folds as the "
    "gate k-means; sqrt/divide pinned IEEE; per-point terms 12dp "
    "DECIMAL-folded.  The oracle re-unrolls the identical Lloyd's "
    "iterations and scores the identical partition.",
    tags=("clustering", "quality", "silhouette", "extension"),
    extended=True,
)
def cluster_silhouette_kmeans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from diabetes_etl_spark.operators.clustering import kmeans_silhouette

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_silhouette(emb, k=_K, iterations=_ITERS)
