"""Product quantization (PQ) approximate nearest neighbour: per-
subspace k-means codebooks, m-byte codes per vector, and asymmetric-
distance (ADC) top-k scoring — the classic memory-bound ANN shape
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011).

Reference parity note: the reference (/root/reference/src/
diabetes_etl_pipeline.py) has no vector search — this extends the
LLM-data-pipeline similarity tier (operators/similarity.py: brute
cosine, hyperplane-LSH, IVF, int8, JL) with the codebook-compression
path: PQ stores ``m`` one-byte codes per vector instead of ``d``
floats (dim 64 float32 -> 4 bytes is a 64x cut), and scoring a query
against the whole corpus touches ONLY those codes plus a tiny
query-local lookup table.

Determinism contract — identical to operators/clustering.py so the
oracle can unroll every round in SQL:
- the codebook seeds are the k smallest-id vectors' subvectors (the
  SAME ids seed every subspace — no RNG, resumable);
- squared-distance terms fold through DECIMAL(25,15) before any sum,
  argmin ties break on the smaller code id;
- centroid means are exact decimal sums divided once in IEEE double,
  pinned to DECIMAL(18,12);
- the ADC distance is a sum of m exact decimals, reported as a DOUBLE
  rounded to 9 digits; ranking compares the EXACT decimal with ties
  on candidate id.

Scale notes (100 TB lens):
- training explodes vectors once to (id, sub, pos, x) long format and
  snapshots it (one upstream execution); every Lloyd round is a
  BROADCAST join of the m*k*sub_dim centroid table against that long
  table — points never shuffle for the join, and the (id, sub, code)
  partial aggregate map-side-combines n*d*k terms down to n*m*k
  before its exchange.  All m subspaces train in the SAME pass (sub
  is just another grouping key), so the round count does not grow
  with m.
- ``train_cap`` bounds training to the smallest-id sample (IVF
  precedent): the codebook is m*k*sub_dim rows regardless of corpus
  size, the only O(n) artifacts are the long table and the codes.
- encoding emits exactly n*m (id, sub, code) rows; at 100 TB the
  codes table is ~the corpus byte count / (4 * sub_dim) — the asset
  you persist and re-score against for every future query batch.
- ADC scoring never touches the corpus embeddings: the q*m*k lookup
  table (a few KB) broadcasts, the codes table is scanned once, and
  the per-(query, candidate) sum map-side-combines from n*q*m rows
  to n*q before the single exchange feeding the per-query top-k
  (TakeOrdered shape, no full sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from diabetes_etl_spark.functions.numeric import dec_cast
from diabetes_etl_spark.operators.iterstate import RoundStore

_DEC_TERM = "decimal(25,15)"
_MEAN_SCALE = 12


def _assign(pts: DataFrame, cent: DataFrame) -> DataFrame:
    """(id, sub, code, d2): nearest centroid per (vector, subspace)
    under exact decimal-folded squared L2, ties on the smaller code.

    The centroid side is m*k*sub_dim rows — broadcast; the long point
    table never shuffles for the join."""
    diff = F.col("x") - F.col("c")
    d2 = (
        pts.join(F.broadcast(cent), ["sub", "pos"])
        .groupBy("id", "sub", "cid")
        .agg(F.sum((diff * diff).cast(_DEC_TERM)).alias("d2"))
    )
    return (
        d2.groupBy("id", "sub")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select(
            "id", "sub", F.col("m.cid").alias("code"), F.col("m.d2").alias("d2")
        )
    )


def _update(pts: DataFrame, assign: DataFrame, prev: DataFrame) -> DataFrame:
    """New codebook from an assignment: per-(sub, code, pos) exact
    decimal mean pinned to DECIMAL(18,12) doubles; codes that lost
    every vector in a subspace carry their previous centroid."""
    sums = (
        pts.join(assign.select("id", "sub", "code"), ["id", "sub"])
        .groupBy("sub", "code", "pos")
        .agg(
            F.sum(F.col("x").cast(_DEC_TERM)).alias("s"),
            F.count("*").alias("n"),
        )
    )
    newc = sums.select(
        "sub",
        F.col("code").alias("cid"),
        "pos",
        dec_cast(F.col("s").cast("double") / F.col("n"), _MEAN_SCALE).alias(
            "c_new"
        ),
    )
    return (
        prev.select("sub", "cid", "pos", F.col("c").alias("c_old"))
        .join(newc, ["sub", "cid", "pos"], "left")
        .select("sub", "cid", "pos", F.coalesce("c_new", "c_old").alias("c"))
    )


def _long_points(
    df: DataFrame, id_col: str, vec_col: str, sub_dim: int
) -> DataFrame:
    """(id, sub, pos, x): subspace index and within-subspace position
    via integer div/mod (never float division — portability rule)."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.col(vec_col)).alias("p", "xf"),
        )
        .select(
            "id",
            F.expr(f"p div {sub_dim}").cast("int").alias("sub"),
            (F.col("p") % sub_dim).cast("int").alias("pos"),
            F.col("xf").cast("double").alias("x"),
        )
    )


def pq_train(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = None,
    work_dir: str | None = None,
) -> DataFrame:
    """Codebook (sub, cid, pos, c) after ``iterations`` Lloyd rounds
    per subspace, trained on the ``train_cap`` smallest-id vectors
    (all of them when None).  ``dim`` must split evenly into ``m``
    subspaces.  ``work_dir`` follows the kmeans_assign contract
    (operators/iterstate.py): per-round committed parquet, restartable,
    one invocation's (input, m, k, iterations) per directory; without
    it the codebook is m·k·sub_dim driver rows, one collect job per
    Lloyd round."""
    if dim % m:
        raise ValueError(f"dim {dim} does not split into {m} subspaces")
    train = df
    if train_cap is not None:
        train = df.orderBy(id_col).limit(train_cap)

    store = RoundStore(df.sparkSession, work_dir, "codebook")
    pts = store.snapshot(
        "train_points", _long_points(train, id_col, vec_col, dim // m)
    )
    seeds = (
        train.select(F.col(id_col).alias("sid"))
        .orderBy("sid")
        .limit(k)
        .withColumn("cid", F.row_number().over(Window.orderBy("sid")) - 1)
    )
    c0 = pts.join(F.broadcast(seeds), pts["id"] == seeds["sid"]).select(
        "sub", "cid", "pos", F.col("x").alias("c")
    )
    last, cent = store.resume(iterations) or (0, store.commit_rows(0, c0))
    for r in range(last + 1, iterations + 1):
        cent = store.commit_rows(r, _update(pts, _assign(pts, cent), cent))
    return cent


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub, code): each vector's nearest code per subspace — the
    long form of the m-byte PQ code.  n*m rows, the persisted asset."""
    pts = _long_points(df, id_col, vec_col, dim // m)
    return _assign(pts, codebook).select("id", "sub", "code")


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, candidate_id, adc_d2, adc_rank): top-``k`` smallest
    asymmetric PQ distances per query (exact-decimal sum of the
    query-to-centroid lookup table entries selected by each
    candidate's codes; ties on candidate id; a query never matches
    itself).  ``adc_d2`` reports as a DOUBLE rounded to 9 digits (the
    repo's float-output convention); the RANKING compares the exact
    decimal."""
    qpts = _long_points(queries, id_col, vec_col, dim // m).withColumnRenamed(
        "id", "qid"
    )
    diff = F.col("x") - F.col("c")
    lut = (
        qpts.join(F.broadcast(codebook), ["sub", "pos"])
        .groupBy("qid", "sub", "cid")
        .agg(F.sum((diff * diff).cast(_DEC_TERM)).alias("d2"))
    )
    scored = (
        codes.join(
            F.broadcast(lut),
            (codes["sub"] == lut["sub"]) & (codes["code"] == lut["cid"]),
        )
        .where(F.col("id") != F.col("qid"))
        .groupBy("qid", "id")
        .agg(F.sum("d2").alias("adc"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("id").asc())
    return (
        scored.withColumn("adc_rank", F.row_number().over(w))
        .where(F.col("adc_rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("candidate_id"),
            F.round(F.col("adc").cast("double"), 9).alias("adc_d2"),
            F.col("adc_rank").cast("int").alias("adc_rank"),
        )
    )
