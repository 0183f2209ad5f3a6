"""Hybrid-retrieval query plans: reciprocal-rank fusion of the BM25
lexical ranking (operators/ranking.py) with the exact dense cosine
ranking (operators/similarity.py) over the aligned documents /
embeddings fixtures (doc_id == vec_id by construction).

This is the retrieval stack a training-data pipeline runs for
targeted decontamination and dedup triage: a lexical pass catches
verbatim/term overlap, a dense pass catches paraphrase, and RRF
combines them without ever comparing their incomparable score scales.
The oracle replays both retrievers AND the fusion in DuckDB — every
rank, contribution, and fused score is hash-checked, not just the
final top-k membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.plans.simplans import _D_NORMS
from diabetes_etl_spark.plans.textplans import (
    _BM25_B,
    _BM25_K1,
    _BM25_TERMS,
    _BM25_TERMS_SQL,
    _D_TOKENS,
)
from diabetes_etl_spark.sources.tables import load_table

# fusion parameters: both retrievers contribute their top-15; the
# fused list keeps the top-10 (k_rrf = 60 is the RRF paper constant)
_RRF_K = 60
_RRF_DEPTH = 15
_RRF_TOPK = 10
_RRF_QVEC = 3  # the dense query vector (and its aligned document)

_RRF_ORACLE = f"""
WITH base AS (
  SELECT doc_id, len({_D_TOKENS}) AS dl FROM documents
),
stats AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM base
),
toks AS (
  SELECT doc_id, unnest({_D_TOKENS}) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, tok
),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
idf AS (
  SELECT tok,
    ROUND(LN((CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
             / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 9)
      AS idf
  FROM dft CROSS JOIN stats
),
per_term AS (
  SELECT tf.doc_id,
    ROUND(idf.idf * (tf.tf * CAST({_BM25_K1 + 1.0} AS DOUBLE))
      / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
         * (CAST({1.0 - _BM25_B} AS DOUBLE)
            + CAST({_BM25_B} AS DOUBLE) * CAST(base.dl AS DOUBLE)
              / stats.avgdl)), 9) AS w
  FROM tf JOIN idf USING (tok) JOIN base USING (doc_id)
  CROSS JOIN stats
),
bm25 AS (
  SELECT doc_id,
    CAST(SUM(CAST(w AS DECIMAL(18,9))) AS DOUBLE) AS bm25_score
  FROM per_term GROUP BY doc_id
),
lex AS (
  SELECT doc_id, rn FROM (
    SELECT doc_id,
      row_number() OVER (ORDER BY bm25_score DESC, doc_id) AS rn
    FROM bm25
  ) WHERE rn <= {_RRF_DEPTH}
),
{_D_NORMS},
dpairs AS (
  SELECT c.vec_id AS candidate_id, q.embedding AS qe, c.embedding AS ce
  FROM embeddings q JOIN embeddings c
    ON q.vec_id = {_RRF_QVEC} AND c.vec_id != {_RRF_QVEC}
),
dupairs AS (
  SELECT candidate_id, unnest(qe) AS qx, unnest(ce) AS cx FROM dpairs
),
ddots AS (
  SELECT candidate_id,
    CAST(SUM(CAST(CAST(qx AS DOUBLE) * CAST(cx AS DOUBLE)
         AS DECIMAL(20,15))) AS DOUBLE) AS dot
  FROM dupairs GROUP BY candidate_id
),
dscored AS (
  SELECT d.candidate_id,
    ROUND(d.dot / (nq.nrm * nc.nrm), 9) AS cosine_sim
  FROM ddots d
  JOIN norms nq ON nq.vec_id = {_RRF_QVEC}
  JOIN norms nc ON d.candidate_id = nc.vec_id
),
dense AS (
  SELECT candidate_id AS doc_id, rn FROM (
    SELECT candidate_id,
      row_number() OVER (ORDER BY cosine_sim DESC, candidate_id) AS rn
    FROM dscored
  ) WHERE rn <= {_RRF_DEPTH}
),
contrib AS (
  SELECT doc_id,
    CAST(ROUND(1.0 / ({_RRF_K} + rn), 9) AS DECIMAL(18,9)) AS c
  FROM lex
  UNION ALL
  SELECT doc_id,
    CAST(ROUND(1.0 / ({_RRF_K} + rn), 9) AS DECIMAL(18,9)) AS c
  FROM dense
),
fused AS (
  SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS rrf_score,
         CAST(COUNT(*) AS INT) AS n_lists
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, rrf_score, n_lists, CAST(rn AS INT) AS rrf_rank FROM (
  SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rn
  FROM fused
) WHERE rn <= {_RRF_TOPK}
"""


@register(
    "retrieval_rrf_hybrid",
    oracle=_RRF_ORACLE,
    doc=f"Hybrid retrieval via reciprocal-rank fusion (k={_RRF_K}): "
    f"the BM25 top-{_RRF_DEPTH} for a {len(_BM25_TERMS)}-term lexical "
    f"query fuses with the exact dense cosine top-{_RRF_DEPTH} for "
    f"query vector {_RRF_QVEC} into one top-{_RRF_TOPK} "
    "(operators/ranking.py:rrf_fuse).  Fusion consumes only RANKS — "
    "query-sized inputs, so it unions two tiny frames and never "
    "touches the corpus; the corpus-scale work stays in the fused "
    "retrievers (isin-pruned BM25 scan, broadcast-query cosine).  "
    "1/(k+rank) is integer-operand IEEE division quantized to 9 "
    "decimals and summed through DECIMAL(18,9), so fused scores are "
    "hash-checkable; the oracle replays both retrievers and the "
    "fusion.",
    tags=("retrieval", "ranking", "hybrid", "extension"),
    extended=True,
)
def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.ranking import bm25_topk, rrf_fuse
    from diabetes_etl_spark.operators.similarity import cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(
        docs, _BM25_TERMS, k=_RRF_DEPTH, k1=_BM25_K1, b=_BM25_B
    ).select("doc_id", F.col("bm25_rank").alias("rank"))
    dense = cosine_topk(
        emb, F.col("vec_id") == _RRF_QVEC, k=_RRF_DEPTH
    ).select(
        F.col("candidate_id").alias("doc_id"),
        F.col("sim_rank").alias("rank"),
    )
    return rrf_fuse(
        [lex, dense], id_col="doc_id", rank_col="rank",
        k_rrf=_RRF_K, topk=_RRF_TOPK,
    )


# -- MMR diversified top-k ---------------------------------------------------
#
# The oracle unrolls the greedy selection round by round: the same
# 9-digit-rounded decimal cosines, the same IEEE score arithmetic
# (literals emitted via repr() so lam = 0.7 and 1 - lam =
# 0.30000000000000004 are the IDENTICAL doubles Spark multiplies
# with), argmax ties on the smaller candidate id.

_MMR_K, _MMR_LAM, _MMR_POOL = 5, 0.7, 50
_MMR_NQ = 5  # queries: vec_id < 5


def _mmr_oracle(k: int, lam: float, pool: int) -> str:
    lam_l = f"CAST({lam!r} AS DOUBLE)"
    one_m = f"CAST({1.0 - lam!r} AS DOUBLE)"
    parts = [
        f"""
norms AS (
  SELECT vec_id,
    sqrt(CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
         AS DECIMAL(20,15))) AS DOUBLE)) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
rel0 AS (
  SELECT d.qid, d.cid, ROUND(d.dot / (nq.nrm * nc.nrm), 9) AS rel
  FROM (
    SELECT qid, cid,
      CAST(SUM(CAST(CAST(qx AS DOUBLE) * CAST(cx AS DOUBLE)
           AS DECIMAL(20,15))) AS DOUBLE) AS dot
    FROM (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             unnest(q.embedding) AS qx, unnest(c.embedding) AS cx
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < {_MMR_NQ} AND c.vec_id != q.vec_id
    ) GROUP BY qid, cid
  ) d
  JOIN norms nq ON d.qid = nq.vec_id
  JOIN norms nc ON d.cid = nc.vec_id
),
P AS (
  SELECT qid, cid, rel FROM (
    SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY rel DESC, cid) AS rn
    FROM rel0) WHERE rn <= {pool}
),
members AS (SELECT DISTINCT cid FROM P),
cc AS (
  SELECT d.a, d.b, ROUND(d.dot / (na.nrm * nb.nrm), 9) AS sim
  FROM (
    SELECT a, b,
      CAST(SUM(CAST(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)
           AS DECIMAL(20,15))) AS DOUBLE) AS dot
    FROM (
      SELECT x.vec_id AS a, y.vec_id AS b,
             unnest(x.embedding) AS xa, unnest(y.embedding) AS xb
      FROM (SELECT e.* FROM embeddings e JOIN members m
              ON e.vec_id = m.cid) x
      JOIN (SELECT e.* FROM embeddings e JOIN members m
              ON e.vec_id = m.cid) y
        ON x.vec_id != y.vec_id
    ) GROUP BY a, b
  ) d
  JOIN norms na ON d.a = na.vec_id
  JOIN norms nb ON d.b = nb.vec_id
),
s1 AS (
  SELECT qid, cid AS sid, score, 1 AS rank FROM (
    SELECT qid, cid, {lam_l} * rel AS score,
      row_number() OVER (
        PARTITION BY qid ORDER BY {lam_l} * rel DESC, cid) AS rn
    FROM P) WHERE rn = 1
),
sel1 AS (SELECT qid, sid FROM s1)"""
    ]
    for r in range(2, k + 1):
        parts.append(f"""
m{r} AS (
  SELECT p.qid, p.cid, p.rel, MAX(cc.sim) AS maxsim
  FROM P p
  JOIN sel{r - 1} s ON p.qid = s.qid
  JOIN cc ON cc.a = p.cid AND cc.b = s.sid
  WHERE NOT EXISTS (SELECT 1 FROM sel{r - 1} x
                    WHERE x.qid = p.qid AND x.sid = p.cid)
  GROUP BY p.qid, p.cid, p.rel
),
s{r} AS (
  SELECT qid, cid AS sid, score, {r} AS rank FROM (
    SELECT qid, cid, {lam_l} * rel - {one_m} * maxsim AS score,
      row_number() OVER (PARTITION BY qid
        ORDER BY {lam_l} * rel - {one_m} * maxsim DESC, cid) AS rn
    FROM m{r}) WHERE rn = 1
),
sel{r} AS (SELECT qid, sid FROM sel{r - 1}
           UNION ALL SELECT qid, sid FROM s{r})""")
    union = "\nUNION ALL\n".join(
        f"SELECT qid, sid, score, rank FROM s{r}" for r in range(1, k + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT qid AS query_id, sid AS selected_id,
  ROUND(score, 9) AS mmr_score, CAST(rank AS INT) AS mmr_rank
FROM ({union})
"""
    )


@register(
    "retrieval_mmr_diversified",
    oracle=_mmr_oracle(_MMR_K, _MMR_LAM, _MMR_POOL),
    doc="Maximal-Marginal-Relevance diversified top-5 for 5 query "
    "vectors over a top-50 relevance shortlist (Carbonell & Goldstein "
    "1998; lam = 0.7): one broadcast corpus pass builds the shortlist, "
    "then each greedy round joins it against the tiny broadcast "
    "selected set — corpus cost is rank-limited relevance only, the "
    "diversification never touches more than q x pool rows "
    "(operators/ranking.py:mmr_topk).  The oracle unrolls all 5 "
    "selection rounds with identical 9-digit cosines and repr()-exact "
    "IEEE score literals, so every round's argmax is hash-pinned.",
    tags=("retrieval", "mmr", "extension"),
    extended=True,
)
def retrieval_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.ranking import mmr_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_topk(
        emb, F.col("vec_id") < _MMR_NQ, k=_MMR_K, lam=_MMR_LAM,
        pool=_MMR_POOL,
    )
