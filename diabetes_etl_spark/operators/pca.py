"""Top principal component of an embedding corpus by matrix-free
POWER ITERATION — the spectral primitive behind embedding whitening,
ABTT-style dominant-direction removal ("all-but-the-top"), and
spectral diagnostics of an embedding space before clustering/ANN.

Matrix-free is the scale story: the d x d covariance NEVER
materializes.  Each iteration is two corpus passes expressed as
DataFrame aggregates —

    dot_r   = (x_r - mu) · v           (scan-local array fold)
    s_i     = Σ_r (x_ri - mu_i)·dot_r  (posexplode → per-dim sum)
    v'      = s / ||s||                (driver, d scalars)

— so the shuffle carries d rows of decimal partial sums per round and
driver state is the d-vector (the k-means-centroid pattern).  Rounds
are FIXED; with a deterministic start vector every intermediate is
reproducible.

Determinism contract (cross-engine hash discipline):

- mu is pinned per dimension through DECIMAL(28,12) (exact decimal
  mean fold, one IEEE division, 12-decimal quantize);
- v enters each round quantized to 9 decimals, so the per-row dot
  product is a fixed-order sequential fold over (x_i - mu_i)·v_i in
  doubles — identical IEEE sequence both engines (F.aggregate here,
  list_reduce in the oracle) — then quantized to 9 decimals;
- the per-dim accumulators s_i fold through DECIMAL(38,12) (inputs
  have <= 21 decimals — inexact doubles, but both engines cast the
  SAME doubles, and ties at the 12th decimal need an exactly
  representable half: the pagerank-precedent risk class);
- the norm folds the ORDERED s_i² sequence (list_reduce / Python
  loop — same order, same doubles), sqrt is the one libm call,
  quantized to 9 decimals before the division, and v' quantizes to
  9 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dec12(v: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(v)).quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)
    )


def _q9(v: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(v)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
    )


def mean_vector(
    df: DataFrame, vec_col: str = "embedding"
) -> list[float]:
    """Per-dimension mean, DECIMAL-folded and pinned at 12 decimals —
    d bounded scalars to the driver (never rows)."""
    dims = df.select(
        F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    rows = (
        dims.groupBy("pos")
        .agg(
            F.sum(F.col("val").cast("decimal(28,12)")).alias("s"),
            F.count("*").alias("n"),
        )
        .orderBy("pos")
        .collect()
    )
    return [_dec12(float(r["s"]) / r["n"]) for r in rows]


def power_iteration_rounds(
    df: DataFrame,
    vec_col: str = "embedding",
    iterations: int = 3,
    mu: list[float] | None = None,
    state_store=None,
) -> DataFrame:
    """Power-iterate the (centered) covariance's dominant eigenvector
    and return EVERY round's vector as rows (round, pos, v) — round 0
    is the deterministic uniform start 1/sqrt(d).  Driver state per
    round: the d-vector; corpus passes per round: one.

    Returns the unit eigenvector estimate at 9-decimal quantization;
    removing that direction, r = x - (x·v)v, is the all-but-the-top
    normalization step.

    ``state_store`` (a VersionedTable) commits every completed
    round's full (round, pos, v) history atomically so a restarted
    driver resumes from the last committed round — the iterative-
    operator discipline (graph ops, classifier GD); config identity
    across the restart is the caller's contract.
    """
    spark = df.sparkSession
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("power_iteration_rounds: empty input")
    d = first["d"]
    if mu is None:
        mu = mean_vector(df, vec_col)
    if len(mu) != d:
        raise ValueError(f"mu has {len(mu)} dims, embeddings have {d}")
    v = [_q9(1.0 / _q9(d**0.5))] * d
    out = [(0, i, v[i]) for i in range(d)]
    start_round = 1
    if state_store is not None and state_store.history():
        prior = state_store.read().collect()
        if prior:
            out = sorted((r["round"], r["pos"], r["v"]) for r in prior)
            last = out[-1][0]
            v = [x for rnd_, _, x in out if rnd_ == last]
            start_round = last + 1
    for rnd in range(start_round, iterations + 1):
        mu_arr = F.array(*[F.lit(m) for m in mu])
        v_arr = F.array(*[F.lit(x) for x in v])
        # per-row centered dot: sequential in-array fold, fixed order
        centered = F.zip_with(
            F.col(vec_col).cast("array<double>"), mu_arr,
            lambda x, m: x - m,
        )
        dot = F.round(
            F.aggregate(
                F.zip_with(centered, v_arr, lambda c, w: c * w),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            9,
        )
        s_rows = (
            df.select(
                F.posexplode(
                    F.transform(centered, lambda c: c * dot)
                ).alias("pos", "contrib")
            )
            .groupBy("pos")
            .agg(
                F.sum(F.col("contrib").cast("decimal(38,12)")).alias("s")
            )
            .orderBy("pos")
            .collect()
        )
        s = [float(r["s"]) for r in s_rows]
        norm_sq = 0.0
        for x in s:  # ordered sequential fold — the oracle replays it
            norm_sq = norm_sq + x * x
        norm = _q9(norm_sq**0.5)
        if norm == 0.0:
            raise ValueError(
                "power iteration collapsed to the zero vector "
                "(degenerate input: all rows equal the mean?)"
            )
        v = [_q9(x / norm) for x in s]
        out.extend((rnd, i, v[i]) for i in range(d))
        if state_store is not None:
            state_store.overwrite(
                spark.createDataFrame(
                    out, "round int, pos int, v double"
                ),
                app_txn=("power_round", rnd),
            )
    return spark.createDataFrame(out, "round int, pos int, v double")
