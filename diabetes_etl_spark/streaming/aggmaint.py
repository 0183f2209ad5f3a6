"""Incremental aggregate maintenance — the materialized-view pattern:
a grouped aggregate kept up to date by MERGING each micro-batch's
partial aggregate into a stored table, instead of rescanning history.

Works for any ALGEBRAIC aggregate (count/sum — and avg/stddev via
sum + count + sum-of-squares): partial(batch) ⊕ stored = stored', the
same map-side-combine algebra Spark uses inside one job, lifted
across jobs.  MIN/MAX also merge; DISTINCT does not (keep a sketch —
operators/sketch.py — or the raw keys for that).

Storage is the VersionedTable (sources/versioned.py): each refresh is
one atomic manifest commit, so readers always see a consistent
snapshot, time travel gives the aggregate AS OF any refresh, and a
crashed refresh is invisible.  Pair with foreachBatch +
availableNow/checkpoint for exactly-once streaming maintenance
(tests/test_streaming.py drives that path end-to-end and pins the
result against the batch groupBy of ALL input).

Scale notes (100 TB lens): per refresh the NEW data is one
map-side-combined groupBy (cost ∝ batch, not history) and the merge
touches stored-groups ∪ batch-groups rows — for a rolled-up key space
that is orders of magnitude smaller than either input; history is
never rescanned, which is the entire point.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.sources.versioned import VersionedTable


def partial_aggs(
    batch: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
) -> DataFrame:
    """The mergeable partial state of one batch: per-key row count +
    exact sums (money-scale DECIMAL so cross-refresh addition is
    order-independent and overflow-checked)."""
    aggs = [F.count("*").alias("n_rows")]
    for c in sum_cols:
        aggs.append(
            F.sum(F.col(c).cast("decimal(28,2)")).alias(f"sum_{c}")
        )
    return batch.groupBy(*keys).agg(*aggs)


def merge_partial_aggs(
    store: VersionedTable,
    batch: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    app_txn: tuple[str, int] | None = None,
) -> int:
    """Fold one batch into the stored aggregate: partial-agg the batch,
    union with the stored state, re-combine per key, commit as ONE
    atomic overwrite (snapshot isolation for readers; a crash before
    the manifest publish leaves the previous refresh intact).

    Returns the committed version.  Designed as a ``foreachBatch``
    body: checkpointed micro-batches make the maintenance
    exactly-once.
    """
    part = partial_aggs(batch, keys, sum_cols)
    if store.history():
        merged = (
            store.read()
            .unionByName(part)
            .groupBy(*keys)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                *[
                    F.sum(f"sum_{c}").alias(f"sum_{c}")
                    for c in sum_cols
                ],
            )
        )
    else:
        merged = part
    return store.overwrite(merged, app_txn=app_txn)


def merge_cdc_partial_aggs(
    store: VersionedTable,
    batch: DataFrame,
    keys: Sequence[str],
    op_col: str,
    sum_cols: Sequence[str] = (),
    app_txn: tuple[str, int] | None = None,
) -> int:
    """Aggregate maintenance under RETRACTIONS — the Z-set/DBSP
    formulation: each change row carries ``op_col`` with 'I' (insert)
    or 'D' (delete of a previously-inserted row); an update is the
    standard D(old-image) + I(new-image) pair, as CDC feeds emit it.
    Inserts weigh +1, deletes -1; counts and sums are weighted the
    same way, so the merged state equals the aggregate of the
    SURVIVING rows exactly — and a group whose row count reaches zero
    is REMOVED from the store (not kept as a zero row; its sums have
    also provably cancelled).

    Same atomic-overwrite/snapshot contract and ``foreachBatch``
    shape as :func:`merge_partial_aggs`; unknown op codes fail the
    refresh loudly rather than silently skewing the view.

    MIN/MAX are not maintainable under retractions in this exact form
    (deleting the current max needs history) — :func:`maintain_minmax_state`
    provides the bounded top-k candidate state that keeps the common
    cases exact and FLAGS the rare unknowable group instead of
    guessing.

    ``app_txn=(app_id, upstream_version)`` rides into the store
    commit for the Delta-`txn` idempotence handshake: a consumer
    reads its cursor back with ``store.last_app_version(app_id)``.
    """
    ops = batch.select(F.col(op_col)).distinct()
    bad = ops.filter(~F.col(op_col).isin("I", "D")).limit(1).collect()
    if bad:
        raise ValueError(
            f"merge_cdc_partial_aggs: unknown op code {bad[0][0]!r} "
            "(expected 'I' or 'D')"
        )
    w = F.when(F.col(op_col) == "I", F.lit(1)).otherwise(F.lit(-1))
    aggs = [F.sum(w).alias("n_rows")]
    for c in sum_cols:
        aggs.append(
            F.sum(
                w * F.col(c).cast("decimal(28,2)")
            ).alias(f"sum_{c}")
        )
    part = batch.groupBy(*keys).agg(*aggs)
    if store.history():
        merged = (
            store.read()
            .unionByName(part)
            .groupBy(*keys)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                *[
                    F.sum(f"sum_{c}").alias(f"sum_{c}")
                    for c in sum_cols
                ],
            )
        )
    else:
        merged = part
    return store.overwrite(
        merged.filter(F.col("n_rows") > 0), app_txn=app_txn
    )


def maintain_minmax_state(
    store: VersionedTable,
    batch: DataFrame,
    keys: Sequence[str],
    value_col: str,
    op_col: str,
    k: int = 16,
    mode: str = "max",
    app_txn: tuple[str, int] | None = None,
) -> int:
    """MIN/MAX maintenance under retractions via a bounded per-group
    candidate state (round-7 VERDICT #8): exact while the true
    extremum stays among the k retained candidates; a FLAGGED group
    (``needs_recompute``) when deletions exhaust them — never a
    silently wrong answer.

    State per group (stored in ``store``):

    - ``candidates``: the k most-extreme SURVIVING values (with
      multiplicity), descending for max / ascending for min;
    - ``trunc_floor``: the most extreme value ever truncated away
      (NULL when nothing was) — the watermark that makes pruning
      sound: every truncated survivor is dominated by it;
    - ``n_rows``: surviving row count (Z-set weighted);
    - ``group_max`` / ``group_min``: the maintained extremum — the
      head candidate, NULL only when flagged;
    - ``needs_recompute``: TRUE when candidates emptied while rows
      survive (the extremum hides among truncated history — the one
      inherently unknowable case; rebuild that group from source).

    Transition per refresh (inside one Arrow-batched applyInPandas
    over state ∪ batch-deltas, grouped by ``keys``): net the batch to
    (value → weight); inserts at or beyond the watermark join the
    pool, strictly-dominated inserts are dropped (they can never beat
    a truncated survivor — if the pool ever empties, the flag fires
    anyway); deletes at or beyond the watermark remove their
    occurrences from the pool — a removal miss exactly AT the
    watermark is a truncated copy and is ignored, while strictly
    dominated deletes are skipped outright (tie-at-boundary deletes
    MUST try the pool first: pool values can equal the watermark);
    the pool then truncates back to k, advancing the watermark.
    Deleting a value strictly beyond the watermark that is not in the
    pool means the input retracted a row it never inserted — that
    fails loudly.

    Scale shape: state is O(groups × k); per refresh the only
    pandas-side work is groups touched by the batch (plus a pool
    bounded by k + the batch's own per-group insert count); untouched
    groups pass through column-aligned.  Same atomic-overwrite
    snapshot contract as every maintainer here.
    """
    if mode not in ("max", "min"):
        raise ValueError(f"mode must be 'max' or 'min', got {mode!r}")
    sign = 1.0 if mode == "max" else -1.0
    ext_col = f"group_{mode}"

    ops = batch.select(F.col(op_col)).distinct()
    bad = ops.filter(~F.col(op_col).isin("I", "D")).limit(1).collect()
    if bad:
        raise ValueError(
            f"maintain_minmax_state: unknown op code {bad[0][0]!r} "
            "(expected 'I' or 'D')"
        )
    # NULL values carry no extremum information and are DROPPED (the
    # SQL MIN/MAX convention) BEFORE netting — without this a NULL
    # delta row would be indistinguishable from the state row inside
    # the merge (state rows are identified by a NULL __val).  n_rows
    # therefore counts NON-NULL rows only, on both insert and delete
    # sides — a consistent Z-set over the non-null sub-multiset.
    batch = batch.filter(F.col(value_col).isNotNull())

    import pandas as pd

    keys = list(keys)
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in batch.select(*keys).schema.fields
    )
    out_schema = (
        f"{key_fields}, candidates array<double>, trunc_floor double, "
        f"n_rows long, {ext_col} double, needs_recompute boolean"
    )

    w = F.when(F.col(op_col) == "I", F.lit(1)).otherwise(F.lit(-1))
    deltas = (
        batch.groupBy(*keys, F.col(value_col).cast("double").alias("__val"))
        .agg(F.sum(w).alias("__wt"))
        .filter(F.col("__wt") != 0)
        .select(
            *keys,
            "__val",
            "__wt",
            F.lit(None).cast("array<double>").alias("candidates"),
            F.lit(None).cast("double").alias("trunc_floor"),
            F.lit(None).cast("long").alias("n_rows"),
        )
    )
    if store.history():
        state = store.read().select(
            *keys,
            F.lit(None).cast("double").alias("__val"),
            F.lit(None).cast("long").alias("__wt"),
            "candidates",
            "trunc_floor",
            "n_rows",
        )
        both = deltas.unionByName(state)
    else:
        both = deltas

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key_vals = {c: pdf[c].iloc[0] for c in keys}
        st = pdf[pdf["__val"].isna()]
        # signed pool: max-mode keeps values as-is, min-mode negates,
        # so "larger is more extreme" uniformly
        pool: list[float] = []
        floor = None
        n = 0
        if len(st):
            row = st.iloc[0]
            if row["candidates"] is not None:
                pool = [sign * v for v in row["candidates"]]
            if row["trunc_floor"] is not None and not pd.isna(
                row["trunc_floor"]
            ):
                floor = sign * float(row["trunc_floor"])
            n = int(row["n_rows"])
        for _, d in pdf[pdf["__val"].notna()].iterrows():
            v, wt = sign * float(d["__val"]), int(d["__wt"])
            n += wt
            # Strictly-dominated values can never be pool-resident
            # (truncation keeps pool[:k] >= pool[k] == floor), so only
            # v < floor is safe to skip outright.  A value that TIES
            # the watermark may have copies both in the pool and in
            # truncated history — deletes must try pool removal FIRST
            # and treat only a removal miss at v == floor as the
            # truncated-copy case (round-8 ADVICE high: delete of a
            # pool-resident tie was silently ignored, leaving a stale
            # extremum).
            if floor is not None and v < floor:
                continue  # dominated by a truncated survivor
            if wt > 0:
                pool.extend([v] * wt)
            else:
                for _ in range(-wt):
                    try:
                        pool.remove(v)
                    except ValueError:
                        if floor is not None and v == floor:
                            # this copy was truncated at the watermark
                            continue
                        raise ValueError(
                            f"maintain_minmax_state: retraction of "
                            f"{sign * v!r} in group {key_vals} has no "
                            "matching surviving insert"
                        ) from None
        if n < 0:
            raise ValueError(
                f"maintain_minmax_state: group {key_vals} row count "
                f"went negative ({n})"
            )
        if n == 0:
            return pd.DataFrame(
                columns=[*keys, "candidates", "trunc_floor", "n_rows",
                         ext_col, "needs_recompute"]
            )
        pool.sort(reverse=True)
        if len(pool) > k:
            floor = pool[k] if floor is None else max(floor, pool[k])
            pool = pool[:k]
        return pd.DataFrame(
            [
                {
                    **key_vals,
                    "candidates": [sign * v for v in pool],
                    "trunc_floor": None if floor is None else sign * floor,
                    "n_rows": n,
                    ext_col: sign * pool[0] if pool else None,
                    "needs_recompute": not pool,
                }
            ]
        )

    merged = both.groupBy(*keys).applyInPandas(merge_group, out_schema)
    return store.overwrite(merged, app_txn=app_txn)
