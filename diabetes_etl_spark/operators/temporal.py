"""Temporal (validity-interval) joins over SCD2 history — the
consumption side of CDC apply-changes (streaming/cdc.py): once a
dimension is stored as type-2 history with ``__start_at``/``__end_at``
bounds, every fact wants the dimension VERSION that was valid at its
own event time.

:func:`temporal_join` joins fact rows to the history version whose
[start, end) interval contains the fact timestamp.  Because
SCD2 intervals PARTITION time per key (end = next start, current
version open-ended), every fact matches at most one version — no
dedup pass, no window re-sort of the fact side.  This is the
interval formulation of the as-of join (operators/asof.py is the
union+window formulation over raw events); given a materialized
history table it is ONE equi-join on the key with the interval
predicate as join residual.

Scale notes (100 TB lens): the join is a plain equi-join on the
dimension key — it shuffles fact and history on the key once (or
broadcasts the history when it fits; AQE decides), and the interval
residual evaluates inside the join, so no range-explode and no
cartesian anywhere.  Key skew (one hot entity) is the ordinary
salted-join problem, not a temporal one.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def _interval_contains(
    ts: Column, start: Column, end: Column
) -> Column:
    """start <= ts < end, with NULL end = open-ended current version."""
    return (start <= ts) & (end.isNull() | (ts < end))


def temporal_join(
    facts: DataFrame,
    history: DataFrame,
    keys: Sequence[str],
    fact_ts: str,
    start_col: str = "__start_at",
    end_col: str = "__end_at",
    how: str = "left",
) -> DataFrame:
    """``facts`` joined to the history version valid at ``fact_ts``.

    History columns keep their names (callers project/alias); the
    validity-bound columns are dropped from the output.  ``how`` is
    "left" (facts with no valid version carry NULLs — e.g. events
    before the entity existed) or "inner".

    A fact whose timestamp equals a version boundary belongs to the
    NEWER version (start inclusive, end exclusive) — the SCD2
    convention that makes intervals partition time exactly.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    cond = None
    for k in keys:
        c = facts[k] == history[k]
        cond = c if cond is None else (cond & c)
    cond = cond & _interval_contains(
        facts[fact_ts], history[start_col], history[end_col]
    )
    hist_cols = [
        c for c in history.columns
        if c not in keys and c not in (start_col, end_col)
    ]
    return facts.join(history, cond, how).select(
        *[facts[c] for c in facts.columns],
        *[history[c] for c in hist_cols],
    )
