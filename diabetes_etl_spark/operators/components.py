"""Connected components over a pair/edge DataFrame — the cluster step
between near-duplicate PAIR detection (dedup.py / similarity.py) and
canonical-document selection: every doc in a transitive near-dup
cluster gets the cluster's min doc id as its component label, so "keep
one per cluster" becomes a single filter (id = component).

Algorithm: iterative min-label propagation.
  comp[v]  <-  min(comp[v], min over neighbors u of comp[u])
repeated until a fixpoint.  Each round is ONE shuffle (groupBy on the
edge source) plus one equi-join — no driver-side graph, no quadratic
work.  Convergence takes O(diameter) rounds; near-dup clusters are
near-cliques (diameter 1-3 — a pair generator that produced a
1000-hop chain of 0.8-Jaccard pairs would itself be broken), so the
loop exits after 2-4 rounds in practice.  For adversarial/general
graphs the published fix is alternating large-star/small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14), which converges in O(log^2 n); the hook here is the same
edge relation, so swapping the inner step is local to this file.

Round state (the symmetrized edge snapshot and one label snapshot
per round) goes through operators/iterstate.py:RoundStore, which
describes the two media: committed parquet with driver-restart resume
when a ``work_dir`` is given, executor ``localCheckpoint`` blocks
otherwise.

The labels are (id, component) longs — the text/payload never enters
the loop, so a round's state is tiny relative to the input corpus.
The convergence signal is a ``changed`` column computed inside the
round's own materialization, so each round costs exactly one
materialization of new state plus a count over it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.iterstate import (
    RoundStore,
    state_write_partitions,
)
from diabetes_etl_spark.operators.util import scratch_dir

_CONVERGED_MARKER = "CONVERGED"
_STAR_SWITCH_MARKER = "STAR_SWITCH"


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    work_dir: str | None = None,
    auto_star: bool = True,
    state_partitions: int | None = None,
    assume_symmetric: bool = False,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the minimum
    node id of its connected component.

    Returns (id, component) for every node that appears in at least
    one edge — singletons (docs with no near-dup pair) are not graph
    nodes and are the caller's pass-through.  High-diameter graphs
    auto-switch to the star algorithm (below) well before ``max_iter``;
    the RuntimeError backstop remains for the pathological case where
    neither loop reaches a fixpoint in bounded rounds.

    ``work_dir`` selects the round-state medium (operators/iterstate.py):
    a durable path makes the loop resumable across driver restarts;
    without one, rounds are executor ``localCheckpoint`` blocks and a
    lost executor restarts the invocation.  Identical labels either
    way: each round runs the same join/aggregate over a materialized
    snapshot.

    High-diameter escape hatch: min-label propagation needs
    O(diameter) rounds, so when the per-round label-change count stops
    shrinking geometrically (the signature of a long-chain graph — a
    near-dup cluster is a near-clique and converges in 2-4 rounds),
    the loop AUTO-SWITCHES to :func:`connected_components_star`
    (O(log^2 n) rounds) over the already-materialized edge snapshot.
    The switch is recorded in ``work_dir`` so a restarted driver
    resumes directly on the star path.  Result contract is unchanged
    (the star labels are reconciled with self-loop-only nodes, which
    the star relation drops).  ``auto_star=False`` pins pure label
    propagation (tests of the propagation loop itself; callers who
    want the O(diameter) bound to FAIL loudly instead).
    """
    spark = edges.sparkSession
    nparts = state_write_partitions(spark, state_partitions)
    store = RoundStore(spark, work_dir, "round", nparts)
    resumed = store.marked(_CONVERGED_MARKER) and store.resume(max_iter)
    if resumed:
        return resumed[1].select("id", "component")

    def _star_fallback(sym_df: DataFrame) -> DataFrame:
        labels = connected_components_star(
            sym_df,
            "a",
            "b",
            max_iter=max(2 * max_iter, 40),
            work_dir=work_dir and os.path.join(work_dir, "star"),
        )
        # parity with the label-propagation contract: a node appearing
        # ONLY in self-loop edges is its own component (the canonical
        # star relation filters self-pairs, so reconcile here)
        missing = (
            sym_df.select(F.col("a").alias("id"))
            .distinct()
            .join(labels, "id", "left_anti")
            .withColumn("component", F.col("id"))
        )
        return labels.unionByName(missing)

    # snapshot the RAW edge list first (eagerly), then symmetrize FROM
    # THE SNAPSHOT: the upstream pair pipeline (shingling, LSH,
    # verification joins) executes exactly once.  Building
    # union(edges, swap(edges)) directly would duplicate the whole
    # upstream subtree — Catalyst does not share common subtrees
    # across union branches, so the most expensive stage of the job
    # would run twice.
    sym = raw = store.snapshot(
        "raw_edges",
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")),
        eager=True,
    )
    # ``assume_symmetric``: the caller PROMISES the input already
    # carries both directions of every edge, deduplicated (e.g. it was
    # built as union(e, swap(e)).distinct() upstream, or filtered from
    # such a set) — the symmetrize-distinct below would shuffle the
    # whole edge set once more only to reproduce its input.  A wrong
    # promise gives wrong components; callers opt in explicitly.
    if not assume_symmetric:
        sym = store.snapshot(
            "sym_edges",
            raw.union(
                raw.select(F.col("b").alias("a"), F.col("a").alias("b"))
            ).distinct(),
        )
    if store.marked(_STAR_SWITCH_MARKER):
        return _star_fallback(sym)

    last, labels = store.resume(max_iter) or (
        0,
        store.commit(
            0,
            sym.select(F.col("a").alias("id"))
            .distinct()
            .withColumn("component", F.col("id")),
        ),
    )
    prev_changed: int | None = None
    strikes = 0
    for k in range(last + 1, max_iter + 1):
        nbr_min = sym.join(
            labels, sym["b"] == labels["id"]
        ).groupBy("a").agg(F.min("component").alias("nbr_min"))
        new_comp = F.least(
            labels["component"],
            F.coalesce(F.col("nbr_min"), labels["component"]),
        )
        # the convergence signal is computed INSIDE the round's
        # materialization (the join is already running) and kept as a
        # column, so the probe below is a filter+count over the tiny
        # label state — not a second join job per round
        new_labels = store.commit(
            k,
            labels.join(nbr_min, labels["id"] == nbr_min["a"], "left")
            .select(
                labels["id"],
                new_comp.alias("component"),
                (new_comp != labels["component"]).alias("changed"),
            ),
        )
        changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.select("id", "component")
        if changed == 0:
            store.mark(_CONVERGED_MARKER, k)
            return labels
        # geometric-shrink probe (module docstring): a near-clique's
        # change count collapses round over round; a chain's decays
        # ~linearly (ratio -> 1).  One high ratio can be noise from a
        # small residual right before the fixpoint (a bridged clique
        # pair produces exactly that), so the switch needs TWO
        # CONSECUTIVE rounds with ratio > 0.7 — the signature of
        # O(diameter) rounds ahead — and then hands the same
        # materialized edge set to the O(log^2 n) star algorithm
        # (recording the switch so a restarted driver resumes straight
        # onto the star path).
        if prev_changed is not None and changed > 0.7 * prev_changed:
            strikes += 1
        else:
            strikes = 0
        if auto_star and k >= 3 and strikes >= 2:
            store.mark(_STAR_SWITCH_MARKER, k)
            return _star_fallback(sym)
        prev_changed = changed
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "the edge set has a longer path than any near-dup cluster "
        "should; raise max_iter only if that is intended (or use "
        "connected_components_star, which converges in O(log^2 n) "
        "rounds on high-diameter graphs)"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
    work_dir: str | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same (id, component) contract as
    :func:`connected_components`, but O(log^2 n) rounds instead of
    O(diameter), so it handles long-chain / high-diameter graphs that
    min-label propagation cannot finish in bounded rounds.

    State is the CANONICAL undirected pair set {(lo, hi) : lo < hi};
    each phase computes every node's neighborhood minimum
    m(u) = min(Gamma(u) + {u}) over the symmetrized relation (one
    groupBy of longs) and rewrites the pair set (one join + projection):

    - large-star: each pair (a, b), a < b, becomes (m(a), b) — larger
      neighbors re-attach to the smaller endpoint's minimum;
    - small-star: each node's smaller neighbors re-attach to its
      minimum ((v, m(u)) for v < u) and the node itself attaches to
      its minimum ((u, m(u))).

    The set converges to a star forest — every pair is (component
    minimum, member) — detected STRUCTURALLY (each member appears in
    exactly one pair and never as a root), which is stateless and so
    survives driver-restart resume.  Per-round state is committed
    parquet (operators/iterstate.py) under ``work_dir``, or under a
    scratch directory when it is omitted: resume from the last
    committed round, no executor-memory checkpoints.

    Near-dup clusters are near-cliques, so the default pair-dedup path
    keeps min-label propagation (fewer, cheaper rounds there); this
    variant is the documented escape hatch for adversarial/general
    graphs (chains of borderline-similar documents, entity-resolution
    edges, clickstream link graphs).
    """
    spark = edges.sparkSession
    store = RoundStore(spark, work_dir or scratch_dir(spark, "spark_ccstar_"))

    def _is_star_forest(pairs: DataFrame) -> bool:
        dup_member = (
            pairs.groupBy("b").count().filter(F.col("count") > 1)
        )
        member_as_root = pairs.select("a").intersect(pairs.select("b"))
        return (
            dup_member.limit(1).count() == 0
            and member_as_root.limit(1).count() == 0
        )

    k, cur = store.resume(max_iter) or (
        0,
        store.commit(
            0,
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("a"),
                F.greatest(F.col(src), F.col(dst)).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct(),
        ),
    )
    if not store.marked(_CONVERGED_MARKER):
        while not _is_star_forest(cur):
            k += 1
            if k > max_iter:
                raise RuntimeError(
                    f"connected_components_star did not converge in "
                    f"{max_iter} rounds"
                )
            sym = cur.union(
                cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            m = (
                sym.groupBy("a")
                .agg(F.min("b").alias("minb"))
                .select("a", F.least(F.col("a"), F.col("minb")).alias("m"))
            )
            if k % 2 == 1:  # large-star
                # every canonical pair (a, b) has b > a, so the whole
                # set rewrites to (m(a), b); m(a) <= a < b keeps the
                # output canonical with no self-pairs
                nxt = cur.join(m, "a").select(
                    F.col("m").alias("a"), F.col("b")
                )
            else:  # small-star
                # per node u: (m(u), v) for smaller neighbors v < u,
                # plus (m(u), u); m(u) <= v for neighbors v < u, and
                # self-pairs (v = m(u) or u = m(u)) are filtered
                smaller = sym.filter(F.col("b") < F.col("a")).join(
                    m, "a"
                ).select(F.col("m").alias("a"), F.col("b"))
                self_attach = m.select(
                    F.col("m").alias("a"), F.col("a").alias("b")
                )
                nxt = smaller.union(self_attach).filter(
                    F.col("a") != F.col("b")
                )
            cur = store.commit(k, nxt.distinct())
        store.mark(_CONVERGED_MARKER, k)
    # star forest -> labels: members point at their component minimum;
    # roots label themselves
    members = cur.select(
        F.col("b").alias("id"), F.col("a").alias("component")
    )
    roots = (
        cur.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    return members.union(roots)
