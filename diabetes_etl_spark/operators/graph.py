"""Fixed-iteration PageRank over an edge DataFrame — the second
iterative-graph operator next to connected components
(operators/components.py), showing the general driver-side-loop /
executor-side-data pattern for algorithms Catalyst can't express in
one plan.

Determinism contract: contribution sums fold through fixed-scale
DECIMAL (functions/numeric.py rationale), so ranks are bit-identical
across partitionings AND against a SQL oracle that unrolls the same
iterations — which makes even this iterative operator hash-checkable,
unlike the typical float PageRank whose result depends on reduction
order.

Scale notes (100 TB lens):
- state per iteration is (node, rank, deg, __n) — a few longs per
  node, never edges × anything; out-degrees are joined into the rank
  state ONCE before the loop and then simply travel with the rank
  row, so no per-iteration degree join and no broadcast of an
  O(nodes) table ever happens (the iteration body is exactly ONE
  shuffle join edges ⋈ ranks on src + ONE aggregate on dst + ONE
  small left join back onto the node state);
- the input edge subtree (which may be an expensive upstream
  pipeline) is snapshotted once and every iteration reads the
  snapshot, so the upstream plan executes exactly once;
- the iteration count is fixed (power iteration converges
  geometrically at damping^k; 10-20 rounds is production practice —
  web-graph PageRank, not an unbounded loop);
- each round's state is committed parquet with driver-restart
  resume (operators/iterstate.py).  When ``work_dir`` is omitted a
  scratch directory is used (removed at interpreter exit; the
  returned DataFrame reads from it, hence atexit, not finally).

Dangling nodes: the caller chooses — `symmetric=True` doubles each
edge so no node dangles (undirected interpretation); with directed
edges, dangling mass is dropped (ranks then sum to < 1, the
"simplified PageRank" convention) — both conventions replicate
exactly in the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.functions.numeric import dec_cast, dec_sum
from diabetes_etl_spark.operators.iterstate import (
    RoundStore,
    state_write_partitions,
)
from diabetes_etl_spark.operators.util import scratch_dir

_SCALE = 12


def _edge_snapshot(
    store: RoundStore, edges: DataFrame, src: str, dst: str, symmetric: bool
) -> DataFrame:
    """Distinct (src, dst) edges — both directions when ``symmetric``
    — snapshotted once: every iteration reads the snapshot, not the
    (possibly expensive) upstream plan."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if symmetric:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    return store.snapshot("edges", e.distinct())


def _pr_step(e: DataFrame, ranks: DataFrame, damping: float) -> DataFrame:
    """One power iteration, lazily: edges ⋈ rank-state on src (deg and
    __n already live IN the state row — no degree join, no broadcast
    hint; AQE picks the physical join from the actual sizes), one
    decimal-folded aggregate on dst, one left join back onto the node
    state.  Exactly two joins total — asserted in tests/test_plans.py."""
    contribs = (
        e.join(
            ranks.select(F.col("node").alias("src"), "rank", "deg"),
            "src",
        )
        .select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        .groupBy("node")
        # fold at scale 15 (not the output's 12): a 12-decimal rank
        # divided by a small integer degree can land EXACTLY on a
        # 13th-decimal 5, where Spark's HALF_UP and a SQL oracle's
        # half-even decimal casts disagree; three extra digits put
        # the cast far below any exactly-representable tie
        .agg(dec_sum(F.col("c"), _SCALE + 3, 38).alias("in_mass"))
    )
    return (
        ranks.select("node", "deg", "__n")
        .join(contribs, "node", "left")
        .select(
            "node",
            dec_cast(
                (1.0 - damping) / F.col("__n")
                + damping * F.coalesce(F.col("in_mass"), F.lit(0.0)),
                _SCALE,
            ).alias("rank"),
            F.col("deg"),
            F.col("__n"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    symmetric: bool = True,
    work_dir: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """(node, rank) after ``iterations`` of power iteration at 12
    decimal digits.  Ranks start uniform at 1/N (N computed IN-PLAN
    via a broadcast 1-row aggregate — no driver collect).

    ``state_partitions`` caps the per-round rank-state write; the
    default scales with ``defaultParallelism`` (operators/iterstate.py
    — never a constant, so executor-side write parallelism survives a
    1000-core cluster).

    ``work_dir`` is the reliable-materialization directory (module
    docstring): pass a durable path to make the loop resumable across
    driver restarts; a given ``work_dir`` is one invocation's state
    and must not be shared across different edge sets or parameters.
    """
    spark = edges.sparkSession
    store = RoundStore(
        spark,
        work_dir or scratch_dir(spark, "spark_pr_"),
        "rank",
        state_write_partitions(spark, state_partitions),
    )
    e = _edge_snapshot(store, edges, src, dst, symmetric)
    # round 0: uniform ranks, with the out-degree joined in ONCE —
    # from here on deg travels with the rank row
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_total = nodes.agg(F.count("*").alias("__n"))
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    last, ranks = store.resume(iterations) or (
        0,
        store.commit(
            0,
            nodes.crossJoin(F.broadcast(n_total))
            .join(outdeg, nodes["node"] == outdeg["src"], "left")
            .select(
                "node",
                dec_cast(F.lit(1.0) / F.col("__n"), _SCALE).alias("rank"),
                F.col("deg"),
                F.col("__n"),
            ),
        ),
    )
    for k in range(last + 1, iterations + 1):
        ranks = store.commit(k, _pr_step(e, ranks, damping))
    return ranks.select("node", "rank")


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    work_dir: str | None = None,
) -> DataFrame:
    """(node, deg) after ``rounds`` of k-core peeling — each round
    recomputes degrees on the surviving subgraph and drops every node
    with degree < k (Matula & Beck's peel, the fixed-round form).
    When a round removes nothing the state is the exact k-core and
    further rounds are no-ops, so "enough rounds" converges — tests
    pin fixpoint equivalence against a pure-Python reference, and the
    registered query's oracle unrolls the SAME rounds as CTE layers
    (the PageRank recipe: fixed iterations make an iterative
    algorithm hash-checkable).

    Input edges are treated as undirected and are symmetrized +
    deduplicated here (self-loops dropped: a self-loop inflates its
    node's degree with no neighbor to peel).

    Scale notes (100 TB lens): per round ONE degree aggregate (map-
    side combined) + two semi-joins of the edge set against the
    surviving-node table (AQE broadcasts it as it shrinks); the edge
    set only ever SHRINKS, and each round's survivor edges are
    committed round state — lineage truncates per round, a restarted
    driver resumes from the last committed round
    (operators/iterstate.py).
    """
    spark = edges.sparkSession
    store = RoundStore(
        spark, work_dir or scratch_dir(spark, "spark_kcore_"), "edges"
    )
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    last, e = store.resume(rounds) or (
        0,
        store.commit(
            0,
            e0.unionByName(
                e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            .filter(F.col("a") != F.col("b"))
            .distinct(),
        ),
    )
    for r in range(last + 1, rounds + 1):
        deg = e.groupBy("a").agg(F.count("*").alias("deg"))
        alive = deg.filter(F.col("deg") >= k).select("a")
        e = store.commit(
            r,
            e.join(alive, "a")
            .join(alive.select(F.col("a").alias("b")), "b")
            .select("a", "b"),
        )

    return e.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("deg")
    )


def _ppr_step(e: DataFrame, ranks: DataFrame, damping: float) -> DataFrame:
    """One personalized power iteration: identical join shape to
    _pr_step, but teleport mass goes to the per-node ``tele`` weight
    carried IN the state row (0 for non-sources) instead of 1/N."""
    contribs = (
        e.join(
            ranks.select(F.col("node").alias("src"), "rank", "deg"),
            "src",
        )
        .select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        .groupBy("node")
        .agg(dec_sum(F.col("c"), _SCALE + 3, 38).alias("in_mass"))
    )
    return (
        ranks.select("node", "deg", "tele")
        .join(contribs, "node", "left")
        .select(
            "node",
            dec_cast(
                (1.0 - damping) * F.col("tele")
                + damping * F.coalesce(F.col("in_mass"), F.lit(0.0)),
                _SCALE,
            ).alias("rank"),
            F.col("deg"),
            F.col("tele"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    symmetric: bool = True,
    work_dir: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """(node, rank) under PERSONALIZED PageRank: teleport lands only on
    the ``sources`` node set (a 1-column DataFrame of node ids), so
    ranks measure proximity to those sources — the
    recommendation/related-items form of PageRank (random walk with
    restart).

    Same scale/determinism contract as :func:`pagerank`: the teleport
    weight (1/|S| for sources, 0 otherwise, |S| computed IN-PLAN) is
    joined into the rank state ONCE and travels with the row; the
    iteration body is exactly two joins with no O(nodes) broadcast;
    per-round rank parquet commits to ``work_dir`` with
    driver-restart resume (write parallelism scales with the cluster
    via ``state_partitions`` / operators/iterstate.py); decimal-folded
    sums make every round bit-identical to the SQL oracle's unroll.

    ``sources`` must intersect the graph's node set: an empty
    intersection has no teleport distribution (1/|S| is undefined), so
    round-0 init raises ``ValueError`` — explicitly, not as an opaque
    NaN-cast error downstream.  The check is a LIMIT-1 existence probe
    during init only (bounded, never O(nodes) to the driver).

    Dangling mass with ``symmetric=False``: as in :func:`pagerank`,
    a dangling node's rank mass is DROPPED each round (ranks then sum
    to < 1 — the "simplified PageRank" convention).  For personalized
    ranks this means proximity scores are not renormalized toward the
    source set when walks fall off dangling nodes; use
    ``symmetric=True`` (no dangling nodes by construction) when the
    sum-to-1 interpretation matters.
    """
    spark = edges.sparkSession
    store = RoundStore(
        spark,
        work_dir or scratch_dir(spark, "spark_ppr_"),
        "rank",
        state_write_partitions(spark, state_partitions),
    )
    e = _edge_snapshot(store, edges, src, dst, symmetric)
    resumed = store.resume(iterations)
    if resumed is None:
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        srcs = sources.toDF("node").distinct()
        flagged = nodes.join(
            srcs.withColumn("__is_src", F.lit(1)), "node", "left"
        )
        # |S ∩ nodes| = 0 leaves 1/|S| undefined (0/0 -> NaN -> the
        # decimal cast raises an opaque ANSI error); fail loud instead.
        # LIMIT 1 bounds the probe — one row at most reaches the driver
        if (
            flagged.filter(F.col("__is_src").isNotNull()).limit(1).count()
            == 0
        ):
            raise ValueError(
                "personalized_pagerank: no source id intersects the "
                "graph's node set — the teleport distribution 1/|S| is "
                "undefined; check the sources DataFrame's id column"
            )
        n_src = flagged.agg(
            F.sum(F.coalesce("__is_src", F.lit(0))).alias("__ns")
        )
        outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
        resumed = 0, store.commit(
            0,
            flagged.crossJoin(F.broadcast(n_src))
            .join(outdeg, flagged["node"] == outdeg["src"], "left")
            .select(
                "node",
                dec_cast(
                    F.coalesce("__is_src", F.lit(0)).cast("double")
                    / F.col("__ns"),
                    _SCALE,
                ).alias("tele"),
                F.col("deg"),
            )
            .withColumn("rank", F.col("tele"))
            .select("node", "rank", "deg", "tele"),
        )
    last, ranks = resumed
    for k in range(last + 1, iterations + 1):
        ranks = store.commit(k, _ppr_step(e, ranks, damping))
    return ranks.select("node", "rank")


def _lpa_step(e: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous label-propagation round: every node adopts the
    most frequent label among its in-neighbours (ties -> smallest
    label; no in-neighbours -> keep own).  The argmax folds into ONE
    aggregate via max(struct(count, -label)) — max count first, then
    max(-label) = MIN label — so the round is one join + two map-side-
    combined aggregates, never a per-node window over vote rows."""
    votes = (
        e.join(
            labels.select(F.col("node").alias("src"), "label"), "src"
        )
        .groupBy(F.col("dst").alias("node"), "label")
        .agg(F.count("*").alias("c"))
    )
    winner = (
        votes.groupBy("node")
        .agg(
            F.max(
                F.struct(
                    F.col("c").alias("c"),
                    (-F.col("label")).alias("nl"),
                )
            ).alias("m")
        )
        .select("node", (-F.col("m.nl")).alias("__new"))
    )
    return (
        labels.select("node", F.col("label").alias("__old"))
        .join(winner, "node", "left")
        .select(
            "node", F.coalesce("__new", "__old").alias("label")
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    symmetric: bool = True,
    work_dir: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """(node, label) after ``iterations`` of SYNCHRONOUS label
    propagation (Raghavan et al. 2007, the fixed-round deterministic
    form) — community detection as vote-counting: labels start as own
    node ids and each round every node adopts its in-neighbourhood's
    majority label, smallest-label tiebreak.

    Synchronous + deterministic-tiebreak is what makes LPA
    HASH-CHECKABLE: the reference algorithm's random update order and
    random tie choice yield run-dependent communities, useless under
    a correctness gate.  The fixed-round sync form is pure integer
    arithmetic (counts and long labels — no floats anywhere), so a
    SQL oracle unrolling the same rounds reproduces every label
    bit-exactly.  Known sync-LPA caveat, inherited and documented:
    labels can two-cycle on bipartite-ish regions (the reason the
    round count is a fixed budget, not a convergence test).

    Scale shape (100 TB lens): state is (node, label) — two longs per
    node; each round is ONE edges ⋈ labels shuffle join plus two
    map-side-combined aggregates (votes bounded by distinct
    (node, in-label) pairs <= edges; the argmax folds into
    max(struct)) and commits its round state — lineage truncation +
    driver-restart resume, write
    parallelism from ``state_partitions`` / defaultParallelism
    (operators/iterstate.py), the same contract as pagerank/
    components.  ``symmetric=True`` doubles edges so isolated-sink
    nodes still receive votes (undirected communities, the usual
    reading)."""
    spark = edges.sparkSession
    store = RoundStore(
        spark,
        work_dir or scratch_dir(spark, "spark_lpa_"),
        "labels",
        state_write_partitions(spark, state_partitions),
    )
    e = _edge_snapshot(store, edges, src, dst, symmetric)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    last, labels = store.resume(iterations) or (
        0,
        store.commit(0, nodes.select("node", F.col("node").alias("label"))),
    )
    for k in range(last + 1, iterations + 1):
        labels = store.commit(k, _lpa_step(e, labels))
    return labels.select("node", "label")


def khop_counts(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """(seed, hop, n_new, n_cum): breadth-first reachability counts —
    how many nodes are FIRST reached at each hop ``1..max_hops`` from
    every seed (the k-hop neighborhood-growth profile used for
    influence estimation and graph-sampling fan-out planning).

    ``edges`` is (src, dst) directed (pass a symmetrized table for
    undirected semantics, like the trade graph); ``seeds`` is a
    1-column (seed) frame.

    Scale shape (100 TB lens): classic frontier BFS — hop h joins the
    CURRENT FRONTIER ONLY (nodes first reached at h-1, never the
    accumulated set or the walk multiset) against the edge table on
    its src key, then anti-joins the visited set; per-hop cost is
    |frontier⋈edges| and the visited set grows to at most
    seeds x nodes.  max_hops is small by definition (neighborhood
    profiles), so the unrolled plan stays shallow; seeds are a thin
    broadcast side.  The walk-multiset formulation (what a naive
    recursive join produces) is exponentially larger — the oracle
    deduplicates per level for the same reason.
    """
    seed_col = seeds.columns[0]
    frontier = seeds.select(
        F.col(seed_col).alias("seed"), F.col(seed_col).alias("node")
    ).distinct()
    visited = frontier
    parts = []
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
        )
        new = nxt.join(visited, ["seed", "node"], "left_anti").withColumn(
            "hop", F.lit(h)
        )
        parts.append(new)
        visited = visited.unionByName(new.select("seed", "node"))
        frontier = new.select("seed", "node")
    reached = parts[0].select("seed", "node", "hop")
    for p in parts[1:]:
        reached = reached.unionByName(p.select("seed", "node", "hop"))
    per_hop = reached.groupBy("seed", "hop").agg(
        F.count("*").alias("n_new")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("seed")
        .orderBy("hop")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_hop.select(
        "seed",
        F.col("hop").cast("int").alias("hop"),
        "n_new",
        F.sum("n_new").over(w).alias("n_cum"),
    )


def modularity_contributions(
    edges_sym: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman modularity of a community partition, per community:
    (community, size, intra_pairs, degree_sum, q_contrib, q_total).

    Q = sum_c [ A_c/(2m) - (d_c/(2m))^2 ]  (Newman & Girvan 2004),
    computed on a SYMMETRIC edge table where each undirected edge
    appears in both directions: with E = |rows| = 2m, A_c = symmetric
    rows with both endpoints in c, and d_c = the out-degree sum of c,
    each contribution is (A_c*E - d_c^2)/E^2.  The numerator folds as
    exact DECIMAL(38,0) integers (A_c*E <= 1e20 and d_c^2 <= 1e20 at
    1e10 edges — ample headroom), so the ONLY IEEE steps are the two
    final divisions, performed in an identical order in the SQL twin
    and rounded to 12dp where born.  q_total = (sum_c num_c)/E^2 is
    the partition's quality score, attached to every row from the
    same exact fold.

    Scale shape (100 TB lens): degree is one map-side-combined
    aggregate; intra-edge counting is two node-keyed equi-joins of
    the edge table against the (node, label) state (shuffle on node
    ids, never a community-sized fan-out); everything after is
    O(communities) plus two intentional 1-row broadcast cross-joins
    (the in-plan scalar pattern of SURVEY §7.4).  No collect, no UDF,
    no window.
    """
    e = edges_sym.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    lab = labels.select("node", "label")
    tot = e.agg(F.count(F.lit(1)).alias("e2"))
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    nd = deg.join(lab, "node").groupBy("label").agg(
        F.sum("d").alias("d_c"), F.count(F.lit(1)).alias("size")
    )
    ls = lab.select(F.col("node").alias("src"), F.col("label").alias("sl"))
    ld = lab.select(F.col("node").alias("dst"), F.col("label").alias("dl"))
    intra = (
        e.join(ls, "src")
        .join(ld, "dst")
        .where(F.col("sl") == F.col("dl"))
        .groupBy(F.col("sl").alias("label"))
        .agg(F.count(F.lit(1)).alias("a_c"))
    )
    dq = "decimal(38,0)"
    num = (
        nd.join(intra, "label", "left")
        .select(
            "label",
            "size",
            "d_c",
            F.coalesce("a_c", F.lit(0)).alias("a_c"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("label").alias("community"),
            "size",
            "a_c",
            "d_c",
            "e2",
            (
                F.col("a_c").cast(dq) * F.col("e2").cast(dq)
                - F.col("d_c").cast(dq) * F.col("d_c").cast(dq)
            ).alias("q_num"),
        )
    )
    qtot = num.agg(F.sum("q_num").alias("q_num_tot"))
    return num.crossJoin(F.broadcast(qtot)).select(
        "community",
        F.col("size").cast("long").alias("size"),
        F.expr("a_c DIV 2").cast("long").alias("intra_pairs"),
        F.col("d_c").cast("long").alias("degree_sum"),
        F.round(
            F.col("q_num").cast("double") / F.col("e2") / F.col("e2"), 12
        ).alias("q_contrib"),
        F.round(
            F.col("q_num_tot").cast("double") / F.col("e2") / F.col("e2"),
            12,
        ).alias("q_total"),
    )
