"""Registered PageRank query (operators/graph.py) over the
supplier↔customer trade graph (distinct supplier→customer pairs from
lineitem⋈orders, made symmetric so no node dangles).

The oracle UNROLLS the same three power iterations as SQL CTE layers
with the same decimal-folded contribution sums — an iterative
algorithm under the gate-style hash comparison, which a float
implementation could never pass (reduction order would leak into the
last ulp; the decimal fold is what pins it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.graph import pagerank
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

_D = 0.85
_ITERS = 3
_OFFSET = 1.0 - _D  # same python float the operator uses

# Customer node ids live at +10^12 so the two node spaces stay
# disjoint at ANY scale factor (round-7 ADVICE: the old +10^6 offset
# collides with l_suppkey, max 10000*SF, past SF 100 — both engines
# would consistently but silently compute communities on a merged-id
# graph).  Keep in sync with the literal in every *_ORACLE SQL above.
_CUST_NODE_OFFSET = 1_000_000_000_000


def _custkey_node(custkey: F.Column, suppkey: F.Column) -> F.Column:
    """Customer node id in an id space disjoint from supplier ids,
    with a per-row codegen guard: if a supplier id ever reaches the
    customer offset (or a customer key is negative), the query FAILS
    loudly instead of silently merging the graphs.  assert_true
    returns NULL on success, so the coalesce term adds 0 and the guard
    costs one comparison per edge row inside codegen."""
    guard = F.assert_true(
        (suppkey < F.lit(_CUST_NODE_OFFSET)) & (custkey >= F.lit(0)),
        F.lit(
            "supplier/customer node id ranges overlap: raise "
            "_CUST_NODE_OFFSET (graphplans.py)"
        ),
    )
    return custkey + F.lit(_CUST_NODE_OFFSET) + F.coalesce(
        guard.cast("bigint"), F.lit(0)
    )


def _iter_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT nd.node,
    CAST(CAST(CAST({_OFFSET!r} AS DOUBLE) / nn.n
              + CAST({_D} AS DOUBLE) * COALESCE(m.mass, 0.0)
         AS DECIMAL(18,12)) AS DOUBLE) AS rank
  FROM nodes nd
  CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
      CAST(SUM(CAST(p.rank / deg.deg AS DECIMAL(38,15))) AS DOUBLE) AS mass
    FROM e
    JOIN {prev} p ON e.src = p.node
    JOIN deg ON e.src = deg.src
    GROUP BY e.dst
  ) m ON nd.node = m.node
)"""


_PR_ORACLE = (
    """
WITH raw AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000000000 AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (SELECT s AS src, c AS dst FROM raw
      UNION SELECT c AS src, s AS dst FROM raw),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS (
  SELECT node,
    CAST(CAST(CAST(1.0 AS DOUBLE) / nn.n AS DECIMAL(18,12)) AS DOUBLE)
      AS rank
  FROM nodes CROSS JOIN nn
),"""
    + ",".join(_iter_sql(f"r{i}", f"r{i + 1}") for i in range(_ITERS))
    + f"""
SELECT node, rank FROM r{_ITERS} ORDER BY node
"""
)


@register(
    "graph_pagerank_trade",
    oracle=_PR_ORACLE,
    doc=f"PageRank ({_ITERS} power iterations, damping {_D}) over the "
    "symmetric supplier↔customer trade graph.  Per iteration: one "
    "edges⋈ranks join + one decimal-folded aggregate on dst; rank "
    "state is O(nodes) and materialized each round (lineage "
    "truncation — the components.py pattern).  The oracle unrolls "
    "identical iterations as CTE layers, so the hash pins every "
    "intermediate round, not just the fixed point.",
    tags=("graph", "iterative", "pagerank", "extension"),
    extended=True,
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            _custkey_node(F.col("o_custkey"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(
        edges, iterations=_ITERS, damping=_D, symmetric=True
    )
    return ranks.orderBy("node")


@register(
    "graph_triangle_count",
    oracle="""
WITH co AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sym AS (SELECT a, b FROM co UNION ALL SELECT b, a FROM co),
deg AS (SELECT a AS v, COUNT(*) AS d FROM sym GROUP BY a),
orient AS (
  SELECT CASE WHEN (da.d, s.a) < (db.d, s.b) THEN s.a ELSE s.b END AS u,
         CASE WHEN (da.d, s.a) < (db.d, s.b) THEN s.b ELSE s.a END AS v
  FROM co s JOIN deg da ON s.a = da.v JOIN deg db ON s.b = db.v
),
tri AS (
  SELECT 1 FROM orient e1
  JOIN orient e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN orient e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT
  (SELECT COUNT(*) FROM co) AS n_edges,
  (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
  (SELECT COUNT(*) FROM tri) AS n_triangles,
  (SELECT COUNT(*) FROM tri) * (CAST(3 AS DOUBLE) /
    (SELECT SUM(d * (d - 1) / 2) FROM deg)) AS closure_ratio
""",
    doc="Triangle counting over the parts co-purchase graph (parts "
    "sharing an order) with the DEGREE-ORIENTED enumeration: edges "
    "orient from the (degree, id)-smaller endpoint, so per-node "
    "out-degree is O(sqrt m) and wedge candidates are O(m^1.5) "
    "instead of sum(deg^2) — the difference between a bounded join "
    "and a blow-up on hub nodes at 100 TB.  The wedge total for the "
    "clustering coefficient never materializes a wedge at all: it is "
    "sum C(deg, 2) from the degree table (one aggregate).  "
    "closure_ratio (3T/W) is one IEEE division + multiply — "
    "bit-identical cross-engine.  Both engines orient identically, "
    "so the oracle pins the exact triangle set, not just the count.",
    tags=("graph", "triangles", "extension"),
    extended=True,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.alias("a")
    b = li.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b")
        )
        .distinct()
    )
    sym = co.unionByName(
        co.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("v")).agg(F.count("*").alias("d"))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    orient = (
        co.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    e1 = orient.select(F.col("u"), F.col("v").alias("v1"))
    e2 = orient.select(F.col("u"), F.col("v").alias("v2"))
    cand = e1.join(e2, "u").filter(F.col("v1") < F.col("v2"))
    e3 = orient.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = cand.join(e3, ["v1", "v2"])
    n_edges = co.agg(F.count("*").alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    return (
        n_edges.crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                F.col("n_triangles")
                * (F.lit(3).cast("double") / F.col("n_wedges"))
            ).alias("closure_ratio"),
        )
    )


# -- k-core peeling ---------------------------------------------------------

_KC_K = 3
_KC_ROUNDS = 3


def _kcore_round_sql(r: int) -> str:
    return f"""
d{r} AS (SELECT a, COUNT(*) AS deg FROM e{r - 1} GROUP BY a),
a{r} AS (SELECT a FROM d{r} WHERE deg >= {_KC_K}),
e{r} AS (
  SELECT e.a, e.b FROM e{r - 1} e
  JOIN a{r} x ON e.a = x.a
  JOIN a{r} y ON e.b = y.a
)"""


_KCORE_ORACLE = (
    """
WITH raw AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000000000 AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e0 AS (SELECT s AS a, c AS b FROM raw
       UNION SELECT c AS a, s AS b FROM raw)"""
    + ",".join([""] + [_kcore_round_sql(r) for r in range(1, _KC_ROUNDS + 1)])
    + f"""
SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
FROM e{_KC_ROUNDS} GROUP BY a ORDER BY node
"""
)


@register(
    "graph_kcore_trade",
    oracle=_KCORE_ORACLE,
    doc=f"{_KC_K}-core peeling ({_KC_ROUNDS} rounds, Matula-Beck) over "
    "the symmetric supplier-customer trade graph "
    "(operators/graph.py:kcore_peel): each round is one map-side-"
    "combined degree aggregate + two semi-joins against the shrinking "
    "survivor set, with per-round edge parquet commits and driver-"
    "restart resume (the components.py pattern).  The oracle unrolls "
    "identical rounds as CTE layers — the hash pins every peel round, "
    "and when a round removes nothing the state IS the exact k-core.",
    tags=("graph", "iterative", "kcore", "extension"),
    extended=True,
)
def graph_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.graph import kcore_peel

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            _custkey_node(F.col("o_custkey"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return kcore_peel(edges, _KC_K, _KC_ROUNDS).orderBy("node")


# -- personalized PageRank --------------------------------------------------

_PPR_SRC_MAX = 5  # sources: supplier nodes with id <= 5


def _ppr_iter_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT nd.node,
    CAST(CAST(CAST({_OFFSET!r} AS DOUBLE) * nd.tele
              + CAST({_D} AS DOUBLE) * COALESCE(m.mass, 0.0)
         AS DECIMAL(18,12)) AS DOUBLE) AS rank,
    nd.tele
  FROM t0 nd
  LEFT JOIN (
    SELECT e.dst AS node,
      CAST(SUM(CAST(p.rank / deg.deg AS DECIMAL(38,15))) AS DOUBLE) AS mass
    FROM e
    JOIN {prev} p ON e.src = p.node
    JOIN deg ON e.src = deg.src
    GROUP BY e.dst
  ) m ON nd.node = m.node
)"""


_PPR_ORACLE = (
    f"""
WITH raw AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000000000 AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (SELECT s AS src, c AS dst FROM raw
      UNION SELECT c AS src, s AS dst FROM raw),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
ns AS (SELECT COUNT(*) AS n FROM nodes WHERE node <= {_PPR_SRC_MAX}),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
t0 AS (
  SELECT node,
    CAST(CAST(CAST(CASE WHEN node <= {_PPR_SRC_MAX} THEN 1 ELSE 0 END
              AS DOUBLE) / ns.n AS DECIMAL(18,12)) AS DOUBLE) AS tele
  FROM nodes CROSS JOIN ns
),
r0 AS (SELECT node, tele AS rank, tele FROM t0),"""
    + ",".join(_ppr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(_ITERS))
    + f"""
SELECT node, rank FROM r{_ITERS} ORDER BY node
"""
)


@register(
    "graph_ppr_trade",
    oracle=_PPR_ORACLE,
    doc=f"Personalized PageRank ({_ITERS} iterations, damping {_D}) "
    "over the symmetric trade graph with the teleport restricted to "
    f"supplier nodes <= {_PPR_SRC_MAX} "
    "(operators/graph.py:personalized_pagerank — random walk with "
    "restart, the recommendation/related-items form): ranks measure "
    "proximity to the source set.  Teleport weight (1/|S| in-plan) "
    "joins into the rank state ONCE and travels with the row; the "
    "iteration body is exactly two joins with no O(nodes) broadcast; "
    "per-round parquet commits with restart resume.  The oracle "
    "unrolls identical iterations, hash-pinning every round.",
    tags=("graph", "iterative", "pagerank", "extension"),
    extended=True,
)
def graph_ppr_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.graph import personalized_pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            _custkey_node(F.col("o_custkey"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    sources = (
        edges.select(F.col("src").alias("node"))
        .filter(F.col("node") <= _PPR_SRC_MAX)
        .distinct()
    )
    return personalized_pagerank(
        edges, sources, iterations=_ITERS, damping=_D, symmetric=True
    ).orderBy("node")


# -- label-propagation communities (operators/graph.py, round-7) -------------

_LPA_ITERS = 3


def _lpa_round_sql(k: int) -> str:
    return f"""
v{k} AS (
  SELECT e.dst AS node, l.label, COUNT(*) AS c
  FROM e JOIN l{k - 1} l ON e.src = l.node
  GROUP BY e.dst, l.label
),
w{k} AS (
  SELECT node, label FROM (
    SELECT node, label,
      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM v{k}
  ) WHERE rn = 1
),
l{k} AS (
  SELECT n.node, COALESCE(w.label, n.label) AS label
  FROM l{k - 1} n LEFT JOIN w{k} w ON n.node = w.node
)"""


_LPA_ORACLE = (
    """
WITH raw AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000000000 AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (SELECT s AS src, c AS dst FROM raw
      UNION SELECT c AS src, s AS dst FROM raw),
l0 AS (SELECT src AS node, src AS label FROM e
       UNION SELECT dst, dst FROM e)"""
    + ",".join([""] + [_lpa_round_sql(k) for k in range(1, _LPA_ITERS + 1)])
    + f"""
SELECT node, label AS community,
  CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
FROM l{_LPA_ITERS} ORDER BY node
"""
)


@register(
    "graph_lpa_trade",
    oracle=_LPA_ORACLE,
    doc=f"Community detection via SYNCHRONOUS label propagation "
    f"({_LPA_ITERS} fixed rounds, smallest-label tiebreak) on the "
    "symmetric supplier-customer trade graph "
    "(operators/graph.py:label_propagation).  The random-order "
    "reference LPA is run-dependent; the fixed-round sync form with "
    "a deterministic tiebreak is pure integer arithmetic, so the "
    "oracle unrolls identical vote-count rounds as CTE layers and "
    "every intermediate label is hash-pinned.  Per round: one "
    "edges-labels join + two map-side-combined aggregates (the "
    "majority argmax folds into max(struct(count, -label))), state "
    "committed to parquet with restart resume.",
    tags=("graph", "iterative", "community", "extension"),
    extended=True,
)
def graph_lpa_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from diabetes_etl_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            _custkey_node(F.col("o_custkey"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    labels = label_propagation(edges, iterations=_LPA_ITERS, symmetric=True)
    return (
        labels.select(
            "node",
            F.col("label").alias("community"),
        )
        .withColumn(
            "community_size",
            F.count("*").over(Window.partitionBy("community")),
        )
        .orderBy("node")
    )


# -- modularity of the LPA partition (round 13) ------------------------------

_MOD_ORACLE = (
    """
WITH raw AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000000000 AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (SELECT s AS src, c AS dst FROM raw
      UNION SELECT c AS src, s AS dst FROM raw),
l0 AS (SELECT src AS node, src AS label FROM e
       UNION SELECT dst, dst FROM e)"""
    + ",".join([""] + [_lpa_round_sql(k) for k in range(1, _LPA_ITERS + 1)])
    + f""",
lab AS (SELECT node, label FROM l{_LPA_ITERS}),
tot AS (SELECT COUNT(*) AS e2 FROM e),
deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY 1),
nd AS (SELECT l.label, SUM(d) AS d_c, COUNT(*) AS size
       FROM deg JOIN lab l USING (node) GROUP BY 1),
intra AS (
  SELECT ls.label, COUNT(*) AS a_c
  FROM e
  JOIN lab ls ON e.src = ls.node
  JOIN lab ld ON e.dst = ld.node
  WHERE ls.label = ld.label
  GROUP BY 1
),
num AS (
  SELECT nd.label AS community, nd.size, COALESCE(i.a_c, 0) AS a_c,
         nd.d_c, tot.e2,
         CAST(COALESCE(i.a_c, 0) AS HUGEINT) * tot.e2
           - CAST(nd.d_c AS HUGEINT) * nd.d_c AS q_num
  FROM nd LEFT JOIN intra i ON nd.label = i.label CROSS JOIN tot
),
q AS (SELECT SUM(q_num) AS q_num_tot FROM num)
SELECT community,
  CAST(size AS BIGINT) AS size,
  CAST(a_c // 2 AS BIGINT) AS intra_pairs,
  CAST(d_c AS BIGINT) AS degree_sum,
  ROUND(CAST(q_num AS DOUBLE) / e2 / e2, 12) AS q_contrib,
  ROUND(CAST(q_num_tot AS DOUBLE) / e2 / e2, 12) AS q_total
FROM num, q ORDER BY community
"""
)


@register(
    "graph_modularity_communities",
    oracle=_MOD_ORACLE,
    doc="Newman modularity scoring of the LPA community partition "
    "(graph_lpa_trade's exact labels) on the symmetric trade graph — "
    "the quality number that turns 'here are communities' into 'is "
    "this partition better than chance?' (Newman & Girvan 2004).  "
    "Per community: size, intra-edge pairs, degree sum, and the "
    "contribution (A_c*E - d_c^2)/E^2 with the numerator folded as "
    "exact DECIMAL(38,0)/HUGEINT integers; the partition total Q "
    "rides every row from the same exact fold "
    "(operators/graph.py:modularity_contributions).  The oracle "
    "unrolls the identical 3 LPA rounds then replays the modularity "
    "arithmetic, so labels AND score are hash-pinned.  Scale: degree "
    "is one map-side-combined aggregate; intra counting is two "
    "node-keyed equi-joins; everything after is O(communities) with "
    "two intentional 1-row broadcast scalar-attach joins.",
    tags=("graph", "community", "modularity", "extension"),
)
def graph_modularity_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from diabetes_etl_spark.operators.graph import (
        label_propagation,
        modularity_contributions,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    directed = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            _custkey_node(F.col("o_custkey"), F.col("l_suppkey")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    edges_sym = directed.unionByName(
        directed.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    ).distinct()
    labels = label_propagation(
        edges_sym, iterations=_LPA_ITERS, symmetric=False
    )
    return modularity_contributions(edges_sym, labels).orderBy("community")


_KHOP_H, _KHOP_SEEDS = 3, 5

_KHOP_ORACLE = f"""
WITH RECURSIVE raw AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey + {_CUST_NODE_OFFSET} AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (SELECT s AS src, c AS dst FROM raw
      UNION SELECT c AS src, s AS dst FROM raw),
seeds AS (
  SELECT DISTINCT s AS seed FROM raw ORDER BY seed LIMIT {_KHOP_SEEDS}
),
r AS (
  SELECT seed, seed AS node, 0 AS hop FROM seeds
  UNION
  SELECT r.seed, e.dst AS node, r.hop + 1
  FROM r JOIN e ON r.node = e.src
  WHERE r.hop < {_KHOP_H}
),
firsts AS (
  SELECT seed, node, MIN(hop) AS hop FROM r GROUP BY seed, node
),
per_hop AS (
  SELECT seed, hop, COUNT(*) AS n_new FROM firsts
  WHERE hop >= 1 GROUP BY seed, hop
)
SELECT seed, CAST(hop AS INT) AS hop, n_new,
  CAST(SUM(n_new) OVER (PARTITION BY seed ORDER BY hop
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum
FROM per_hop
"""


@register(
    "graph_khop_reach",
    oracle=_KHOP_ORACLE,
    doc=f"K-hop reachability profile: nodes FIRST reached at hops "
    f"1..{_KHOP_H} from the {_KHOP_SEEDS} smallest supplier nodes of "
    "the symmetric trade graph (operators/graph.py:khop_counts) — "
    "frontier BFS where hop h joins ONLY the nodes first reached at "
    "h-1 against the edge table, never the accumulated set or the "
    "walk multiset (exponentially larger).  The oracle's recursive "
    "CTE takes min-hop per (seed, node), which is exactly the "
    "anti-join-visited semantics.",
    tags=("graph", "bfs", "extension"),
    extended=True,
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("s"),
            _custkey_node(F.col("o_custkey"), F.col("l_suppkey")).alias("c"),
        )
        .distinct()
    )
    edges = raw.select(F.col("s").alias("src"), F.col("c").alias("dst")).union(
        raw.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    ).distinct()
    seeds = raw.select(F.col("s").alias("seed")).distinct().orderBy(
        "seed"
    ).limit(_KHOP_SEEDS)
    from diabetes_etl_spark.operators.graph import khop_counts

    return khop_counts(edges, seeds, max_hops=_KHOP_H)


# -- link prediction: neighborhood Jaccard + Adamic-Adar (round 9) -----------
#
# Supplier pairs scored by shared customers on the bipartite trade
# graph — the standard link-prediction pair (Liben-Nowell & Kleinberg
# 2003): Jaccard(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)| and Adamic-Adar
# = Σ_{c ∈ N(a)∩N(b)} 1/ln(deg(c)), which down-weights promiscuous
# shared neighbors.  Scale guards: pair generation runs through the
# customer-keyed self-join with a HUB CAP (customers connected to more
# than _LP_CAP suppliers are dropped as stop-neighbors before pairing
# — the inverted-index rule; a hub of degree h would fan out h^2
# pairs), so per-key fan-out is <= _LP_CAP^2.  Every shared neighbor
# has deg >= 2, so 1/ln(deg) never divides by zero; ln is quantized
# (9 dp) and the AA sum decimal-folded (repo float rules).

_LP_CAP = 40
_LP_MIN_SHARED = 2

_LP_ORACLE = f"""
WITH
edges AS MATERIALIZED (
  SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cdeg AS (SELECT c, COUNT(*) AS dc FROM edges GROUP BY c),
sdeg AS (SELECT s, COUNT(*) AS ds FROM edges GROUP BY s),
capped AS (
  SELECT e.s, e.c, d.dc FROM edges e JOIN cdeg d ON d.c = e.c
  WHERE d.dc <= {_LP_CAP}
),
pairs AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS shared,
    CAST(SUM(CAST(CAST(1 AS DOUBLE) / round(ln(CAST(a.dc AS DOUBLE)), 9)
         AS DECIMAL(38,12))) AS DOUBLE) AS aa_raw
  FROM capped a JOIN capped b ON a.c = b.c AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT p.s1, p.s2, CAST(p.shared AS BIGINT) AS shared,
  ROUND(CAST(p.shared AS DOUBLE) / (d1.ds + d2.ds - p.shared), 9)
    AS jaccard,
  ROUND(p.aa_raw, 9) AS adamic_adar
FROM pairs p
JOIN sdeg d1 ON d1.s = p.s1
JOIN sdeg d2 ON d2.s = p.s2
WHERE p.shared >= {_LP_MIN_SHARED}
ORDER BY adamic_adar DESC, s1, s2
"""


@register(
    "graph_jaccard_neighbors",
    oracle=_LP_ORACLE,
    doc="Link prediction on the bipartite trade graph: supplier "
    "pairs scored by neighborhood Jaccard and Adamic-Adar over "
    "shared customers (Liben-Nowell & Kleinberg 2003).  The pair "
    "join is customer-keyed with a HUB CAP (degree > 40 customers "
    "dropped as stop-neighbors before pairing — bounded fan-out per "
    "key, the inverted-index rule), shared neighbors always have "
    "degree >= 2 so 1/ln(deg) is total, ln quantized to 9 dp and "
    "the AA sum decimal-folded.  Scale: only (suppkey, custkey) "
    "pairs shuffle; supplier degrees re-attach by two joins on the "
    "tiny supplier-degree table.",
    tags=("graph", "link-prediction", "extension"),
    extended=True,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    cdeg = edges.groupBy("c").agg(F.count("*").alias("dc"))
    sdeg = edges.groupBy("s").agg(F.count("*").alias("ds"))
    capped = edges.join(
        cdeg.filter(F.col("dc") <= _LP_CAP), "c"
    ).select("s", "c", "dc")
    a = capped.select(F.col("s").alias("s1"), "c", "dc")
    b = capped.select(F.col("s").alias("s2"), "c")
    pairs = (
        a.join(b, "c")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.count("*").alias("shared"),
            F.sum(
                (
                    F.lit(1.0)
                    / F.round(F.log(F.col("dc").cast("double")), 9)
                ).cast("decimal(38,12)")
            ).cast("double").alias("aa_raw"),
        )
    )
    return (
        pairs.join(
            F.broadcast(sdeg.select(F.col("s").alias("s1"), F.col("ds").alias("ds1"))),
            "s1",
        )
        .join(
            F.broadcast(sdeg.select(F.col("s").alias("s2"), F.col("ds").alias("ds2"))),
            "s2",
        )
        .filter(F.col("shared") >= _LP_MIN_SHARED)
        .select(
            "s1",
            "s2",
            F.col("shared").cast("long").alias("shared"),
            F.round(
                F.col("shared").cast("double")
                / (F.col("ds1") + F.col("ds2") - F.col("shared")),
                9,
            ).alias("jaccard"),
            F.round(F.col("aa_raw"), 9).alias("adamic_adar"),
        )
        .orderBy(F.col("adamic_adar").desc(), "s1", "s2")
    )


# -- TextRank keyword extraction (round 9) -----------------------------------
#
# PageRank COMPOSED over a word co-occurrence graph (Mihalcea & Tarau
# 2004): nodes are corpus words, edges are adjacent-token pairs
# (window 2, unweighted, symmetric — the standard simplification),
# ranks from the same pinned 3-iteration decimal-folded power
# iteration the trade-graph query gates, so the oracle unrolls
# identical CTE layers over the word graph.  Top-20 by (rank DESC,
# word) is the extracted keyword list.

_TR_TOPK = 20

_TR_ORACLE = (
    """
WITH raw AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS a FROM documents
),
adj AS (
  SELECT DISTINCT a[i.i] AS src, a[i.i + 1] AS dst
  FROM raw, (SELECT unnest(generate_series(1,
         (SELECT MAX(len(a)) FROM raw))) AS i) i
  WHERE i.i < len(a) AND a[i.i] <> '' AND a[i.i + 1] <> ''
    AND a[i.i] <> a[i.i + 1]
),
e AS (SELECT src, dst FROM adj UNION SELECT dst, src FROM adj),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS (
  SELECT node,
    CAST(CAST(CAST(1.0 AS DOUBLE) / nn.n AS DECIMAL(18,12)) AS DOUBLE)
      AS rank
  FROM nodes CROSS JOIN nn
),"""
    + ",".join(_iter_sql(f"r{i}", f"r{i + 1}") for i in range(_ITERS))
    + f"""
SELECT node AS word, rank FROM r{_ITERS}
ORDER BY rank DESC, word LIMIT {_TR_TOPK}
"""
)


@register(
    "text_textrank_keywords",
    oracle=_TR_ORACLE,
    doc="TextRank keyword extraction (Mihalcea & Tarau 2004): "
    "PageRank composed over the corpus word co-occurrence graph "
    "(adjacent-token pairs, window 2, unweighted symmetric) using "
    "the SAME pinned 3-iteration decimal-folded power iteration as "
    "graph_pagerank_trade (operators/graph.py:pagerank) — operator "
    "composition, not a new engine path; the oracle unrolls "
    "identical CTE layers over the word graph and the top-20 list "
    "is tie-broken (rank DESC, word).  Scale: the distinct pair set "
    "is bounded by vocabulary^2 but in practice by corpus bigrams; "
    "per iteration one edges-ranks join + one decimal-folded "
    "aggregate, rank state O(vocabulary).",
    tags=("text", "graph", "textrank", "iterative", "extension"),
    extended=True,
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select(F.split(F.trim("text"), r"\s+").alias("a"))
        .select(
            F.explode(
                F.expr(
                    "CASE WHEN size(a) >= 2 THEN "
                    "transform(sequence(1, size(a) - 1), "
                    "i -> named_struct('src', element_at(a, i), "
                    "'dst', element_at(a, i + 1))) "
                    "ELSE array() END"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(
            (F.col("src") != "")
            & (F.col("dst") != "")
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    ranks = pagerank(pairs, iterations=_ITERS, damping=_D, symmetric=True)
    return (
        ranks.select(F.col("node").alias("word"), "rank")
        .orderBy(F.col("rank").desc(), "word")
        .limit(_TR_TOPK)
    )


# -- degree assortativity (round 9) ------------------------------------------------


@register(
    "graph_assortativity_trade",
    oracle=f"""
WITH base AS (
  SELECT DISTINCT l.l_suppkey AS s,
    o.o_custkey + {_CUST_NODE_OFFSET} AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT s AS src, c AS dst FROM base
  UNION
  SELECT c AS src, s AS dst FROM base
),
deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
pairs AS (
  SELECT da.d AS x, db.d AS y
  FROM edges e
  JOIN deg da ON da.node = e.src
  JOIN deg db ON db.node = e.dst
),
s AS (
  SELECT COUNT(*) AS m,
    SUM(x) AS sx, SUM(y) AS sy,
    SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM pairs
)
SELECT CAST(m AS BIGINT) AS n_directed_edges,
  ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)
    / SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / m)
         * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m)), 9)
    AS assortativity
FROM s
""",
    doc="Degree assortativity of the symmetric supplier-customer "
    "trade graph (Newman 2002): the Pearson correlation of endpoint "
    "degrees over every directed edge — negative means hubs attach "
    "to leaves (disassortative, typical of bipartite-derived trade "
    "graphs), positive means hub-hub mixing.  Degrees are exact "
    "integer counts; the correlation uses the repo's exact-sum form "
    "(all five sums are BIGINT-exact — degree products can't "
    "overflow at any realistic degree), one division + sqrt at the "
    "end.  Scale: two hash joins of the edge table against the "
    "degree table (both keyed on node), one scalar epilogue.",
    tags=("graph", "assortativity", "extension"),
    extended=True,
)
def graph_assortativity_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    raw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("s"),
            _custkey_node(
                F.col("o_custkey"), F.col("l_suppkey")
            ).alias("c"),
        )
        .distinct()
    )
    edges = raw.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).union(
        raw.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    ).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("src").alias("node"), "d"
    )
    pairs = (
        edges.join(
            deg.withColumnRenamed("node", "src")
            .withColumnRenamed("d", "x"),
            "src",
        )
        .join(
            deg.withColumnRenamed("node", "dst")
            .withColumnRenamed("d", "y"),
            "dst",
        )
        .select("x", "y")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    m = F.col("m")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    return s.select(
        m.cast("long").alias("n_directed_edges"),
        F.round(
            (sxy - sx * sy / m)
            / F.sqrt((sxx - sx * sx / m) * (syy - sy * sy / m)),
            9,
        ).alias("assortativity"),
    )


# -- hub-removal robustness (round 9) ------------------------------------------------

_ROB_EDGES = f"""
base AS (
  SELECT DISTINCT l.l_suppkey AS s,
    o.o_custkey + {_CUST_NODE_OFFSET} AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT s AS a, c AS b FROM base
  UNION
  SELECT c AS a, s AS b FROM base
),
deg AS (SELECT a AS node, COUNT(*) AS d FROM edges GROUP BY a),
hubs AS (
  SELECT node FROM deg ORDER BY d DESC, node LIMIT 3
),
kept AS (
  SELECT a, b FROM edges
  WHERE a NOT IN (SELECT node FROM hubs)
    AND b NOT IN (SELECT node FROM hubs)
)"""


def _rob_phase_sql(edges_cte: str, tag: str) -> str:
    return f"""
reach_{tag}(id, comp) AS (
  SELECT a, a FROM {edges_cte}
  UNION
  SELECT e.a, r.comp FROM {edges_cte} e JOIN reach_{tag} r
    ON e.b = r.id
),
lab_{tag} AS (
  SELECT id, MIN(comp) AS component FROM reach_{tag} GROUP BY id
),
agg_{tag} AS (
  SELECT '{tag}' AS phase,
    COUNT(*) AS n_nodes,
    COUNT(DISTINCT component) AS n_components,
    MAX(sz) AS largest_cc
  FROM (
    SELECT id, component,
      COUNT(*) OVER (PARTITION BY component) AS sz
    FROM lab_{tag}
  ) t
)"""


@register(
    "graph_hub_robustness",
    oracle=f"""
WITH RECURSIVE {_ROB_EDGES},
{_rob_phase_sql("edges", "full")},
{_rob_phase_sql("kept", "dehubbed")}
SELECT phase, CAST(n_nodes AS BIGINT) AS n_nodes,
  CAST(n_components AS BIGINT) AS n_components,
  CAST(largest_cc AS BIGINT) AS largest_cc,
  ROUND(CAST(largest_cc AS DOUBLE) / n_nodes, 9) AS largest_share
FROM (SELECT * FROM agg_full UNION ALL SELECT * FROM agg_dehubbed) u
ORDER BY phase
""",
    doc="Hub-removal robustness of the trade graph (percolation "
    "probe): connected-component structure BEFORE and AFTER deleting "
    "the top-3 degree hubs (ties broken by node id) — how much of "
    "the giant component one carrier-node failure class takes down, "
    "the supply-chain fragility readout.  Round-10 (verdict-r9 #5): "
    "the graph-sized components run happens ONCE, on the DEHUBBED "
    "graph; the full phase is DERIVED by contracting each dehubbed "
    "component to a super-node and running components again on the "
    "tiny hub-incident contracted graph (3 hubs + touched parts + "
    "hub-only leaves — degree-of-hubs-sized, never graph-sized).  "
    "This is exact, not approximate: adding the hub edges back can "
    "only MERGE dehubbed components, and the output is phase "
    "aggregates, so the merged partition (sizes summed per cluster) "
    "fully determines it.  Label reuse in the other direction "
    "(verdict's sketch) degenerates here — the trade graph is one "
    "giant component containing every hub, so the affected-label "
    "set is the whole graph.  Edge extraction (lineitem x orders "
    "join + distinct) is materialized once and shared by the hub "
    "ranking, the kept filter, and the hub-incident slice.  The "
    "oracle replays both phases as recursive-CTE closures (the "
    "dedup_components pattern) — unchanged, so the hash certifies "
    "the composition.",
    tags=("graph", "robustness", "components", "extension"),
    extended=True,
)
def graph_hub_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.components import (
        connected_components,
    )
    from diabetes_etl_spark.operators.util import scratch_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    raw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("s"),
            _custkey_node(
                F.col("o_custkey"), F.col("l_suppkey")
            ).alias("c"),
        )
        .distinct()
    )
    # no distinct after the symmetrizing union: supplier and customer
    # node ids live in DISJOINT ranges (the +10^12 offset), so a
    # swapped copy can never collide with an original and ``raw`` is
    # already (s, c)-distinct — the dedup shuffle would reproduce its
    # input
    edges = raw.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).union(
        raw.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    # one materialization, three consumers (hub ranking, kept filter,
    # hub-incident slice) — without it the join+distinct lineage
    # would re-execute per consumer
    edir = scratch_dir(spark, "spark_hubrob_")
    edges.write.mode("overwrite").parquet(edir)
    edges = spark.read.parquet(edir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hubs = (
        deg.orderBy(F.desc("d"), F.asc("src"))
        .limit(3)
        .select(F.col("src").alias("node"))
    )
    kept = (
        edges.join(
            F.broadcast(hubs),
            edges["src"] == hubs["node"],
            "left_anti",
        )
        .join(
            F.broadcast(hubs),
            F.col("dst") == hubs["node"],
            "left_anti",
        )
    )

    # the ONE graph-sized components run — kept inherits both-direction
    # symmetry from edges (the anti-join removes whole incident pairs),
    # so the operator's symmetrize-distinct pass is skipped
    cc_kept = connected_components(
        kept, "src", "dst", assume_symmetric=True
    )
    part_sizes = cc_kept.groupBy("component").agg(
        F.count(F.lit(1)).alias("sz")
    )

    def stats(weighted, tag):
        # weighted: (cluster, w) — one row per member entity
        return (
            weighted.groupBy("cluster")
            .agg(F.sum("w").alias("sz"))
            .agg(
                F.sum("sz").alias("n_nodes"),
                F.count(F.lit(1)).alias("n_components"),
                F.max("sz").alias("largest_cc"),
            )
            .select(
                F.lit(tag).alias("phase"),
                F.col("n_nodes").cast("long").alias("n_nodes"),
                F.col("n_components").cast("long").alias("n_components"),
                F.col("largest_cc").cast("long").alias("largest_cc"),
                F.round(
                    F.col("largest_cc").cast("double") / F.col("n_nodes"),
                    9,
                ).alias("largest_share"),
            )
        )

    dehubbed = stats(
        cc_kept.select(F.col("component").alias("cluster"), F.lit(1).alias("w")),
        "dehubbed",
    )

    # -- derive the FULL phase from the dehubbed partition ------------
    # hub-incident slice: edges is symmetric, so src-side membership
    # captures every incident pair (hub-hub edges included)
    hub_edges = edges.join(
        F.broadcast(hubs), edges["src"] == hubs["node"]
    ).select(F.col("src").alias("hub"), F.col("dst").alias("other"))
    # contract each endpoint to its dehubbed component; an endpoint
    # absent from cc_kept (a hub, or a leaf whose only edges touched
    # hubs) stays itself
    mapped = hub_edges.join(
        cc_kept.withColumnRenamed("id", "other"), "other", "left"
    ).select(
        "hub",
        F.coalesce(F.col("component"), F.col("other")).alias("part"),
    )
    contracted = mapped.distinct()
    # Hub-hub connectivity closes over SHARED PARTS only: parts are
    # dehubbed components, so any kept-path between two hub
    # neighbourhoods lies inside one part — two hubs are in the same
    # full component iff they share a part, transitively through other
    # hubs.  That is a union-find over exactly len(hubs)=3 elements
    # (constant, bounded driver state — the PCA d-vector precedent),
    # fed by the <= 9-row hub-pair overlap join; no graph-sized or
    # iterative work.  Every part then joins the cluster of the MIN
    # hub it touches (broadcast 3-row map), parts touching no hub stay
    # their own cluster.
    hub_pairs = (
        contracted.alias("x")
        .join(contracted.alias("y"), "part")
        .select(
            F.col("x.hub").alias("ha"), F.col("y.hub").alias("hb")
        )
        .distinct()
        .collect()
    )
    parent: dict = {}

    def find(u):
        while parent.setdefault(u, u) != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for r in hub_pairs:
        ra, rb = find(r["ha"]), find(r["hb"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    hub_cluster = [(h, find(h)) for h in parent]
    cc_small_hubs = spark.createDataFrame(
        hub_cluster, "hub long, cluster long"
    )
    # (part -> cluster) for every hub-touched part; one row per part
    cc_small = (
        contracted.join(F.broadcast(cc_small_hubs), "hub")
        .groupBy("part")
        .agg(F.min("cluster").alias("component"))
        .select(F.col("part").alias("id"), "component")
        # the hubs themselves are entities too
        .unionByName(
            cc_small_hubs.select(
                F.col("hub").alias("id"), F.col("cluster").alias("component")
            )
        )
    )
    # full-graph member entities with weights: every dehubbed part
    # (weight = its size), every hub-only leaf (weight 1), every hub
    # (weight 1); entities missing from the contracted graph (parts
    # no hub touches) are their own cluster
    leaves = (
        mapped.select(F.col("part").alias("ent"))
        .join(
            part_sizes.withColumnRenamed("component", "ent"),
            "ent",
            "left_anti",
        )
        .join(hubs.withColumnRenamed("node", "ent"), "ent", "left_anti")
        .distinct()
        .select("ent", F.lit(1).alias("w"))
    )
    entities = (
        part_sizes.select(
            F.col("component").alias("ent"), F.col("sz").alias("w")
        )
        .unionByName(leaves)
        .unionByName(
            hubs.select(F.col("node").alias("ent"), F.lit(1).alias("w"))
        )
    )
    full = stats(
        entities.join(
            cc_small.withColumnRenamed("id", "ent"), "ent", "left"
        ).select(
            F.coalesce(F.col("component"), F.col("ent")).alias("cluster"),
            "w",
        ),
        "full",
    )
    return full.unionByName(dehubbed).orderBy("phase")
