"""PageRank (operators/graph.py) and entity resolution
(operators/er.py) unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from diabetes_etl_spark.operators.er import blocked_match_pairs
from diabetes_etl_spark.operators.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_ring_is_uniform(spark):
    """On a symmetric ring every node is structurally identical —
    ranks must all equal 1/N exactly (decimal-folded arithmetic)."""
    n = 6
    ring = _edges(spark, [(i, (i + 1) % n) for i in range(n)])
    ranks = {r.node: r.rank for r in pagerank(ring, iterations=4).collect()}
    assert len(ranks) == n
    assert len({round(v, 12) for v in ranks.values()}) == 1


def test_pagerank_star_center_dominates(spark):
    star = _edges(spark, [(0, i) for i in range(1, 8)])
    ranks = {r.node: r.rank for r in pagerank(star, iterations=3).collect()}
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0) * 2


def test_pagerank_mass_conserved_when_symmetric(spark):
    """Symmetric edges leave no dangling nodes: total rank stays 1
    (up to the 12-decimal fold)."""
    g = _edges(spark, [(0, 1), (1, 2), (2, 3), (0, 3), (1, 3)])
    total = sum(r.rank for r in pagerank(g, iterations=3).collect())
    assert abs(total - 1.0) < 1e-9


def test_pagerank_partition_invariant(spark):
    g = _edges(spark, [(i, (i * 7 + 1) % 20) for i in range(40)])
    a = sorted((r.node, r.rank) for r in pagerank(g, iterations=3).collect())
    b = sorted(
        (r.node, r.rank)
        for r in pagerank(
            _edges(spark, [(i, (i * 7 + 1) % 20) for i in range(40)])
            .repartition(13), iterations=3,
        ).collect()
    )
    assert a == b  # bit-identical, not approximately


def test_er_blocked_pairs_find_near_names(spark):
    df = spark.createDataFrame(
        [("red bolt",), ("ted bolt",), ("red ring",), ("blue anvil",)],
        "name string",
    )
    pairs = blocked_match_pairs(
        df,
        id_col="name",
        name_col="name",
        block_col=F.element_at(F.split(F.col("name"), " "), -1),
        max_distance=1,
    ).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {("red bolt", "ted bolt")}
    assert pairs[0].distance == 1


def test_er_cross_block_pairs_never_generated(spark):
    """'red bolt' vs 'red ring' are distance 4 but would be distance-2
    on the adjective alone — blocking on the noun must keep them
    apart without ever evaluating the distance."""
    df = spark.createDataFrame(
        [("red bolt",), ("red ring",)], "name string"
    )
    pairs = blocked_match_pairs(
        df, "name", "name",
        F.element_at(F.split(F.col("name"), " "), -1), max_distance=10,
    ).collect()
    assert pairs == []


def test_pagerank_work_dir_resume_bit_identical(spark, tmp_path):
    """Driver-restart resume: a run interrupted after round 1 (simulated
    by invoking with iterations=1 into a durable work_dir, plus a junk
    uncommitted round-2 directory standing in for a partial write)
    resumes from the last _SUCCESS-committed round and lands on ranks
    bit-identical to an uninterrupted run."""
    g = [(i, (i * 7 + 1) % 20) for i in range(40)]
    full = sorted(
        (r.node, r.rank)
        for r in pagerank(
            _edges(spark, g), iterations=3, work_dir=str(tmp_path / "full")
        ).collect()
    )
    wd = tmp_path / "resume"
    pagerank(_edges(spark, g), iterations=1, work_dir=str(wd)).collect()
    partial = wd / "rank_00002"
    partial.mkdir()
    (partial / "part-junk.parquet").write_bytes(b"not parquet")
    resumed = sorted(
        (r.node, r.rank)
        for r in pagerank(
            _edges(spark, g), iterations=3, work_dir=str(wd)
        ).collect()
    )
    assert resumed == full


def test_er_uncapped_finds_tail_tail_pairs_in_large_block(spark):
    """A block larger than the old head cap must still enumerate ALL
    within-block pairs (ER recall contract): 10 identical-prefix names
    in one block → C(10,2)=45 candidates, every one within distance 1
    of at least the shared stem."""
    names = [f"acme corp {i}" for i in range(10)]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    pairs = blocked_match_pairs(
        df, "name", "name", F.lit("one-block"), max_distance=2
    ).collect()
    assert len(pairs) == 45  # all pairs survive (distance 1 each)
    # an explicit cap restores the bounded head+star shape
    capped = blocked_match_pairs(
        df, "name", "name", F.lit("one-block"), max_distance=2, cap=4
    ).collect()
    assert len(capped) < 45


# -- k-core peeling (kcore_peel) --------------------------------------------


def _ref_kcore(pairs, k):
    """Pure-Python peel to fixpoint."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
    return {n: len(ns) for n, ns in adj.items() if ns}


def test_kcore_matches_reference_at_fixpoint(spark):
    from diabetes_etl_spark.operators.graph import kcore_peel

    # a 4-clique (survives k=3) with pendant chains (peel away)
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pairs += [(0, 10), (10, 11), (11, 12), (3, 20)]
    got = {
        r.node: r.deg
        for r in kcore_peel(_edges(spark, pairs), k=3, rounds=4).collect()
    }
    assert got == _ref_kcore(pairs, 3)
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_cascading_peel_needs_multiple_rounds(spark):
    from diabetes_etl_spark.operators.graph import kcore_peel

    # chain 0-1-2-3-4: k=2 peels ends inward, one node pair per round,
    # until nothing remains — the cascade a 1-round implementation
    # would miss
    chain = [(i, i + 1) for i in range(4)]
    got = kcore_peel(_edges(spark, chain), k=2, rounds=4).collect()
    assert got == []
    ref = _ref_kcore(chain, 2)
    assert ref == {}


def test_kcore_work_dir_resume_bit_identical(spark, tmp_path):
    from diabetes_etl_spark.operators.graph import kcore_peel

    pairs = [(i, (i * 3 + 1) % 15) for i in range(40)]
    full = sorted(
        (r.node, r.deg)
        for r in kcore_peel(
            _edges(spark, pairs), 2, 4, work_dir=str(tmp_path / "full")
        ).collect()
    )
    wd = tmp_path / "resume"
    kcore_peel(_edges(spark, pairs), 2, 1, work_dir=str(wd)).collect()
    partial = wd / "edges_00002"
    partial.mkdir()
    (partial / "part-junk.parquet").write_bytes(b"junk")
    resumed = sorted(
        (r.node, r.deg)
        for r in kcore_peel(
            _edges(spark, pairs), 2, 4, work_dir=str(wd)
        ).collect()
    )
    assert resumed == full


# -- personalized PageRank --------------------------------------------------


def test_ppr_mass_concentrates_near_sources(spark):
    from diabetes_etl_spark.operators.graph import personalized_pagerank

    # two 4-cliques bridged by one edge; teleport to clique A only
    a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    b = [(10 + i, 10 + j) for i in range(4) for j in range(i + 1, 4)]
    bridge = [(3, 10)]
    srcs = spark.createDataFrame([(0,), (1,)], "node long")
    ranks = {
        r.node: r.rank
        for r in personalized_pagerank(
            _edges(spark, a + b + bridge), srcs, iterations=4
        ).collect()
    }
    assert sum(ranks[i] for i in range(4)) > 3 * sum(
        ranks[10 + i] for i in range(4)
    )
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # symmetric: mass kept


def test_ppr_zero_rank_for_unreachable_components(spark):
    from diabetes_etl_spark.operators.graph import personalized_pagerank

    # two disconnected edges; sources only in the first component
    g = [(1, 2), (10, 11)]
    srcs = spark.createDataFrame([(1,)], "node long")
    ranks = {
        r.node: r.rank
        for r in personalized_pagerank(
            _edges(spark, g), srcs, iterations=3
        ).collect()
    }
    assert ranks[10] == 0.0 and ranks[11] == 0.0
    assert ranks[1] > 0 and ranks[2] > 0


def test_ppr_partition_invariant_bit_identical(spark):
    from diabetes_etl_spark.operators.graph import personalized_pagerank

    g = [(i, (i * 7 + 1) % 20) for i in range(40)]
    srcs = spark.createDataFrame([(0,), (3,)], "node long")
    a = sorted(
        (r.node, r.rank)
        for r in personalized_pagerank(
            _edges(spark, g), srcs, iterations=3
        ).collect()
    )
    b = sorted(
        (r.node, r.rank)
        for r in personalized_pagerank(
            _edges(spark, g).repartition(13), srcs, iterations=3
        ).collect()
    )
    assert a == b


# -- golden_records survivorship (operators/er.py, round-7) ------------------


def _gr(spark):
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.er import golden_records

    # cluster {1,2,3} via chain 1-2, 2-3; cluster {5,6}; singleton 9
    records = spark.createDataFrame(
        [
            (1, "alpha", 10.0),
            (2, "alphb", 99.0),
            (3, "alphc", 99.0),
            (5, "beta", 7.0),
            (6, "betb", 3.0),
            (9, "gamma", 1.0),
        ],
        "rid long, name string, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    return golden_records(
        records, pairs, id_col="rid",
        survivorship=[F.col("score").desc()],
    )


def test_golden_records_clusters_and_election(spark):
    rows = {r.rid: r for r in _gr(spark).collect()}
    assert len(rows) == 6  # full input coverage
    # chain closure: 1,2,3 share the min-id label 1
    assert rows[1].cluster_id == rows[2].cluster_id == rows[3].cluster_id == 1
    assert rows[5].cluster_id == rows[6].cluster_id == 5
    assert rows[9].cluster_id == 9  # singleton pass-through
    # highest score survives; 2 vs 3 tie at 99.0 -> min id 2 wins
    golden = {r.rid for r in rows.values() if r.is_golden}
    assert golden == {2, 5, 9}
    assert rows[2].cluster_size == 3
    assert rows[5].cluster_size == 2
    assert rows[9].cluster_size == 1


def test_golden_records_one_golden_per_cluster(spark):
    out = _gr(spark).collect()
    per = {}
    for r in out:
        per.setdefault(r.cluster_id, []).append(r.is_golden)
    for cid, flags in per.items():
        assert sum(flags) == 1, cid


# -- label propagation (operators/graph.py:label_propagation, round-7) -------


def _ref_lpa(edges, iters):
    """Pure-Python synchronous LPA: majority in-label, min tiebreak,
    keep own when no in-neighbours.  edges: directed (src, dst) set
    AFTER symmetrization."""
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    lab = {n: n for n in nodes}
    for _ in range(iters):
        votes = {}
        for s, d in edges:
            votes.setdefault(d, {}).setdefault(lab[s], 0)
            votes[d][lab[s]] += 1
        nxt = {}
        for n in nodes:
            if n in votes:
                best = max(votes[n].items(), key=lambda kv: (kv[1], -kv[0]))
                nxt[n] = best[0]
            else:
                nxt[n] = lab[n]
        lab = nxt
    return lab


def _lpa_edges():
    # two triangles {1,2,3} and {10,11,12} joined by a weak bridge 3-10
    return [
        (1, 2), (2, 3), (1, 3),
        (10, 11), (11, 12), (10, 12),
        (3, 10),
    ]


def test_lpa_matches_reference(spark):
    from diabetes_etl_spark.operators.graph import label_propagation

    raw = _lpa_edges()
    df = spark.createDataFrame(raw, "src long, dst long")
    got = {
        r.node: r.label
        for r in label_propagation(df, iterations=3).collect()
    }
    sym = set(raw) | {(b, a) for a, b in raw}
    want = _ref_lpa(sym, 3)
    assert got == want
    # the left triangle resolves to its min label; every node ends
    # with a label from the graph's id set (sanity on the vote rule)
    assert got[1] == got[2] == got[3] == 1
    assert set(got.values()) <= set(got)


def test_lpa_partition_invariant(spark):
    from diabetes_etl_spark.operators.graph import label_propagation

    df = spark.createDataFrame(_lpa_edges(), "src long, dst long")
    a = sorted(map(tuple, label_propagation(df, iterations=3).collect()))
    b = sorted(
        map(
            tuple,
            label_propagation(df.repartition(7), iterations=3).collect(),
        )
    )
    assert a == b


def test_lpa_work_dir_resume_bit_identical(spark, tmp_path):
    from diabetes_etl_spark.operators.graph import label_propagation

    df = spark.createDataFrame(_lpa_edges(), "src long, dst long")
    full = sorted(
        map(
            tuple,
            label_propagation(
                df, iterations=3, work_dir=str(tmp_path / "a")
            ).collect(),
        )
    )
    # run 2 rounds into a second dir, then "restart" asking for 3 —
    # the loop must resume from the committed round, not recompute
    label_propagation(
        df, iterations=2, work_dir=str(tmp_path / "b")
    ).collect()
    resumed = sorted(
        map(
            tuple,
            label_propagation(
                df, iterations=3, work_dir=str(tmp_path / "b")
            ).collect(),
        )
    )
    assert full == resumed


# -- k-hop reachability -------------------------------------------------------


def test_khop_counts_on_path_graph(spark):
    """Path 1-2-3-4-5 (symmetric): from seed 1, each hop reaches
    exactly one new node; n_cum accumulates."""
    from diabetes_etl_spark.operators.graph import khop_counts

    raw = [(i, i + 1) for i in range(1, 5)]
    edges = spark.createDataFrame(
        raw + [(b, a) for a, b in raw], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "seed long")
    out = sorted(
        (r.hop, r.n_new, r.n_cum)
        for r in khop_counts(edges, seeds, max_hops=3).collect()
    )
    assert out == [(1, 1, 1), (2, 1, 2), (3, 1, 3)]


def test_khop_counts_min_hop_semantics(spark):
    """Triangle 1-2-3 plus tail 3-4: node 3 is reached at hop 1 (via
    the direct edge), NEVER recounted at hop 2 through node 2."""
    from diabetes_etl_spark.operators.graph import khop_counts

    raw = [(1, 2), (2, 3), (1, 3), (3, 4)]
    edges = spark.createDataFrame(
        raw + [(b, a) for a, b in raw], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "seed long")
    rows = {r.hop: (r.n_new, r.n_cum) for r in
            khop_counts(edges, seeds, max_hops=3).collect()}
    assert rows[1] == (2, 2)   # nodes 2 and 3
    assert rows[2] == (1, 3)   # node 4 only
    assert 3 not in rows       # nothing new at hop 3 -> no row


def test_khop_multi_seed_and_partition_invariance(spark):
    from diabetes_etl_spark.operators.graph import khop_counts

    raw = [(i % 7, (i * 3) % 7) for i in range(20) if i % 7 != (i * 3) % 7]
    edges = spark.createDataFrame(
        raw + [(b, a) for a, b in raw], "src long, dst long"
    ).distinct()
    seeds = spark.createDataFrame([(1,), (2,)], "seed long")
    a = sorted(map(tuple, khop_counts(edges, seeds, 3).collect()))
    b = sorted(
        map(tuple, khop_counts(edges.repartition(7), seeds, 3).collect())
    )
    assert a == b
    assert {r[0] for r in a} == {1, 2}


# -- portable soundex ----------------------------------------------------------


def test_soundex_classic_values_and_phonetic_equality(spark):
    from diabetes_etl_spark.operators.er import soundex_sql

    cases = {
        "Robert": "R163", "Rupert": "R163",
        "Ashcraft": "A261", "Ashcroft": "A261",
        "Tymczak": "T522", "Pfister": "P236", "Honeyman": "H555",
        "gray": "G600", "grey": "G600",
        "a": "A000", "": "",
        "O'Brien": "O165",  # punctuation stripped before coding
    }
    df = spark.createDataFrame([(n,) for n in cases], "n string")
    got = {
        r.n: r.k
        for r in df.select("n", F.expr(soundex_sql("n")).alias("k")).collect()
    }
    assert got == cases


def test_fellegi_sunter_three_way_decision(spark, tmp_path):
    """Hand-built block: an all-agree pair scores the exact sum of
    agree weights -> 'match'; an all-disagree pair falls below the
    lower threshold and is dropped; a mixed pair lands 'possible'."""
    from diabetes_etl_spark.plans.dedupplans import (
        _FS_LOWER,
        _FS_UPPER,
        _FS_W,
        er_fellegi_sunter,
    )

    rows = [
        # block 1|SEG: ids 1,2 all-agree; id 3 disagrees with both
        (1, "Customer#000000001", 1, 500.0, "SEG"),
        (2, "Customer#000000002", 1, 550.0, "SEG"),
        (3, "Zzzzzzzz#999999999", 1, 9500.0, "SEG"),
        # block 2|SEG: prefix agrees, name distance > 2, balance far
        (4, "Customer#000000004", 2, 100.0, "SEG"),
        (5, "Customer#000099905", 2, 900.0, "SEG"),
    ]
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey long, "
        "c_acctbal double, c_mktsegment string",
    )
    d = str(tmp_path / "fs")
    df.write.mode("overwrite").parquet(f"{d}/customer.parquet")
    out = {(r.id_a, r.id_b): r for r in er_fellegi_sunter(spark, d).collect()}
    all_agree = round(sum(w for w, _ in _FS_W.values()), 9)
    assert out[(1, 2)].decision == "match"
    assert abs(out[(1, 2)].score - all_agree) < 1e-9
    assert (1, 3) not in out and (2, 3) not in out  # clear non-matches
    mixed = out[(4, 5)]
    assert mixed.decision == "possible"
    assert not mixed.agree_name and mixed.agree_prefix
    assert _FS_LOWER < mixed.score < _FS_UPPER


# -- Jaro-Winkler (round 10) --------------------------------------------------


def test_jaro_winkler_textbook_constants_and_threshold(spark):
    """The Catalyst-expression Jaro-Winkler must agree bit-for-bit
    with DuckDB's independent C++ builtin on the textbook constants,
    the transposition cases, and a boost-threshold discriminator
    (jaro <= 0.7 with a shared prefix — bonus must NOT apply)."""
    import duckdb

    from diabetes_etl_spark.operators.er import jaro_winkler_steps

    rows = [
        ("MARTHA", "MARHTA"),      # one transposition
        ("DIXON", "DICKSONX"),     # classic Winkler example
        ("JELLYFISH", "SMELLYFISH"),
        ("CRATE", "TRACE"),
        ("arnab", "raanb"),
        ("axxxx", "ayyyy"),        # jaro 0.4667 <= 0.7: NO prefix bonus
        ("aaaa", "aaa"),
        ("abcdef", "abcdef"),
        ("a", ""),
        ("", ""),
        ("ab", "ba"),              # window 0: zero matches
    ]
    df = spark.createDataFrame(rows, "s string, t string")
    got = {
        (r["s"], r["t"]): r["jw_sim"]
        for r in jaro_winkler_steps(df, "s", "t").collect()
    }
    for s, t in rows:
        want = duckdb.sql(
            f"SELECT jaro_winkler_similarity('{s}','{t}')"
        ).fetchall()[0][0]
        assert got[(s, t)] == want, (s, t, got[(s, t)], want)


def test_jaro_winkler_null_and_overlong_guard(spark):
    from diabetes_etl_spark.operators.er import jaro_winkler_steps

    rows = [(None, "x"), ("x", None), ("y" * 64, "y"), ("z", "z" * 70)]
    df = spark.createDataFrame(rows, "s string, t string")
    out = jaro_winkler_steps(df, "s", "t").collect()
    assert all(r["jw_sim"] is None for r in out)
