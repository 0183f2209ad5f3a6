"""Deduplication operator tests.

The MinHash/SimHash signatures default to engine-specific hashing
(xxhash64); their contract is verified here against the exact operators:
MinHash-LSH output must be a subset of the exact blocked-Jaccard pairs
(candidates are exact-verified, so no false positives) with high
recall, and SimHash must find identical / near-identical docs while not
pairing unrelated ones.  The portable-hash simhash variant (the
oracle-paired gate instance) must behave equivalently to the xxhash64
scale path on planted near-dups."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from diabetes_etl_spark.operators import dedup as DD

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
).split()


def _corpus():
    """Deterministic synthetic corpus with known near-duplicates:
    30 base docs of 60 tokens; every third doc gets a near-dup copy
    (two tokens appended -> 5-shingle Jaccard 56/58 ~ 0.97)."""
    rows = []
    for i in range(30):
        # (i*31+j)%97 makes docs shift-free: no doc is a token-shifted
        # copy of another, so the only near-dup pairs are the planted ones
        toks = [_WORDS[(i * 7 + j * 3) % len(_WORDS)] + str((i * 31 + j) % 97)
                for j in range(60)]
        rows.append((i, " ".join(toks)))
        if i % 3 == 0:
            rows.append((1000 + i, " ".join(toks + ["extra", "tail"])))
    return rows


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_corpus(), ["doc_id", "text"])


def test_exact_dedup_partitions_corpus(spark):
    rows = [(1, "same text"), (2, "same text"), (3, "other text")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.keep_id: r.n_copies for r in
           DD.exact_dedup_groups(df, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}  # canonical min id, copies counted


def test_ngram_jaccard_finds_planted_pairs(docs):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in DD.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=5, threshold=0.8, band_width=50
        ).collect()
    }
    planted = {(i, 1000 + i) for i in range(0, 30, 3)}
    assert planted <= pairs
    # base docs are mutually distinct: no cross-base pairs
    assert all(a >= 1000 or b >= 1000 for a, b in pairs)


def test_minhash_lsh_no_false_positives_high_recall(docs):
    exact = {
        (r.doc_a, r.doc_b)
        for r in DD.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=5, threshold=0.8, band_width=50
        ).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_lsh_pairs(
            docs, "doc_id", "text", n=5, num_hashes=32, bands=8,
            threshold=0.8,
        ).collect()
    }
    assert lsh <= exact  # candidates are exact-verified: precision 1.0
    assert len(lsh & exact) / len(exact) >= 0.9


def test_minhash_lsh_on_fixture_matches_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b)
        for r in DD.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=5, threshold=0.8, band_width=50
        ).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_lsh_pairs(
            docs, "doc_id", "text", n=5, num_hashes=32, bands=8,
            threshold=0.8,
        ).collect()
    }
    assert lsh <= exact
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.9


def test_simhash_identical_and_disjoint(spark):
    a = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, a),
        (2, a),  # identical -> hamming 0
        (3, "completely different words zebra yak xylophone quince " * 8),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in DD.simhash_near_pairs(df, "doc_id", "text",
                                       max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_near_duplicate_low_hamming(docs):
    # appending 2 tokens to a 60-token doc flips at most a handful of
    # majority bits; at max_hamming=6 the pigeonhole join (7 chunks)
    # guarantees recall for every pair within distance 6
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in DD.simhash_near_pairs(docs, "doc_id", "text",
                                       max_hamming=6).collect()
    }
    planted = {(i, 1000 + i) for i in range(0, 30, 3)}
    found = planted & set(pairs)
    assert len(found) / len(planted) >= 0.9
    assert all(pairs[p] <= 6 for p in found)
    # tighter radius is a strict subset with full recall within it
    tight = {
        (r.doc_a, r.doc_b)
        for r in DD.simhash_near_pairs(docs, "doc_id", "text",
                                       max_hamming=3).collect()
    }
    assert tight == {p for p, h in pairs.items() if h <= 3}


def test_bounded_bucket_pairs_caps_skewed_buckets(spark):
    """A near-identical corpus (every doc in one LSH bucket) must not
    expand quadratically: with cap=64, a 500-member bucket yields at
    most C(64,2) head pairs + 436 star edges — not C(500,2) — and every
    member stays connected to the bucket leader."""
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.util import bounded_bucket_pairs

    n = 500
    exploded = spark.range(n).select(
        F.lit(0).alias("band"), F.col("id").alias("doc_id")
    )
    pairs = bounded_bucket_pairs(exploded, ["band"], cap=64).collect()
    n_pairs = len(pairs)
    assert n_pairs <= 64 * 63 // 2 + (n - 64)
    assert n_pairs < n * (n - 1) // 2  # NOT quadratic
    # connectivity: every doc appears in at least one pair, and all
    # overflow members reach the leader (doc 0) directly
    seen = {d for p in pairs for d in (p.doc_a, p.doc_b)}
    assert seen == set(range(n))
    star = {p.doc_b for p in pairs if p.doc_a == 0}
    assert set(range(65, n)) <= star


def test_minhash_results_unchanged_by_bounding(docs):
    """The bounded pair generator must not change results on realistic
    (small-bucket) corpora: every planted near-dup is still found."""
    pairs = {
        (r.doc_a, r.doc_b)
        for r in DD.minhash_lsh_pairs(
            docs, "doc_id", "text", n=5, num_hashes=32, bands=8,
            threshold=0.8,
        ).collect()
    }
    planted = {(i, 1000 + i) for i in range(0, 30, 3)}
    assert planted <= pairs


def test_simhash_portable_hash_agrees_with_xx64(docs):
    """The portable-rolling-hash simhash (oracle-paired gate instance)
    must match the xxhash64 scale path on planted near-dup recall and
    keep the identical-doc / disjoint-doc contract."""
    kw = dict(max_hamming=6)
    xx = {
        (r.doc_a, r.doc_b)
        for r in DD.simhash_near_pairs(docs, "doc_id", "text", **kw).collect()
    }
    portable = {
        (r.doc_a, r.doc_b)
        for r in DD.simhash_near_pairs(
            docs, "doc_id", "text", token_hash=DD.portable_token_hash, **kw
        ).collect()
    }
    planted = {(i, 1000 + i) for i in range(0, 30, 3)}
    assert len(planted & portable) / len(planted) >= 0.9
    assert len(planted & xx) / len(planted) >= 0.9
    # neither variant pairs two unrelated base docs
    assert all(a >= 1000 or b >= 1000 for a, b in portable)


# -- connected components ---------------------------------------------------


def test_connected_components_labels_min_id(spark):
    from diabetes_etl_spark.operators.components import connected_components

    # two components: a 4-chain {1,2,3,4} (diameter 3 exercises >1
    # propagation round) and a pair {10, 11}
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
    )
    got = {
        r.id: r.component
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_raises_when_not_converged(spark):
    import pytest

    from diabetes_etl_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    # and the full run does converge on the same input
    labels = connected_components(chain).collect()
    assert all(r.component == 0 for r in labels)


def test_connected_components_star_handles_high_diameter(spark):
    """The large-star/small-star variant (Kiveris et al.) converges in
    O(log^2 n) rounds: a 200-node chain (diameter 199) finishes within
    the default 40-round budget, where min-label propagation would need
    199 rounds."""
    from diabetes_etl_spark.operators.components import (
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], ["src", "dst"]
    )
    got = {
        r.id: r.component for r in connected_components_star(chain).collect()
    }
    assert got == {i: 0 for i in range(200)}


def test_connected_components_star_matches_label_propagation(spark):
    """Both algorithms produce identical (id, min-of-component) labels
    on a multi-component graph with merged clusters."""
    from diabetes_etl_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (4, 10), (20, 21)],
        ["src", "dst"],
    )
    lbl = {r.id: r.component for r in connected_components(edges).collect()}
    star = {
        r.id: r.component for r in connected_components_star(edges).collect()
    }
    assert star == lbl
    assert star[12] == 1  # the two chains merged through (4, 10)
    assert star[21] == 20


def test_connected_components_resumes_from_checkpointed_rounds(
    spark, tmp_path
):
    """Driver-restart tolerance: a run that dies mid-loop leaves
    committed per-round parquet in work_dir; a rerun against the same
    work_dir resumes from the last committed round instead of
    restarting, and does NOT rewrite earlier rounds."""
    import os

    import pytest

    from diabetes_etl_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["src", "dst"]
    )
    wd = str(tmp_path / "cc_work")
    # simulated mid-job death: max_iter=3 raises AFTER committing
    # rounds 0..2 to work_dir (same on-disk state as a crashed driver)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3, work_dir=wd, auto_star=False)
    r2 = os.path.join(wd, "round_00002")
    assert os.path.exists(os.path.join(r2, "_SUCCESS"))
    stamp = os.path.getmtime(os.path.join(r2, "_SUCCESS"))

    got = {
        r.id: r.component
        for r in connected_components(
            chain, work_dir=wd, auto_star=False
        ).collect()
    }
    assert got == {i: 0 for i in range(9)}
    # round 2 was reused, not recomputed
    assert os.path.getmtime(os.path.join(r2, "_SUCCESS")) == stamp
    # converged marker short-circuits a third call entirely
    assert os.path.exists(os.path.join(wd, "CONVERGED"))
    n_rounds = len([d for d in os.listdir(wd) if d.startswith("round_")])
    again = {
        r.id: r.component
        for r in connected_components(
            chain, work_dir=wd, auto_star=False
        ).collect()
    }
    assert again == got
    assert (
        len([d for d in os.listdir(wd) if d.startswith("round_")])
        == n_rounds
    )


def test_connected_components_auto_switches_on_high_diameter(
    spark, tmp_path
):
    """A diameter-30 chain exceeds the default max_iter=20 for pure
    label propagation — the geometric-shrink probe must detect the
    linear decay by round 3 and auto-switch to the star algorithm
    through the DEFAULT entry point, no parameter changes (round-5
    VERDICT #4)."""
    import os

    from diabetes_etl_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["src", "dst"]
    )
    wd = str(tmp_path / "cc_auto")
    labels = {
        r.id: r.component
        for r in connected_components(chain, work_dir=wd).collect()
    }
    assert labels == {i: 0 for i in range(31)}
    # the switch was taken and recorded (restart-resume goes straight
    # to the star path)
    assert os.path.exists(os.path.join(wd, "STAR_SWITCH"))
    again = {
        r.id: r.component
        for r in connected_components(chain, work_dir=wd).collect()
    }
    assert again == labels


def test_connected_components_no_switch_on_near_clique(spark, tmp_path):
    """Near-dup clusters (near-cliques) converge in 1-3 propagation
    rounds — the auto-switch must NOT trigger on the normal path."""
    import os

    from diabetes_etl_spark.operators.components import connected_components

    # two 6-cliques joined at one node each: diameter 3, the realistic
    # worst case for a near-dup cluster graph
    edges = [
        (a, b) for grp in (range(6), range(6, 12))
        for a in grp for b in grp if a < b
    ] + [(5, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    wd = str(tmp_path / "cc_clique")
    labels = {
        r.id: r.component
        for r in connected_components(df, work_dir=wd).collect()
    }
    assert labels == {i: 0 for i in range(12)}
    assert not os.path.exists(os.path.join(wd, "STAR_SWITCH"))
    assert os.path.exists(os.path.join(wd, "CONVERGED"))


def test_substring_dup_stats_finds_shared_paragraph(spark):
    """Two long documents sharing only one 10-token paragraph: both
    light up with exactly the paragraph's k-shingles; the unrelated
    doc and the short doc stay clean."""
    from diabetes_etl_spark.operators.dedup import substring_dup_stats

    para = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d1 = "one two three four five six seven " + para + " tail1 tail2"
    d2 = "red blue green yellow purple " + para + " endx endy endz"
    d3 = "totally unrelated words that repeat nothing from the others at all"
    d4 = "short doc"  # < k tokens -> zero shingles
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.n_shingles, r.n_dup_shingles)
        for r in substring_dup_stats(df, k=8).collect()
    }
    # the shared 10-token span yields 10-8+1 = 3 duplicated 8-shingles
    assert out[1][1] == 3 and out[2][1] == 3
    assert out[3] == (4, 0)
    assert out[4] == (0, 0)
    assert out[1][0] == 19 - 8 + 1 and out[2][0] == 18 - 8 + 1


# -- content novelty (content_novelty) --------------------------------------


def test_content_novelty_duplicate_adds_nothing(spark):
    from diabetes_etl_spark.operators.dedup import content_novelty

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, "totally different words appear here now")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in content_novelty(docs).collect()}
    assert out[1].novelty == 1.0       # first occurrence of everything
    assert out[2].novelty == 0.0       # verbatim copy adds nothing
    assert out[3].novelty == 1.0       # disjoint content, all new
    assert out[2].n_shingles == out[1].n_shingles


def test_content_novelty_partial_overlap(spark):
    from diabetes_etl_spark.operators.dedup import content_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),            # shingles: abcde, bcdef
            (2, "a b c d e x y z w v"),    # shares abcde; rest new
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in content_novelty(docs).collect()}
    assert out[1].novelty == 1.0
    assert out[2].n_novel == out[2].n_shingles - 1  # only abcde reused


# -- apply_dedup (round-7) --------------------------------------------------


def test_apply_dedup_keeps_min_id_per_cluster(spark, tmp_path):
    from diabetes_etl_spark.operators.dedup import apply_dedup

    docs = spark.createDataFrame(
        [(i, f"doc{i}", "en") for i in range(1, 8)],
        "doc_id long, text string, lang string",
    )
    # clusters {1,2,3} and {5,6}; 4 and 7 singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    out = {
        r.doc_id: (r.component, r.is_representative)
        for r in apply_dedup(
            docs, pairs, work_dir=str(tmp_path / "cc")
        ).collect()
    }
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[3] == (1, False)
    assert out[5] == (5, True)
    assert out[6] == (5, False)
    assert out[4] == (4, True)  # singleton: own representative
    assert out[7] == (7, True)
    kept = sorted(i for i, (_, rep) in out.items() if rep)
    assert kept == [1, 4, 5, 7]  # filter(is_representative) = cleaned corpus


def test_apply_dedup_preserves_all_doc_columns(spark, tmp_path):
    from diabetes_etl_spark.operators.dedup import apply_dedup

    docs = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)],
        "doc_id long, text string, n_chars int",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    rows = apply_dedup(docs, pairs, work_dir=str(tmp_path / "cc")).collect()
    assert set(rows[0].asDict()) == {
        "doc_id", "text", "n_chars", "component", "is_representative"
    }
    assert len(rows) == 2  # row count preserved: label attach, not a filter


def test_leakage_safe_split_never_splits_a_cluster(spark, tmp_path):
    """Every near-dup cluster must land wholly in one split — the
    property the cluster-hash assignment exists for."""
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.dedup import apply_dedup

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 300)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 290, 3)], "doc_a long, doc_b long"
    )
    labeled = apply_dedup(docs, pairs, work_dir=str(tmp_path / "cc"))
    bucket = (F.col("component") * F.lit(2654435761)) % 100
    assigned = labeled.select(
        "component",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    straddlers = (
        assigned.groupBy("component")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert straddlers == 0


# -- incremental minhash index (round-7) -------------------------------------


def _inc_corpus(spark):
    rows = [
        # old corpus (even ids): two texts, one with a future near-dup
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten"),
        # batch (odd ids): 1 ~ near-dup of 0, 3 ~ near-dup of 5, 5 base,
        # 7 unique
        (1, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (3, "red orange yellow green blue indigo violet pink brown gray"),
        (5, "red orange yellow green blue indigo violet pink brown black"),
        (7, "completely different content with no overlapping shingles at all"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run_incremental(spark, docs):
    from diabetes_etl_spark.operators import dedup as DD

    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    bands, profiles = DD.minhash_index(old, "doc_id", "text", n=3)
    return DD.minhash_lsh_incremental(
        bands, profiles, new, "doc_id", "text", n=3, threshold=0.5
    )


def test_incremental_matches_one_shot_restricted(spark):
    """Incremental(new vs index+batch) == one-shot all-docs pairs
    restricted to pairs touching a new doc, with identical jaccard."""
    from diabetes_etl_spark.operators import dedup as DD

    docs = _inc_corpus(spark)
    inc = {
        (min(r.new_id, r.matched_id), max(r.new_id, r.matched_id)): r.jaccard_sim
        for r in _run_incremental(spark, docs).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.jaccard_sim
        for r in DD.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
        if r.doc_a % 2 == 1 or r.doc_b % 2 == 1
    }
    assert inc == full
    assert inc  # the fixture has matches by construction


def test_incremental_match_scopes(spark):
    rows = _run_incremental(spark, _inc_corpus(spark)).collect()
    scopes = {(r.new_id, r.matched_id): r.match_scope for r in rows}
    assert scopes[(1, 0)] == "index"  # batch doc 1 matches history 0
    assert scopes[(3, 5)] == "batch"  # within-batch pair, canonical order
    assert all(
        (s == "batch") == (a % 2 == 1 and b % 2 == 1)
        for (a, b), s in scopes.items()
    )


def test_incremental_index_survives_parquet_roundtrip(spark, tmp_path):
    """The index tables are the PERSISTED artifact: writing them to
    parquet and reloading must give bit-identical matches."""
    from diabetes_etl_spark.operators import dedup as DD

    docs = _inc_corpus(spark)
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    bands, profiles = DD.minhash_index(old, "doc_id", "text", n=3)
    bands.write.parquet(str(tmp_path / "bands"))
    profiles.write.parquet(str(tmp_path / "profiles"))
    live = sorted(
        map(tuple, _run_incremental(spark, docs).collect())
    )
    stored = sorted(
        map(
            tuple,
            DD.minhash_lsh_incremental(
                spark.read.parquet(str(tmp_path / "bands")),
                spark.read.parquet(str(tmp_path / "profiles")),
                new,
                "doc_id",
                "text",
                n=3,
                threshold=0.5,
            ).collect(),
        )
    )
    assert live == stored


def test_hash_profile_jaccard_equals_string_jaccard(spark, sf_dir):
    """Jaccard over portable shingle hashes == Jaccard over shingle
    strings on the fixture corpus (no 60-bit collisions)."""
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.dedup import portable_token_hash
    from diabetes_etl_spark.operators.text import jaccard, word_shingles
    from diabetes_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    base = docs.select(
        "doc_id",
        word_shingles(F.col("text"), 5).alias("sh"),
    ).withColumn("shh", F.transform(F.col("sh"), portable_token_hash))
    a = base.select(
        F.col("doc_id").alias("ia"),
        F.col("sh").alias("sa"),
        F.col("shh").alias("ha"),
    )
    b = base.select(
        F.col("doc_id").alias("ib"),
        F.col("sh").alias("sb"),
        F.col("shh").alias("hb"),
    )
    diff = (
        a.crossJoin(b)
        .filter("ia < ib")
        .withColumn("js", jaccard(F.col("sa"), F.col("sb")))
        .withColumn("jh", jaccard(F.col("ha"), F.col("hb")))
        .filter("js != jh")
        .count()
    )
    assert diff == 0


def _brute_shingle_jaccard(rows, threshold):
    """Driver-side quadratic scan (test-only truth): distinct 5-token
    shingles, exact Jaccard, every pair."""
    sets = {}
    for doc_id, text in rows:
        toks = text.split()
        sets[doc_id] = {
            " ".join(toks[i : i + 5]) for i in range(max(len(toks) - 4, 1))
        }
    ids = sorted(sets)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter >= threshold * union:
                out[(a, b)] = (inter, union)
    return out


def test_prefix_jaccard_matches_brute_force(docs):
    """The prefix filter is LOSSLESS: output must equal the quadratic
    scan pair-for-pair, including the exact intersection/union counts."""
    expected = _brute_shingle_jaccard(_corpus(), 0.5)
    got = {
        (r.doc_a, r.doc_b): (r.n_inter, r.n_union)
        for r in DD.prefix_filter_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, shingle_n=5
        ).collect()
    }
    assert got == expected
    assert expected  # the corpus must actually plant pairs


def test_prefix_jaccard_token_sets_match_brute_force(docs):
    """Same losslessness with distinct-token sets (shingle_n=None) and a
    different threshold — exercises the ceil-based prefix length on
    non-dyadic set sizes."""
    rows = _corpus()
    sets = {doc_id: set(text.split()) for doc_id, text in rows}
    ids = sorted(sets)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter >= 0.5 * union:
                expected.add((a, b))
    got = {
        (r.doc_a, r.doc_b)
        for r in DD.prefix_filter_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, shingle_n=None
        ).collect()
    }
    assert got == expected


# -- C4-style line dedup with reconstruction ---------------------------------


def _c4_docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b c d e f g h x1 x2 x3 x4 x5 x6 x7 x8"),
            # line 0 duplicates doc 1 line 0; line 1 is rule-dropped
            (2, "a b c d e f g h slow y2 y3 y4 y5 y6 y7 y8"),
            (3, "unique u2 u3 u4 u5 u6 u7 u8 tail"),
        ],
        "doc_id long, text string",
    )


def test_c4_line_clean_rules_dedup_and_rebuild(spark):
    from diabetes_etl_spark.operators.dedup import remove_duplicate_lines

    out = {
        r.doc_id: r
        for r in remove_duplicate_lines(
            _c4_docs(spark), blocklist=("slow",)
        ).collect()
    }
    assert out[1].cleaned_text == "a b c d e f g h x1 x2 x3 x4 x5 x6 x7 x8"
    assert (out[1].n_rule_dropped, out[1].n_dup_dropped) == (0, 0)
    # doc 2 loses its dup line AND its rule-violating line -> empty
    assert out[2].cleaned_text == ""
    assert (out[2].n_rule_dropped, out[2].n_dup_dropped, out[2].n_kept) == (
        1, 1, 0,
    )
    assert out[3].n_kept == 2
    assert out[3].cleaned_text == "unique u2 u3 u4 u5 u6 u7 u8 tail"


def test_c4_line_clean_within_doc_repeat_keeps_first(spark):
    from diabetes_etl_spark.operators.dedup import remove_duplicate_lines

    docs = spark.createDataFrame(
        [(7, "p q r s t u v w p q r s t u v w end1 end2")],
        "doc_id long, text string",
    )
    row = remove_duplicate_lines(docs).collect()[0]
    assert row.n_lines == 3
    assert row.n_dup_dropped == 1
    assert row.cleaned_text == "p q r s t u v w end1 end2"


def test_c4_line_clean_rule_dropped_line_is_not_a_keeper(spark):
    """A rule-dropped occurrence must NOT consume the keeper slot:
    the same line text appearing later in a clean doc survives."""
    from diabetes_etl_spark.operators.dedup import remove_duplicate_lines

    docs = spark.createDataFrame(
        [
            # doc 1 line: contains 'bad' -> rule-dropped entirely
            (1, "bad k2 k3 k4 k5 k6 k7 k8"),
            # doc 2 same line minus the blocklisted token; different text
            (2, "ok k2 k3 k4 k5 k6 k7 k8"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_lines(docs, blocklist=("bad",)).collect()
    }
    assert out[1].n_rule_dropped == 1 and out[1].n_kept == 0
    assert out[2].n_kept == 1 and out[2].n_dup_dropped == 0


def test_c4_line_clean_partition_invariant(spark):
    from diabetes_etl_spark.operators.dedup import remove_duplicate_lines

    docs = _c4_docs(spark)
    a = sorted(
        map(tuple, remove_duplicate_lines(docs, blocklist=("slow",)).collect())
    )
    b = sorted(
        map(
            tuple,
            remove_duplicate_lines(
                docs.repartition(5), blocklist=("slow",)
            ).collect(),
        )
    )
    assert a == b


# -- exact-substring span excision -------------------------------------------

_SPAN8 = "s1 s2 s3 s4 s5 s6 s7 s8"


def _span_docs(spark):
    return spark.createDataFrame(
        [
            (1, f"intro1 intro2 {_SPAN8} outro1 outro2"),
            (2, f"other1 other2 other3 {_SPAN8} tail1"),
            (3, "clean c2 c3 c4 c5 c6 c7 c8 c9"),
            (4, f"{_SPAN8} mid {_SPAN8}"),
        ],
        "doc_id long, text string",
    )


def test_span_excision_keeper_survives_copies_cut(spark):
    from diabetes_etl_spark.operators.dedup import remove_duplicate_spans

    out = {
        r.doc_id: r for r in remove_duplicate_spans(_span_docs(spark)).collect()
    }
    # doc 1 holds the first corpus occurrence -> untouched
    assert out[1].n_tokens_removed == 0
    assert _SPAN8 in out[1].cleaned_text
    # doc 2 loses exactly the 8-token span
    assert (out[2].n_spans_removed, out[2].n_tokens_removed) == (1, 8)
    assert out[2].cleaned_text == "other1 other2 other3 tail1"
    assert out[3].n_spans_removed == 0
    # doc 4: both copies are non-keepers -> two disjoint spans cut
    assert (out[4].n_spans_removed, out[4].n_tokens_removed) == (2, 16)
    assert out[4].cleaned_text == "mid"


def test_span_excision_overlapping_marks_merge_to_one_interval(spark):
    """A 9-token duplicated run yields two overlapping marked 8-token
    shingles (positions p and p+1) in the copy — they must merge into
    ONE 9-token excision, not double-count."""
    from diabetes_etl_spark.operators.dedup import remove_duplicate_spans

    run9 = "r1 r2 r3 r4 r5 r6 r7 r8 r9"
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 {run9} z1"),
            (2, f"b1 {run9} b2 b3"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in remove_duplicate_spans(docs).collect()
    }
    assert out[1].n_tokens_removed == 0
    assert (out[2].n_spans_removed, out[2].n_tokens_removed) == (1, 9)
    assert out[2].cleaned_text == "b1 b2 b3"


def test_span_excision_within_doc_only_repeat_not_cut(spark):
    """The cross-doc contract: a span repeated only INSIDE one doc is
    kept (Gopher-style repetition filters own that case)."""
    from diabetes_etl_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, f"{_SPAN8} gap {_SPAN8}"), (2, "totally different text here now")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs).collect()}
    assert out[1].n_tokens_removed == 0


def test_span_excision_partition_invariant(spark):
    from diabetes_etl_spark.operators.dedup import remove_duplicate_spans

    docs = _span_docs(spark)
    a = sorted(map(tuple, remove_duplicate_spans(docs).collect()))
    b = sorted(
        map(tuple, remove_duplicate_spans(docs.repartition(7)).collect())
    )
    assert a == b


# -- docs-prep pipeline v2 ---------------------------------------------------


def test_docs_prep_v2_selection_budget_and_en_bias(spark, sf_dir):
    """The composite must select exactly TOPK docs globally, and the
    en-targeted DSIR stage must tilt selection toward English."""
    from diabetes_etl_spark.plans.registry import all_queries

    q = all_queries(include_extended=True)["docs_prep_pipeline_v2"]
    rows = {r.lang: r for r in q.fn(spark, sf_dir).collect()}
    assert sum(r.n_selected for r in rows.values()) == 50
    n_langs = len(rows)
    assert n_langs >= 2
    # the en row exists and wins a disproportionate share
    en = rows["en"]
    others = [r for lg, r in rows.items() if lg != "en"]
    en_rate = en.n_selected / en.n_docs
    other_rate = sum(r.n_selected for r in others) / max(
        1, sum(r.n_docs for r in others)
    )
    assert en_rate > other_rate
    assert en.avg_log_weight > max(r.avg_log_weight for r in others)


# -- incremental C4 line dedup -----------------------------------------------


def test_c4_incremental_matches_one_shot_across_batches(spark, tmp_path):
    """Three ascending-id batches against a persisted hash index must
    reproduce the one-shot cleaner exactly (the continuous-dedup-loop
    contract), including the persisted round trip."""
    from diabetes_etl_spark.operators.dedup import (
        line_hash_index,
        remove_duplicate_lines,
        remove_duplicate_lines_incremental,
    )

    rows = [
        (1, "a b c d e f g h x1 x2 x3 x4 x5 x6 x7 x8"),
        (2, "a b c d e f g h slow y2 y3 y4 y5 y6 y7 y8"),
        (3, "unique u2 u3 u4 u5 u6 u7 u8 tail"),
        (4, "a b c d e f g h n1 n2 n3 n4 n5 n6 n7 n8"),
        (5, "x1 x2 x3 x4 x5 x6 x7 x8 fresh1 fresh2"),
        (6, "n1 n2 n3 n4 n5 n6 n7 n8 end"),
    ]
    full = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        map(
            tuple,
            remove_duplicate_lines(full, blocklist=("slow",)).collect(),
        )
    )

    batches = [rows[:2], rows[2:4], rows[4:]]
    idx_path = str(tmp_path / "line_hashes")
    first = spark.createDataFrame(batches[0], "doc_id long, text string")
    line_hash_index(first, blocklist=("slow",)).write.mode(
        "overwrite"
    ).parquet(idx_path)
    got = sorted(
        map(
            tuple,
            remove_duplicate_lines(first, blocklist=("slow",)).collect(),
        )
    )
    for b in batches[1:]:
        bdf = spark.createDataFrame(b, "doc_id long, text string")
        idx = spark.read.parquet(idx_path)
        cleaned, new_h = remove_duplicate_lines_incremental(
            idx, bdf, blocklist=("slow",)
        )
        got += sorted(map(tuple, cleaned.collect()))
        idx.unionByName(new_h).distinct().write.mode(
            "overwrite"
        ).parquet(idx_path + "_next")
        spark.read.parquet(idx_path + "_next").write.mode(
            "overwrite"
        ).parquet(idx_path)
    assert sorted(got) == want


def test_c4_incremental_batch_internal_dups_still_elected(spark):
    """A line appearing twice inside ONE batch (and never in history)
    must keep its first batch occurrence only."""
    from diabetes_etl_spark.operators.dedup import (
        remove_duplicate_lines_incremental,
    )

    index = spark.createDataFrame([], "h string")
    batch = spark.createDataFrame(
        [
            (10, "p q r s t u v w tail1"),
            (11, "p q r s t u v w tail2"),
        ],
        "doc_id long, text string",
    )
    cleaned, new_h = remove_duplicate_lines_incremental(index, batch)
    out = {r.doc_id: r for r in cleaned.collect()}
    assert out[10].n_dup_dropped == 0
    assert out[11].n_dup_dropped == 1
    assert "p q r s t u v w" not in out[11].cleaned_text
    # the keeper hashes (both docs' distinct kept lines) are the delta
    assert new_h.count() == 3


# -- per-source MinHash overlap (round-8) -----------------------------------


def test_source_overlap_estimates_known_jaccard(spark):
    """Two sources built from shingle-disjoint sentence pools with a
    known shared half: J = |A∩B|/|A∪B| = 1/3; the 32-slot estimate
    must land within 3 standard errors (~0.25)."""
    from diabetes_etl_spark.operators.dedup import source_minhash_overlap

    shared = [f"s{i} s{i}x s{i}y s{i}z" for i in range(40)]
    only_a = [f"a{i} a{i}x a{i}y a{i}z" for i in range(40)]
    only_b = [f"b{i} b{i}x b{i}y b{i}z" for i in range(40)]
    rows = [(i, t, "src_a") for i, t in enumerate(shared + only_a)] + [
        (1000 + i, t, "src_b") for i, t in enumerate(shared + only_b)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = source_minhash_overlap(df, "source", "text").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.source_a, r.source_b) == ("src_a", "src_b")
    # each 4-token doc yields 2 distinct 3-shingles -> 80 per pool half
    assert r.n_sh_a == 160 and r.n_sh_b == 160
    assert abs(r.est_jaccard - 1 / 3) < 0.25
    assert r.sig_agreements == round(r.est_jaccard * 32)


def test_source_overlap_identical_sources_full_agreement(spark):
    from diabetes_etl_spark.operators.dedup import source_minhash_overlap

    rows = [(i, f"t{i} u{i} v{i} w{i}", s) for i in range(20)
            for s in ("x", "y")]
    df = spark.createDataFrame(
        [(i * 2 + (0 if s == "x" else 1), t, s) for i, (_, t, s) in
         enumerate(rows)],
        "doc_id long, text string, source string",
    )
    r = source_minhash_overlap(df, "source", "text").collect()[0]
    assert r.est_jaccard == 1.0 and r.sig_agreements == 32
    assert r.n_sh_a == r.n_sh_b


# -- content-defined chunking ------------------------------------------------


def _cdc_ref(text, w=8, mask=64, base=131, mod=1_000_000_007):
    """Pure-Python boundary + chunk reference."""
    n = len(text)
    bounds = []
    for p in range(w, n + 1):
        h = 0
        for ch in text[p - w : p]:
            h = (h * base + ord(ch)) % mod
        if h % mask == 0:
            bounds.append(p)
    starts = [1] + [b + 1 for b in bounds]
    ends = bounds + [n]
    return [
        text[s - 1 : e] for s, e in zip(starts, ends) if e >= s
    ]


def _fp(s, base=131, mod=1_000_000_007):
    h = 0
    for ch in s:
        h = (h * base + ord(ch)) % mod
    return h


def test_cdc_chunks_match_python_reference(spark):
    from diabetes_etl_spark.operators.dedup import cdc_chunks

    texts = [
        (0, "the quick brown fox jumps over the lazy dog " * 4),
        (1, "hi"),
        (2, "x" * 100),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in cdc_chunks(df).collect():
        got.setdefault(r.id, []).append((r.chunk_idx, r.chunk_len, r.chunk_fp))
    for i, t in texts:
        ref = _cdc_ref(t)
        want = [(k + 1, len(c), _fp(c)) for k, c in enumerate(ref)]
        assert sorted(got[i]) == want, i


def test_cdc_boundaries_shift_resistant(spark):
    """Prepending a sentence to a long document must leave every chunk
    after the first boundary IDENTICAL — the property fixed-size
    blocking lacks."""
    from diabetes_etl_spark.operators.dedup import cdc_chunks

    body = (
        "content defined chunking cuts where the rolling hash "
        "satisfies a mask so local edits stay local " * 6
    )
    df = spark.createDataFrame(
        [(0, body), (1, "INSERTED PREFIX >> " + body)],
        "doc_id long, text string",
    )
    fps = {0: set(), 1: set()}
    for r in cdc_chunks(df).collect():
        fps[r.id].add(r.chunk_fp)
    ref = _cdc_ref(body)
    assert len(ref) >= 3  # the fixture must actually chunk
    # every chunk of the original except (at most) the first survives
    shared = fps[0] & fps[1]
    assert len(shared) >= len(fps[0]) - 1


def test_cdc_dedup_stats_flags_duplicates_only(spark):
    from diabetes_etl_spark.operators.dedup import cdc_dedup_stats

    a = "alpha beta gamma delta epsilon zeta eta theta " * 5
    df = spark.createDataFrame(
        [(0, a), (1, a), (2, "totally unrelated content here " * 5)],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in cdc_dedup_stats(df).collect()}
    assert rows[0].chunks_fp == rows[1].chunks_fp
    assert rows[0].n_shared_chunks == rows[0].n_chunks
    assert rows[2].n_shared_chunks == 0
    assert rows[0].total_len == len(a)


def test_cdc_partition_invariant(spark):
    from diabetes_etl_spark.operators.dedup import cdc_dedup_stats

    df = spark.createDataFrame(
        [(i, f"document number {i} " + "filler words here " * (i % 9))
         for i in range(40)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, cdc_dedup_stats(df).collect()))
    b = sorted(map(tuple, cdc_dedup_stats(df.repartition(11)).collect()))
    assert a == b


# -- winnowing fingerprints ----------------------------------------------------


def _winnow_ref(text, k=5, w=8, mod=1_000_000_007, pc=4096):
    n = len(text)
    grams = []
    for p in range(n - k + 1):
        h = 0
        for ch in text[p : p + k]:
            h = (h * 131 + ord(ch)) % mod
        grams.append(h * pc + (pc - 1) - (p % pc))
    if not grams:
        return set()
    sel = set()
    for i in range(max(1, len(grams) - w + 1)):
        sel.add(min(grams[i : i + w]))
    return {v // pc for v in sel}


def test_winnow_matches_python_reference(spark):
    from diabetes_etl_spark.operators.dedup import winnow_fingerprints

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "short"),     # exactly k: one gram, global min
        (2, "abc"),       # below k: nothing
        (3, "x" * 30),    # all-equal grams: rightmost-tie selection
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r.id, set()).add(r.fp)
    for i, t in texts:
        assert got.get(i, set()) == _winnow_ref(t), i


def test_winnow_moss_guarantee(spark):
    """Two documents sharing a substring of length >= w + k - 1 = 12
    MUST share at least one fingerprint, wherever it is embedded."""
    from diabetes_etl_spark.operators.dedup import winnow_fingerprints

    shared = "identicalrun12"  # 14 chars > 12
    df = spark.createDataFrame(
        [(0, "prefixAA " + shared + " suffixBB"),
         (1, "zzz " + shared + " qqq different")],
        "doc_id long, text string",
    )
    fps = {0: set(), 1: set()}
    for r in winnow_fingerprints(df).collect():
        fps[r.id].add(r.fp)
    assert fps[0] & fps[1]


def test_winnow_share_stats_and_partition_invariance(spark):
    from diabetes_etl_spark.operators.dedup import winnow_share_stats

    a_txt = "alpha beta gamma delta epsilon zeta" * 2
    df = spark.createDataFrame(
        [(0, a_txt), (1, a_txt), (2, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    rows = {r.id: r for r in winnow_share_stats(df).collect()}
    assert rows[0].sel_fp == rows[1].sel_fp
    assert rows[0].n_shared == rows[0].n_fps
    assert rows[2].n_shared == 0
    b = {r.id: r for r in
         winnow_share_stats(df.repartition(7)).collect()}
    assert {i: tuple(r) for i, r in rows.items()} == {
        i: tuple(r) for i, r in b.items()
    }


def test_docs_prep_v3_chain_semantics(spark, tmp_path):
    """End-to-end v3: the duplicate doc is suppressed (keep-first),
    the short doc fails the quality gate, survivors carry their
    language's epochs_used and a stable md5 shard."""
    from diabetes_etl_spark.plans.docsprep import docs_prep_pipeline_v3

    long_a = " ".join(f"tok{i}" for i in range(30))
    long_b = " ".join(f"other{i}" for i in range(30))
    rows = [
        (0, long_a, "en", "s", len(long_a)),
        (1, long_a, "en", "s", len(long_a)),      # exact dup -> dropped
        (2, long_b, "fr", "s", len(long_b)),
        (3, "too short", "en", "s", 9),           # quality-gated
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    d = str(tmp_path / "v3docs")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in docs_prep_pipeline_v3(spark, d).collect()}
    assert set(out) == {0, 2}
    assert 0 <= out[0].shard < 8
    assert out[0].n_subwords > 0
    assert out[0].lang_epochs_used <= 2.0 + 1e-9
    # determinism across partitionings
    out2 = {r.doc_id: tuple(r)
            for r in docs_prep_pipeline_v3(spark, d).collect()}
    assert out2 == {i: tuple(r) for i, r in out.items()}


# -- containment pairs -----------------------------------------------------------


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully embedded in a 6x-larger one: containment
    finds (small -> big) at 1.0 while the Jaccard of the pair is far
    below any dedup threshold."""
    from diabetes_etl_spark.operators.dedup import containment_pairs

    small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    big = small + " " + " ".join(f"filler{i}" for i in range(50))
    df = spark.createDataFrame(
        [(0, small), (1, big), (2, "unrelated words here entirely " * 3)],
        "doc_id long, text string",
    )
    out = {(r.doc_a, r.doc_b): r.containment
           for r in containment_pairs(df, threshold=0.8).collect()}
    assert out.get((0, 1)) == 1.0    # small contained in big
    assert (1, 0) not in out          # big NOT contained in small
    assert all(a != 2 and b != 2 for a, b in out)


def test_containment_df_cap_drops_stop_shingles(spark):
    """A shingle present in EVERY doc is capped out: two docs sharing
    only that shingle produce no pair."""
    from diabetes_etl_spark.operators.dedup import containment_pairs

    common = "the same five token shingle here"
    rows = [(i, common + f" unique{i} filler{i} extra{i} pad{i}")
            for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = containment_pairs(df, threshold=0.5, df_cap=20).collect()
    assert out == []  # the shared shingles exceed the df cap


def test_components_volatile_matches_durable(spark, tmp_path):
    """No-work_dir components (localCheckpoint rounds) must label
    exactly like the durable parquet-committed mode."""
    from diabetes_etl_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 1), (30, 30)],
        "src long, dst long",
    )
    durable = {
        r.id: r.component
        for r in connected_components(
            edges, work_dir=str(tmp_path / "cc")
        ).collect()
    }
    volatile = {
        r.id: r.component
        for r in connected_components(edges).collect()
    }
    assert volatile == durable
    assert volatile[3] == 1 and volatile[22] == 20 and volatile[30] == 30


def test_components_volatile_raises_when_not_converged(spark):
    from diabetes_etl_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2, auto_star=False)


def test_components_volatile_star_switch_high_diameter(spark):
    """The volatile loop keeps the auto star-switch: a long chain must
    still resolve (via the star fallback) instead of erroring."""
    from diabetes_etl_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    labels = {
        r.id: r.component
        for r in connected_components(chain, max_iter=8).collect()
    }
    assert set(labels.values()) == {0}
    assert len(labels) == 31


# -- near_dup_edges: one shingle pass, one Jaccard check ---------------------


def _pair_set(df) -> set[tuple[int, int]]:
    return {(r.doc_a, r.doc_b) for r in df.select("doc_a", "doc_b").collect()}


def _two_pass_edges(df) -> set[tuple[int, int]]:
    """The edge set as the union of the two separately verified pair
    sets (LSH pairs and length-band pairs)."""
    return _pair_set(
        DD.minhash_lsh_pairs(
            df, "doc_id", "text", n=5, num_hashes=32, bands=8, threshold=0.8
        )
    ) | _pair_set(DD.ngram_jaccard_pairs(df, "doc_id", "text", n=5))


def _python_nodes_after(spark, last_execution: int) -> int:
    """Python-worker plan nodes in the SQL executions after
    ``last_execution`` (final adaptive plans, from the status store)."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = 0
    it = store.executionsList().iterator()
    while it.hasNext():
        eid = it.next().executionId()
        if eid <= last_execution:
            continue
        nodes = store.planGraph(eid).allNodes()
        n += sum(
            "Python" in nodes.apply(i).name() or "Arrow" in nodes.apply(i).name()
            for i in range(nodes.size())
        )
    return n


def _last_execution(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    last = -1
    it = store.executionsList().iterator()
    while it.hasNext():
        last = max(last, it.next().executionId())
    return last


def test_near_dup_edges_equal_two_pass_union_on_fixture(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.count() <= DD.EXACT_EDGES_MAX_DOCS
    before = _last_execution(spark)
    edges = _pair_set(DD.near_dup_edges(docs))
    # the kernel runs once: one Python node across every execution the
    # edge set took (count, checkpoint, candidates + verification)
    assert _python_nodes_after(spark, before) == 1
    assert edges == _two_pass_edges(docs)
    assert edges and all(a < b for a, b in edges)


def test_near_dup_edges_keep_lsh_pair_that_length_bands_miss(spark):
    """Whitespace padding makes a Jaccard-1.0 pair differ by more than
    two length bands: LSH finds it, the band blocking cannot."""
    toks = [f"w{j:03d}" for j in range(60)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "   ".join(toks)), (3, "unrelated text")],
        "doc_id long, text string",
    )
    banded = _pair_set(DD.ngram_jaccard_pairs(df, "doc_id", "text", n=5))
    edges = _pair_set(DD.near_dup_edges(df))
    assert (1, 2) not in banded
    assert edges == {(1, 2)} == _two_pass_edges(df)


def test_near_dup_edges_keep_pair_across_band_boundary(spark):
    """Lengths 249 and 250 fall in bands 4 and 5 (width 50); the pair
    meets through the b+1 copy and its Jaccard is 41/51."""
    toks = [f"t{j:03d}" for j in range(50)]
    toks[0] += "x" * (249 - len(" ".join(toks)))
    a = " ".join(toks)
    b = a + "q"
    assert (len(a) // 50, len(b) // 50) == (4, 5)
    df = spark.createDataFrame(
        [(7, a), (9, b), (11, "something else entirely")],
        "doc_id long, text string",
    )
    edges = _pair_set(DD.near_dup_edges(df))
    assert edges == {(7, 9)} == _two_pass_edges(df)


# -- connected components: seeded round 0, observed change counts ------------


def _identity_seeded_labels(edges) -> dict[int, int]:
    """Reference min-label propagation from identity labels, with a
    filter-count convergence check per round."""
    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    sym = sym.union(sym.select("b", "a")).distinct().localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("id")).distinct()
        .withColumn("component", F.col("id")).localCheckpoint()
    )
    while True:
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy("a").agg(F.min("component").alias("m"))
        )
        new = labels.join(
            nbr_min.withColumnRenamed("a", "id"), "id", "left"
        ).select(
            "id",
            F.least("component", F.coalesce("m", "component")).alias("c2"),
            "component",
        ).localCheckpoint()
        if new.filter(F.col("c2") != F.col("component")).count() == 0:
            return {r.id: r.component for r in labels.collect()}
        labels = new.select("id", F.col("c2").alias("component"))


@pytest.mark.parametrize(
    "edge_list",
    [
        [(i, i + 1) for i in range(7)],  # chain
        [  # two 5-cliques bridged by one edge
            (a, b) for grp in (range(5), range(5, 10))
            for a in grp for b in grp if a < b
        ] + [(4, 5)],
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (4, 10), (20, 21), (30, 30)],
    ],
    ids=["chain", "bridged_cliques", "multi_component"],
)
def test_seeded_components_equal_identity_seeded_loop(spark, edge_list):
    from diabetes_etl_spark.operators.components import connected_components

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert got == _identity_seeded_labels(edges)


@pytest.mark.parametrize("durable", [False, True], ids=["volatile", "durable"])
def test_observed_changed_count_equals_filter_count(
    spark, tmp_path, monkeypatch, durable
):
    """Every round's changed count, taken by an Observation on the
    round's own materialization, equals a separate filter().count()."""
    from diabetes_etl_spark.operators.components import connected_components
    from diabetes_etl_spark.operators.iterstate import RoundStore

    seen = []
    orig = RoundStore.commit_observed

    def spy(self, k, df, **metrics):
        expected = df.filter(F.col("component") != F.col("prev")).count()
        state, observed = orig(self, k, df, **metrics)
        seen.append((k, observed["changed"], expected))
        return state, observed

    monkeypatch.setattr(RoundStore, "commit_observed", spy)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    labels = connected_components(
        chain,
        auto_star=False,
        work_dir=str(tmp_path / "cc") if durable else None,
    ).collect()
    assert {r.component for r in labels} == {0}
    assert len(seen) >= 3
    assert [k for k, _, _ in seen] == list(range(len(seen)))
    assert all(n == expected for _, n, expected in seen)
    assert seen[-1][1] == 0 and seen[0][1] > 0


@pytest.mark.parametrize("durable", [False, True], ids=["volatile", "durable"])
def test_components_on_empty_edge_set(spark, tmp_path, durable):
    """A corpus with no near-dup pair gives an empty edge set: the
    round-0 observation reads zero changes, the loop stops at once and
    no node is labelled."""
    import os

    from diabetes_etl_spark.operators.components import connected_components

    wd = str(tmp_path / "cc_empty") if durable else None
    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty, work_dir=wd).collect() == []
    if durable:
        assert os.path.exists(os.path.join(wd, "CONVERGED"))
        assert not os.path.exists(os.path.join(wd, "round_00001"))


def test_near_dup_edges_empty_on_corpus_without_duplicates(spark):
    from diabetes_etl_spark.operators.components import connected_components

    df = spark.createDataFrame(
        [
            (i, " ".join(f"d{i}w{j}" for j in range(40)))
            for i in range(1, 6)
        ],
        "doc_id long, text string",
    )
    edges = DD.near_dup_edges(df)
    assert edges.collect() == []
    assert connected_components(edges, "doc_a", "doc_b").collect() == []
