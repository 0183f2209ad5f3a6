"""Bigram language-model scoring (operators/text.py:bigram_lm_score)
unit tests on a hand-computable corpus."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.text import bigram_lm_score, doc_bigrams


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_doc_bigrams_shifted_pairs(spark):
    bg = doc_bigrams(_docs(spark, [(1, "x y z")])).collect()
    assert sorted((r.w1, r.w2) for r in bg) == [("x", "y"), ("y", "z")]


def test_doc_bigrams_short_docs_contribute_nothing(spark):
    bg = doc_bigrams(_docs(spark, [(1, "solo"), (2, "")])).collect()
    assert bg == []


def test_bigram_lm_score_hand_case(spark):
    # corpus: c(a,b)=3 c(b,a)=1 c(b,c)=1; c1(a)=3 c1(b)=2
    out = {
        r.id: r
        for r in bigram_lm_score(
            _docs(spark, [(1, "a b a b"), (2, "a b c")])
        ).collect()
    }
    d1, d2 = out[1], out[2]
    assert d1.n_bigrams == 3 and d2.n_bigrams == 2
    # doc1: mean(1.0, 0.5, 1.0); doc2: mean(1.0, 0.5)
    assert abs(d1.avg_cond_prob - 2.5 / 3) < 1e-12
    assert abs(d2.avg_cond_prob - 0.75) < 1e-12
    # rare = corpus count <= 2: (b,a) and (b,c) only
    assert abs(d1.rare_bigram_frac - 1 / 3) < 1e-12
    assert abs(d2.rare_bigram_frac - 0.5) < 1e-12


def test_bigram_lm_partition_invariant_bit_identical(spark):
    rows = [(i, f"w{i % 5} w{(i * 3) % 7} w{i % 5} end") for i in range(40)]
    a = sorted(map(tuple, bigram_lm_score(_docs(spark, rows)).collect()))
    b = sorted(
        map(
            tuple,
            bigram_lm_score(_docs(spark, rows).repartition(11)).collect(),
        )
    )
    assert a == b


# -- inverted index (round-8) -----------------------------------------------


def test_inverted_postings_chunking_merges_to_unchunked(spark):
    """Sharded postings (max_postings_per_row) must cover exactly the
    unchunked posting lists: per term, chunks are disjoint doc-id
    ranges in ascending order whose concatenation equals the full
    sorted postings."""
    from diabetes_etl_spark.operators.invindex import inverted_postings

    docs = spark.createDataFrame(
        [(i, "alpha beta" if i % 2 else "alpha gamma") for i in range(20)],
        "doc_id long, text string",
    )
    full = {
        r.term: r.postings
        for r in inverted_postings(docs).collect()
    }
    chunked = inverted_postings(docs, max_postings_per_row=3).collect()
    assert all(len(r.postings) <= 3 for r in chunked)
    merged: dict[str, list] = {}
    for r in sorted(chunked, key=lambda r: (r.term, r.chunk_idx)):
        merged.setdefault(r.term, []).extend(r.postings)
    assert merged == full
    # chunks are ascending disjoint ranges
    for r in sorted(chunked, key=lambda r: (r.term, r.chunk_idx)):
        assert r.postings == sorted(r.postings)
        assert r.doc_lo == r.postings[0] and r.doc_hi == r.postings[-1]


def test_conjunctive_search_requires_all_terms(spark):
    from diabetes_etl_spark.operators.invindex import conjunctive_search

    docs = spark.createDataFrame(
        [
            (1, "spark join shuffle"),
            (2, "spark join"),
            (3, "join shuffle spark extra"),
            (4, "shuffle only"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r.doc_id
        for r in conjunctive_search(docs, ["spark", "JOIN", "shuffle"]).collect()
    )
    assert got == [1, 3]  # case-folded; duplicates in query collapse
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one term"):
        conjunctive_search(docs, [])


def test_phrase_search_exact_adjacency_and_repeats(spark):
    from diabetes_etl_spark.operators.invindex import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "big table scan"),           # match at 0
            (2, "table big scan"),           # reversed: no match
            (3, "big x table"),              # gap: no match
            (4, "big table big table"),      # two matches
            (5, "the big table"),            # match at 1
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_matches
           for r in phrase_search(docs, ["big", "table"]).collect()}
    assert got == {1: 1, 4: 2, 5: 1}

    # repeated term in the phrase: "big big" must need TWO consecutive
    # occurrences, not one occurrence voting twice
    got2 = {r.doc_id: r.n_matches
            for r in phrase_search(docs, ["big", "big"]).collect()}
    assert got2 == {}
    docs2 = spark.createDataFrame(
        [(9, "big big big")], "doc_id long, text string"
    )
    got3 = {r.doc_id: r.n_matches
            for r in phrase_search(docs2, ["big", "big"]).collect()}
    assert got3 == {9: 2}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least 2"):
        phrase_search(docs, ["big"])


# -- Zipf profile ------------------------------------------------------------


def test_zipf_profile_recovers_known_slope(spark, sf_dir, monkeypatch):
    """A synthetic corpus with exact power-law counts n(r) = C / r
    must fit slope ~ -1."""
    from diabetes_etl_spark.plans.registry import all_queries
    import math

    # build docs where token t_r appears round(1200/r) times
    words = []
    for r in range(1, 41):
        words += [f"t{r:02d}"] * round(1200 / r)
    text = " ".join(words)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")

    import diabetes_etl_spark.plans.textplans as TP

    # every plan module binds load_table at import: import them all
    # first, then patch only the name the query under test reads
    fn = all_queries(include_extended=True)["text_zipf_profile"].fn
    monkeypatch.setattr(TP, "load_table", lambda s, d, name: docs)
    row = fn(spark, "unused").collect()[0]
    assert row.vocab_size == 40
    assert row.total_tokens == sum(round(1200 / r) for r in range(1, 41))
    assert math.isclose(row.zipf_slope, -1.0, abs_tol=0.05)


def test_heaps_growth_cumulative_and_sublinear(spark, sf_dir):
    """Cumulative columns must be monotone, the final cum_vocab equals
    the corpus vocabulary, and the fixture corpus (small shared vocab)
    must show strongly sublinear vocabulary growth."""
    from diabetes_etl_spark.plans.registry import all_queries
    from diabetes_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    import diabetes_etl_spark.operators.text as TX

    rows = (
        all_queries(include_extended=True)["text_heaps_growth"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert [r.bucket for r in rows] == sorted(r.bucket for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert b.cum_tokens > a.cum_tokens
        assert b.cum_vocab >= a.cum_vocab
    docs = load_table(spark, sf_dir, "documents")
    true_vocab = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("w"))
        .distinct()
        .count()
    )
    assert rows[-1].cum_vocab == true_vocab
    # sublinear: the last decile adds tokens but (here) almost no vocab
    assert rows[-1].new_vocab <= rows[0].new_vocab


# -- Kneser-Ney smoothed bigram LM (round-8) --------------------------------


def test_kn_lm_score_hand_case(spark):
    from diabetes_etl_spark.operators.text import kn_bigram_lm_score

    # c2: (a,b)=3 (b,a)=1 (b,c)=1; c1: a=3(fw 1) b=2(fw 2);
    # bw: a=1 b=1 c=1; T=3 types -> every p_cont = 1/3
    out = {
        r.id: r
        for r in kn_bigram_lm_score(
            _docs(spark, [(1, "a b a b"), (2, "a b c")])
        ).collect()
    }
    d1, d2 = out[1], out[2]
    # p_kn(b|a) = (3-.75)/3 + (.75*1/3)*(1/3) = 5/6
    # p_kn(a|b) = p_kn(c|b) = (1-.75)/2 + (.75*2/2)*(1/3) = 3/8
    assert abs(d1.avg_kn_prob - (5 / 6 + 3 / 8 + 5 / 6) / 3) < 1e-11
    assert abs(d2.avg_kn_prob - (5 / 6 + 3 / 8) / 2) < 1e-11
    assert abs(d1.avg_cont_prob - 1 / 3) < 1e-11
    assert abs(d2.avg_cont_prob - 1 / 3) < 1e-11


def test_kn_lm_is_proper_distribution(spark):
    """For every history w1, the seen-bigram mass plus the backoff
    mass over ALL continuation types must sum to exactly 1 — the
    defining property of interpolated KN."""
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.text import doc_bigrams

    rows = [(i, f"w{i % 4} w{(i * 3) % 5} w{i % 3} x end") for i in range(30)]
    bg = doc_bigrams(_docs(spark, rows))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("cnt2"))
    c1 = c2.groupBy("w1").agg(
        F.sum("cnt2").alias("cnt1"), F.count("*").alias("fw")
    )
    t_types = c2.count()
    # seen mass per w1 + d*fw/c1 * (sum of p_cont over all types == 1)
    for r in (
        c2.groupBy("w1")
        .agg(F.sum(F.col("cnt2") - 0.75).alias("num"))
        .join(c1, "w1")
        .collect()
    ):
        total = r.num / r.cnt1 + 0.75 * r.fw / r.cnt1 * (
            sum(
                b.bw / t_types
                for b in c2.groupBy("w2")
                .agg(F.count("*").alias("bw"))
                .collect()
            )
        )
        assert abs(total - 1.0) < 1e-9


def test_kn_lm_partition_invariant_bit_identical(spark):
    from diabetes_etl_spark.operators.text import kn_bigram_lm_score

    rows = [(i, f"w{i % 5} w{(i * 3) % 7} w{i % 5} end") for i in range(40)]
    a = sorted(map(tuple, kn_bigram_lm_score(_docs(spark, rows)).collect()))
    b = sorted(
        map(
            tuple,
            kn_bigram_lm_score(
                _docs(spark, rows).repartition(11)
            ).collect(),
        )
    )
    assert a == b


# -- ROUGE / BLEU pairwise overlap -------------------------------------------
#
# text_rouge_bleu_pairs computes clipped n-gram overlap by joining
# per-document count tables; the per-row lambda below is the reference
# it is checked against.


def _clipped_overlap(ref_grams: Column, cand_grams: Column) -> Column:
    """Sum over distinct candidate n-grams of min(count-in-ref,
    count-in-cand) — the clipped modified-precision numerator."""
    return F.aggregate(
        F.array_distinct(cand_grams),
        F.lit(0),
        lambda acc, g: acc
        + F.least(
            F.size(F.filter(ref_grams, lambda x: x == g)),
            F.size(F.filter(cand_grams, lambda x: x == g)),
        ),
    )


def test_ngram_count_table_matches_counter(spark):
    from collections import Counter

    from diabetes_etl_spark.operators.text import ngram_count_table

    rows = [(1, "a b a b c"), (2, "z z"), (3, "q")]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        (r.id, r.gram): r.cnt
        for r in ngram_count_table(df, "text", 2, ["id"]).collect()
    }
    want = {}
    for i, t in rows:
        toks = t.split()
        grams = (
            [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
            if len(toks) > 1 else [toks[0]]
        )
        for g, c in Counter(grams).items():
            want[(i, g)] = c
    assert got == want


def test_distributed_overlap_equals_clipped_lambda(spark):
    """The explode/join overlap used by the corpus query must equal
    the per-row clipped lambda for every n."""
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.text import (
        ngram_count_table,
        ngrams_with_duplicates,
    )

    rows = [
        (1, "a b a c", "a a b d"),
        (2, "x y", "x y x y"),
        (3, "p q r", "s t"),
    ]
    df = spark.createDataFrame(rows, "id long, ref string, cand string")
    lam = {
        r.id: r.ov
        for r in df.select(
            "id",
            _clipped_overlap(
                ngrams_with_duplicates(F.col("ref"), 2),
                ngrams_with_duplicates(F.col("cand"), 2),
            ).alias("ov"),
        ).collect()
    }
    c = ngram_count_table(df, "cand", 2, ["id"])
    r = ngram_count_table(df, "ref", 2, ["id"]).withColumnRenamed(
        "cnt", "cnt_r"
    )
    dist = {
        x.id: x.ov
        for x in c.join(r, ["id", "gram"])
        .groupBy("id")
        .agg(F.sum(F.least(F.col("cnt"), F.col("cnt_r"))).alias("ov"))
        .collect()
    }
    for i in lam:
        assert lam[i] == dist.get(i, 0), i


# -- proximity search ---------------------------------------------------------


def test_proximity_search_window_and_counts(spark):
    import pytest as _pytest

    from diabetes_etl_spark.operators.invindex import proximity_search

    rows = [
        (0, "cat x x x dog"),          # dist 4: within 5
        (1, "cat x x x x x dog"),      # dist 6: out
        (2, "dog cat dog"),            # two pairs, dists 1 and 1
        (3, "cat only here"),          # no dog
        (4, "dog x cat x dog cat"),    # several pairs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_pairs, r.min_dist) for r in
           proximity_search(df, "cat", "dog", window=5).collect()}
    assert out[0] == (1, 4)
    assert 1 not in out
    assert out[2] == (2, 1)
    assert 3 not in out
    # doc 4 positions: dog 0,4; cat 2,5 -> pairs (0,2)=2,(4,2)=2,(4,5)=1,
    # (0,5)=5 -> 4 pairs, min 1
    assert out[4] == (4, 1)
    with _pytest.raises(ValueError, match="distinct"):
        proximity_search(df, "cat", "CAT")


def test_proximity_bucketing_counts_each_pair_once(spark):
    """Pairs straddling bucket boundaries must count exactly once —
    brute-force comparison over random docs."""
    import random

    from diabetes_etl_spark.operators.invindex import proximity_search

    rnd = random.Random(5)
    rows = []
    for i in range(30):
        toks = [rnd.choice(["a", "b", "x", "y"]) for _ in range(40)]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_pairs, r.min_dist) for r in
           proximity_search(df, "a", "b", window=4).collect()}
    for i, t in rows:
        toks = t.split()
        pa = [p for p, w in enumerate(toks) if w == "a"]
        pb = [p for p, w in enumerate(toks) if w == "b"]
        pairs = [(x, y) for x in pa for y in pb if abs(x - y) <= 4]
        if pairs:
            assert got[i] == (len(pairs),
                              min(abs(x - y) for x, y in pairs)), i
        else:
            assert i not in got, i


# -- feature hashing -----------------------------------------------------------


def test_hashed_bow_matches_python_reference(spark):
    from diabetes_etl_spark.operators.text import hashed_bow

    def pth(tok):
        h1, h2 = 7, 13
        for ch in tok:
            h1 = (h1 * 131 + ord(ch)) % 1_000_000_007
            h2 = (h2 * 137 + ord(ch)) % 999_999_937
        f1 = (h1 * 2654435761 + h2) % 1_000_000_007
        f2 = (h2 * 2246822519 + h1) % 999_999_937
        return f1 * (1 << 30) + f2

    rows = [(0, "alpha beta alpha gamma"), (1, "beta"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in hashed_bow(df, n_buckets=32).collect():
        got.setdefault(r.id, {})[r.bucket] = r.val
    for i, t in rows:
        want = {}
        for tok in t.split():
            h = pth(tok)
            b, s = h % 32, (1 if (h // 32) % 2 == 0 else -1)
            want[b] = want.get(b, 0) + s
        want = {b: v for b, v in want.items() if v != 0}
        assert got.get(i, {}) == want, i


def test_hashed_bow_fixed_width_and_invariance(spark):
    from diabetes_etl_spark.operators.text import hashed_bow

    df = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(i + 1))) for i in range(50)],
        "doc_id long, text string",
    )
    out = hashed_bow(df, n_buckets=16)
    from pyspark.sql import functions as F

    assert out.agg(F.max("bucket")).collect()[0][0] < 16
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, hashed_bow(df.repartition(7), n_buckets=16).collect()))
    assert a == b


# -- Chao1 vocabulary estimator -------------------------------------------------


def test_chao1_known_values(spark, tmp_path):
    """Corpus with known frequency-of-frequencies: tokens a(x3), b(x2),
    c(x1), d(x1) -> D=4, f1=2, f2=1, chao1 = 4 + 4/2 = 6."""
    import tempfile

    from diabetes_etl_spark.plans.textplans import text_chao1_vocabulary

    df = spark.createDataFrame(
        [(0, "a a b c", "en", "s", 7), (1, "a b d", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    d = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    r = text_chao1_vocabulary(spark, d).collect()[0]
    assert (r.observed_vocab, r.singletons, r.doubletons, r.n_tokens) == (
        4, 2, 1, 7,
    )
    assert r.chao1_est == 6.0


def test_chao1_no_doubletons_guard(spark, tmp_path):
    """f2 = 0 must not divide by zero (greatest(f2,1) floor)."""
    from diabetes_etl_spark.plans.textplans import text_chao1_vocabulary

    df = spark.createDataFrame(
        [(0, "x y z", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    d = str(tmp_path / "docs2")
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    r = text_chao1_vocabulary(spark, d).collect()[0]
    assert r.doubletons == 0
    assert r.chao1_est == 3 + 9 / 2.0


# -- trained language ID (Naive Bayes) -----------------------------------------


def test_nb_langid_separates_clear_languages(spark):
    """Two synthetic languages with disjoint vocabulary: the trained
    NB model must classify every doc correctly."""
    from diabetes_etl_spark.operators.text import nb_langid_confusion

    rows = []
    for i in range(10):
        rows.append((i, f"aaa bbb aab abb ba{i % 3} abab", "aa"))
        rows.append((100 + i, f"xxx yyy xxy xyy yx{i % 3} xyxy", "xx"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {(r.label, r.predicted): r.n_docs
           for r in nb_langid_confusion(df).collect()}
    assert out == {("aa", "aa"): 10, ("xx", "xx"): 10}


def test_nb_langid_beats_majority_baseline(spark, sf_dir):
    """The fixture's lang labels carry almost no textual signal
    (docstring honesty note) — but a trained model must still BEAT
    the predict-the-majority baseline, else it learned nothing."""
    from diabetes_etl_spark.operators.text import nb_langid_confusion
    from diabetes_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    rows = nb_langid_confusion(docs).collect()
    total = sum(r.n_docs for r in rows)
    correct = sum(r.n_docs for r in rows if r.label == r.predicted)
    majority = max(
        r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    )
    assert correct > majority, (correct, majority, total)


def test_nb_langid_partition_invariant(spark, sf_dir):
    from diabetes_etl_spark.operators.text import nb_langid_confusion
    from diabetes_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, nb_langid_confusion(docs).collect()))
    b = sorted(map(tuple,
                   nb_langid_confusion(docs.repartition(17)).collect()))
    assert a == b


def test_char_entropy_known_distributions(spark, tmp_path):
    """Hand-checkable entropies: single repeated char -> 0 bits; a
    4-char uniform string -> exactly 2 bits; 'ab' -> 1 bit; the
    512-char cap binds on a long doc."""
    import duckdb  # noqa: F401  (parity checked by the oracle audit)

    from diabetes_etl_spark.plans.textplans import text_char_entropy

    docs = spark.createDataFrame(
        [
            (0, "aaaaaaaa", "en", "s", 8),
            (1, "abcdabcd", "en", "s", 8),
            (2, "ab", "en", "s", 2),
            (3, "xy" * 600, "en", "s", 1200),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "ent")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in text_char_entropy(spark, d).collect()}
    assert out[0].entropy_bits == 0.0 and out[0].n_distinct_chars == 1
    assert abs(out[1].entropy_bits - 2.0) < 1e-8
    assert abs(out[2].entropy_bits - 1.0) < 1e-8
    assert out[3].n_chars_used == 512  # cap binds
    assert abs(out[3].entropy_bits - 1.0) < 1e-8


# -- Cohen's kappa (round 9) -------------------------------------------------


def _kappa_of(spark, pairs):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    p = spark.createDataFrame(pairs, "label string, pred string")
    ct = p.groupBy("label", "pred").agg(F.count(F.lit(1)).alias("n"))
    m = ct.select(
        "label", "pred", "n",
        F.sum("n").over(Window.partitionBy("label")).alias("rl"),
        F.sum("n").over(Window.partitionBy("pred")).alias("cp"),
        F.sum("n").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("nt"),
    )
    s = m.agg(
        F.max("nt").alias("nt"),
        F.sum(F.when(F.col("label") == F.col("pred"), F.col("n"))
              .otherwise(0)).alias("agree"),
        F.sum(F.when(F.col("label") == F.col("pred"),
                     F.col("rl") * F.col("cp")).otherwise(0))
        .alias("chance"),
    ).collect()[0]
    po = s["agree"] / s["nt"]
    pe = s["chance"] / s["nt"] ** 2
    return (po - pe) / (1 - pe)


def test_kappa_perfect_agreement_is_one(spark):
    pairs = [("en", "en")] * 5 + [("fr", "fr")] * 5
    assert abs(_kappa_of(spark, pairs) - 1.0) < 1e-12


def test_kappa_majority_guessing_is_zero_not_accuracy(spark):
    # rater always predicts 'en'; labels 80% en -> accuracy 0.8 but
    # kappa must be exactly 0 (prediction independent of label)
    pairs = [("en", "en")] * 8 + [("fr", "en")] * 2
    assert abs(_kappa_of(spark, pairs)) < 1e-12


def test_kappa_query_bounds_on_fixture(spark, sf_dir):
    from diabetes_etl_spark.plans import all_queries

    r = all_queries(include_extended=True)["text_langid_kappa"].fn(
        spark, sf_dir
    ).collect()[0]
    assert 0.0 <= r["po"] <= 1.0 and 0.0 < r["pe"] < 1.0
    assert -1.0 <= r["kappa"] <= 1.0
    assert abs(r["kappa"] - (r["po"] - r["pe"]) / (1 - r["pe"])) < 1e-6
