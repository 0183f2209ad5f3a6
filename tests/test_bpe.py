"""BPE tokenizer training (operators/bpe.py) — pinned against a
pure-Python reference implementation of the Sennrich et al. greedy
merge, including the adjacent-repeat case that breaks naive
string-replace merging."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame

from diabetes_etl_spark.operators.bpe import (
    apply_merge,
    symbolize_words,
    top_pair,
)


def bpe_train(
    df: DataFrame, n_merges: int, text_col: str = "text"
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``n_merges`` merges; returns (merge table, final word
    table).  One 1-row collect per step (the argmax — bounded driver
    traffic, like the IVF train sample); each step's rewrite is the
    same broadcast fold as :func:`apply_merge`, and the word table is
    cached between steps (it is the whole working set).

    The multi-step driver of the engine's merge kernels (the
    oracle-paired query runs a single step); it re-aggregates the full
    word table per merge."""
    words = symbolize_words(df, text_col).cache()
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        row = top_pair(words).collect()
        if not row or row[0].cnt is None:
            break
        a, b, cnt = row[0].a, row[0].b, int(row[0].cnt)
        merges.append((a, b, cnt))
        nxt = apply_merge(
            words, words.sparkSession.createDataFrame(
                [(a, b)], "a string, b string"
            )
        ).cache()
        nxt.count()  # materialize before uncaching the parent
        words.unpersist()
        words = nxt
    return merges, words


def _ref_bpe(texts: list[str], n_merges: int):
    """Reference BPE: word counts -> repeated (pair argmax, greedy
    left-to-right merge)."""
    words = Counter(w for t in texts for w in t.split() if w)
    syms = {w: list(w) for w in words}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, n in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += n
        if not pairs:
            break
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, cnt))
        for w in syms:
            s, out = syms[w], []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


_TEXTS = [
    "low low low lower lowest",
    "new newer newest new",
    "aaaa aaa aa baaab",  # adjacent repeats: the string-replace killer
]


def test_bpe_train_matches_reference(spark):
    df = spark.createDataFrame([(t,) for t in _TEXTS], "text string")
    merges, words = bpe_train(df, 5)
    ref_merges, ref_syms = _ref_bpe(_TEXTS, 5)
    assert merges == ref_merges
    got = {r.word: r.sym.split(" ") for r in words.collect()}
    assert got == ref_syms


def test_symbolize_words_counts_and_spelling(spark):
    df = spark.createDataFrame([("ab ab c",)], "text string")
    rows = {r.word: (r.n, r.sym) for r in symbolize_words(df).collect()}
    assert rows == {"ab": (2, "a b"), "c": (1, "c")}


def test_bpe_train_partition_invariant(spark):
    df = spark.createDataFrame([(t,) for t in _TEXTS * 4], "text string")
    m1, _ = bpe_train(df, 3)
    m2, _ = bpe_train(df.repartition(7), 3)
    assert m1 == m2


# -- delta-maintained training (round-7) ------------------------------------


# -- in-plan encode (round-7) -----------------------------------------------


def _ref_encode(word, merges):
    s = list(word)
    for a, b in merges:
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    return s


def test_bpe_encode_words_matches_reference(spark):
    from pyspark.sql import functions as F

    from diabetes_etl_spark.operators.bpe import bpe_encode_words

    merges = [("j", "o"), ("i", "n"), ("jo", "in"), ("a", "a")]
    words = ["join", "joining", "rejoin", "in", "jo", "aaaa", "banana"]
    df = spark.createDataFrame([(w,) for w in words], "word string").withColumn(
        "sym", F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 "))
    )
    got = {r.word: r.sym.split(" ") for r in bpe_encode_words(df, merges).collect()}
    for w in words:
        assert got[w] == _ref_encode(w, merges), w
    assert got["join"] == ["join"]  # two-level merge composes
    assert got["aaaa"] == ["aa", "aa"]  # greedy left-to-right on repeats


def test_bpe_subtoken_stats_counts(spark):
    from diabetes_etl_spark.operators.bpe import bpe_subtoken_stats

    df = spark.createDataFrame(
        [(1, "join in jo"), (2, "order order")],
        "doc_id long, text string",
    )
    merges = [("j", "o"), ("i", "n"), ("jo", "in"), ("o", "r"), ("or", "d")]
    out = {r.doc_id: (r.n_tokens, r.n_subtokens) for r in bpe_subtoken_stats(df, merges).collect()}
    # join->1, in->1, jo->1 subtokens; order -> or d e r? no: (o,r)->or,
    # (or,d)->ord => o r d e r -> or d e r -> ord e r = 3 subtokens
    assert out[1] == (3, 3)
    assert out[2] == (2, 6)
