"""Round-14 optimization parity tests: every operator internal changed
this round is pinned against its previous (Column-form)
implementation — same values, same rows, bit-identical where the
contract is bit-exact."""

from __future__ import annotations

from pyspark.sql import functions as F


# -- Arrow shingle kernel: keep_cols / with_fp / id_col=None -----------------


def test_shingle_frame_fp_matches_fingerprint_expr(spark):
    """with_fp=True must produce text.fingerprint(g) for every shingle
    string, including non-ASCII codepoints (Spark's ascii() is the
    Unicode code point — probed round-14 and pinned here)."""
    from diabetes_etl_spark.operators.dedup import shingle_frame
    from diabetes_etl_spark.operators.text import fingerprint, word_shingles

    rows = [
        (0, "a b c d e f g h a b c d e f g h"),
        (1, ""),
        (2, "héllo wörld ünïcode tokens here and more"),
        (3, "中文 分词 测试 one two three four"),
        (4, "tok1 tok2 tok3 tok4 tok5 tok6"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {
        (r.doc_id, r.g): r.fp
        for r in df.select(
            "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("g")
        )
        .select("doc_id", "g", fingerprint("g").alias("fp"))
        .collect()
    }
    got = {
        (r.doc_id, r.g): r.fpv
        for r in shingle_frame(df, "doc_id", "text", 3, with_fp=True)
        .select(
            "doc_id", F.explode(F.arrays_zip("sh", "fp")).alias("z")
        )
        .select(
            "doc_id",
            F.col("z.sh").alias("g"),
            F.col("z.fp").alias("fpv"),
        )
        .collect()
    }
    assert got == expected


def test_shingle_frame_keep_cols_and_no_id(spark):
    """keep_cols pass through untouched (values and nulls), and
    id_col=None emits only the passthrough + shingle columns."""
    from diabetes_etl_spark.operators.dedup import shingle_frame
    from diabetes_etl_spark.operators.text import word_shingles

    rows = [
        (0, "en", "a b c d e f"),
        (1, None, "x y z"),
        (2, "fr", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = shingle_frame(df, "doc_id", "text", 2, keep_cols=("lang",))
    assert out.columns == ["doc_id", "lang", "sh"]
    got = {(r.doc_id, r.lang): r.sh for r in out.collect()}
    exp = {
        (r.doc_id, r.lang): r.sh
        for r in df.select(
            "doc_id", "lang", word_shingles(F.col("text"), 2).alias("sh")
        ).collect()
    }
    assert got == exp

    no_id = shingle_frame(df, None, "text", 2, keep_cols=("lang",))
    assert no_id.columns == ["lang", "sh"]
    key = lambda t: (t[0] is None, t[0] or "", t[1])  # noqa: E731
    assert sorted(
        ((r.lang, tuple(r.sh)) for r in no_id.collect()), key=key
    ) == sorted(
        ((lang, tuple(sh)) for (_, lang), sh in exp.items()), key=key
    )


# -- decontamination through the kernel --------------------------------------


def test_contamination_hits_matches_column_form(spark, sf_dir):
    """contamination_hits (now kernel-shingled) must produce exactly
    the rows the round-13 Column form produced on the fixture."""
    from diabetes_etl_spark.operators.decontam import contamination_hits
    from diabetes_etl_spark.operators.text import word_shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    n = 5
    # the round-13 Column-form implementation, inlined verbatim
    old_bench = bench.select(
        F.explode(word_shingles(F.col("text"), n)).alias("g")
    ).distinct()
    old_grams = corpus.select(
        F.col("doc_id"),
        F.explode(word_shingles(F.col("text"), n)).alias("g"),
    )
    old = {
        r.doc_id: r.n_hit_grams
        for r in old_grams.join(F.broadcast(old_bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_grams"))
        .collect()
    }
    new = {
        r.doc_id: r.n_hit_grams
        for r in contamination_hits(corpus, bench, n=n).collect()
    }
    assert new == old
    assert len(new) > 0  # the fixture has real contamination


def test_ngram_jaccard_pairs_matches_column_form(spark, sf_dir):
    """ngram_jaccard_pairs (kernel verification side + JVM-only band
    side) returns exactly the round-13 pair set with equal scores."""
    from diabetes_etl_spark.operators.dedup import ngram_jaccard_pairs
    from diabetes_etl_spark.operators.text import jaccard, word_shingles
    from diabetes_etl_spark.operators.util import widen

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = {
        (r.doc_a, r.doc_b): r.jaccard_sim
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=5, threshold=0.8
        ).collect()
    }
    # round-13 form, inlined
    base = widen(docs).select(
        F.col("doc_id"),
        word_shingles(F.col("text"), 5).alias("sh"),
        F.length(F.col("text")).cast("long").alias("len"),
    )
    banded = base.select(
        "doc_id", F.expr("len div 50").alias("band")
    ).unionAll(
        base.select("doc_id", (F.expr("len div 50") + 1).alias("band"))
    )
    cand = (
        banded.select(F.col("doc_id").alias("doc_a"), "band")
        .join(banded.select(F.col("doc_id").alias("doc_b"), "band"), ["band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    old = {
        (r.doc_a, r.doc_b): r.jaccard_sim
        for r in cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn(
            "jaccard_sim",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6),
        )
        .filter(F.col("jaccard_sim") >= 0.8)
        .select("doc_a", "doc_b", "jaccard_sim")
        .collect()
    }
    assert new == old


# -- winnowing: numpy kernel vs the round-13 Column form ---------------------


def test_winnow_kernel_matches_column_form(spark):
    """The numpy winnowing kernel must select EXACTLY the (id, fp,
    pos) set the hoisted-array Column form selected — corners: NULL
    text, empty text, shorter-than-k, shorter-than-window (global
    min), tie positions (repeated grams), non-ASCII codepoints."""
    from diabetes_etl_spark.operators.dedup import winnow_fingerprints

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, None),
        (2, ""),
        (3, "ab"),
        (4, "abcdefg"),
        (5, "aaaaaaaaaaaaaaaaaaaaaaaa"),
        (6, "héllo wörld ünïcode 𝄞 clef and more text here"),
        (7, "abcabcabcabcabcabcabcabc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k, window = 5, 8
    new = {
        (r.id, r.fp, r.pos)
        for r in winnow_fingerprints(df, "doc_id", "text", k, window).collect()
    }
    # round-13 Column form, inlined verbatim
    mod, cap = 1_000_000_007, 4096
    codes = "transform(split(text, ''), ch -> ascii(ch))"
    gram = (
        f"aggregate(slice(__codes, p, {k}), 0L, "
        f"(acc, x) -> (acc * 131 + x) % {mod})"
    )
    grams = (
        f"CASE WHEN size(__codes) >= {k} THEN "
        f"transform(sequence(1, size(__codes) - {k - 1}), p -> {gram}) "
        f"ELSE array() END"
    )
    packed = (
        f"CASE WHEN size(__grams) = 0 THEN array() ELSE "
        f"transform(sequence(1, size(__grams)), "
        f"p -> element_at(__grams, p) * {cap}L "
        f"+ {cap - 1} - (p - 1) % {cap}) END"
    )
    n_win = f"greatest(size(__packed) - {window - 1}, 1)"
    selected = (
        f"CASE WHEN size(__packed) = 0 THEN array() ELSE "
        f"array_distinct(transform(sequence(1, {n_win}), "
        f"i -> array_min(slice(__packed, i, {window})))) END"
    )
    old = {
        (r.id, r.fp, r.pos)
        for r in df.select(
            F.col("doc_id").alias("id"), F.expr(codes).alias("__codes")
        )
        .select("id", F.expr(grams).alias("__grams"))
        .select("id", F.expr(packed).alias("__packed"))
        .select("id", F.explode(F.expr(selected)).alias("v"))
        .select(
            "id",
            F.expr(f"v div {cap}").alias("fp"),
            (F.lit(cap - 1) - F.col("v") % cap).cast("int").alias("pos"),
        )
        .collect()
    }
    assert new == old
    assert any(r[0] == 5 for r in new)  # tie-heavy doc still selects


def test_winnow_kernel_matches_column_form_fixture(spark, sf_dir):
    """Same parity over the real document fixture (every organic text
    shape at sf0.001)."""
    from diabetes_etl_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = {
        (r.id, r.fp, r.pos)
        for r in winnow_fingerprints(docs, "doc_id", "text", 5, 8).collect()
    }
    mod, cap, k, window = 1_000_000_007, 4096, 5, 8
    codes = "transform(split(text, ''), ch -> ascii(ch))"
    gram = (
        f"aggregate(slice(__codes, p, {k}), 0L, "
        f"(acc, x) -> (acc * 131 + x) % {mod})"
    )
    grams = (
        f"CASE WHEN size(__codes) >= {k} THEN "
        f"transform(sequence(1, size(__codes) - {k - 1}), p -> {gram}) "
        f"ELSE array() END"
    )
    packed = (
        f"CASE WHEN size(__grams) = 0 THEN array() ELSE "
        f"transform(sequence(1, size(__grams)), "
        f"p -> element_at(__grams, p) * {cap}L "
        f"+ {cap - 1} - (p - 1) % {cap}) END"
    )
    n_win = f"greatest(size(__packed) - {window - 1}, 1)"
    selected = (
        f"CASE WHEN size(__packed) = 0 THEN array() ELSE "
        f"array_distinct(transform(sequence(1, {n_win}), "
        f"i -> array_min(slice(__packed, i, {window})))) END"
    )
    old = {
        (r.id, r.fp, r.pos)
        for r in docs.select(
            F.col("doc_id").alias("id"), F.expr(codes).alias("__codes")
        )
        .select("id", F.expr(grams).alias("__grams"))
        .select("id", F.expr(packed).alias("__packed"))
        .select("id", F.explode(F.expr(selected)).alias("v"))
        .select(
            "id",
            F.expr(f"v div {cap}").alias("fp"),
            (F.lit(cap - 1) - F.col("v") % cap).cast("int").alias("pos"),
        )
        .collect()
    }
    assert new == old


# -- exact_kth: fused bracket + magnitude-bin first descent ------------------


def test_exact_kth_fused_bracket_mixed_signs(spark):
    """The round-14 magnitude-bin bracket must stay exact across
    negatives, zero, subnormal-ish magnitudes and wide ranges — the
    regions where an exponent-keyed walk could misorder bins."""
    from diabetes_etl_spark.operators.selection import exact_kth

    vals = (
        [-(1.5**i) for i in range(40)]
        + [0.0, -0.0]
        + [1e-300, -1e-300, 2.5e17, -3.75e17]
        + [float((i * 48271) % 101) - 50.0 for i in range(400)]
    )
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    s = sorted(vals)
    for k in (1, 2, 40, 223, len(vals) - 1, len(vals)):
        v, _ = exact_kth(df, "x", k, buckets=32, threshold=8)
        assert v == s[k - 1], k


def test_exact_kth_fused_bracket_saturates_infinities(spark):
    from diabetes_etl_spark.operators.selection import exact_kth

    vals = [float("-inf"), -1.0, 0.0, 1.0, float("inf"), 7.0, 7.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    s = sorted(vals)
    for k in range(1, len(vals) + 1):
        v, _ = exact_kth(df, "x", k, buckets=8, threshold=2)
        assert v == s[k - 1], k
