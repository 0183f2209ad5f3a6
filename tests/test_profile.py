"""Column profiler (operators/profile.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from diabetes_etl_spark.operators.profile import profile_table


def _rows_by_col(df):
    return {r["column"]: r for r in df.collect()}


def test_profile_mixed_types_and_nulls(spark):
    df = spark.createDataFrame(
        [
            (1, 2.5, "ab", None),
            (2, None, "abcd", None),
            (None, 7.5, None, None),
            (2, 0.0, "ab", None),
        ],
        "k long, x double, s string, t timestamp",
    )
    prof = _rows_by_col(profile_table(df))
    assert set(prof) == {"k", "x", "s", "t"}
    k = prof["k"]
    assert (k.n_rows, k.n_nulls, k.n_distinct) == (4, 1, 2)
    assert (k.min_value, k.max_value) == (1.0, 2.0)
    assert abs(k.mean_value - (1 + 2 + 2) / 3) < 1e-6  # 6-dec fold
    assert k.avg_length is None
    x = prof["x"]
    assert (x.n_nulls, x.n_distinct) == (1, 3)
    assert (x.min_value, x.max_value) == (0.0, 7.5)
    s = prof["s"]
    assert s.min_value is None and s.mean_value is None
    assert abs(s.avg_length - (2 + 4 + 2) / 3) < 1e-4  # 4-dec fold
    t = prof["t"]
    assert t.n_nulls == 4 and t.n_distinct == 0
    assert t.min_value is None and t.avg_length is None


def test_profile_single_scan(spark, sf_dir):
    """The whole profile must come from ONE scan of the table —
    a per-column loop of separate aggregates would scan N times."""
    import re

    from diabetes_etl_spark.sources.tables import load_table

    prof = profile_table(load_table(spark, sf_dir, "part"))
    plan = prof._jdf.queryExecution().executedPlan().toString()
    scans = len(re.findall(r"FileScan parquet[^\n]*part\.", plan))
    assert scans == 1, f"part scanned {scans}x"


def test_profile_approx_close_to_exact(spark, sf_dir):
    from diabetes_etl_spark.sources.tables import load_table

    part = load_table(spark, sf_dir, "part")
    exact = _rows_by_col(profile_table(part))
    approx = _rows_by_col(profile_table(part, approx=True))
    for col in exact:
        e, a = exact[col].n_distinct, approx[col].n_distinct
        if e:
            assert abs(a - e) / e <= 0.05, col
        # everything except the distinct estimator must be identical
        assert exact[col].n_nulls == approx[col].n_nulls
        assert exact[col].mean_value == approx[col].mean_value


def test_corpus_card_entropy_and_dup_accounting(spark, monkeypatch):
    """Entropy: single-lang source -> 0; uniform two-lang -> ln 2.
    Dup accounting: identical texts count in BOTH sources."""
    import math

    from diabetes_etl_spark.plans.registry import all_queries
    import diabetes_etl_spark.plans.profileplans as PP

    docs = spark.createDataFrame(
        [
            (1, "same text here", "en", "s1", 14),
            (2, "same text here", "en", "s2", 14),
            (3, "other words entirely", "en", "s1", 20),
            (4, "vier worte auf deutsch", "de", "s2", 22),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # every plan module binds load_table at import: import them all
    # first, then patch only the name the query under test reads
    fn = all_queries(include_extended=True)["corpus_card_by_source"].fn
    monkeypatch.setattr(PP, "load_table", lambda s, d, name: docs)
    rows = {r.source: r for r in fn(spark, "unused").collect()}
    assert rows["s1"].lang_entropy == 0.0
    assert math.isclose(rows["s2"].lang_entropy, math.log(2), abs_tol=1e-6)
    assert rows["s1"].n_exact_dup_docs == 1
    assert rows["s2"].n_exact_dup_docs == 1
    assert rows["s1"].n_docs == 2 and rows["s2"].n_docs == 2


# -- encoding advisor -------------------------------------------------------


def test_encoding_profile_known_sequences(spark):
    from diabetes_etl_spark.operators.profile import encoding_profile

    # column: 100 rows of value 7 -> 1 run -> RLE wins
    df = spark.createDataFrame(
        [(i, 0, 7) for i in range(100)], "k1 long, k2 long, v long"
    )
    r = encoding_profile(df, ["k1", "k2"], "v", "int").collect()[0]
    assert (r.n_runs, r.max_run, r.n_distinct) == (1, 100, 1)
    assert r.recommended == "RLE"
    # strictly increasing by 1 -> deltas fit 2 bits -> DELTA beats DICT
    df2 = spark.createDataFrame(
        [(i, 0, i + 1000) for i in range(100)], "k1 long, k2 long, v long"
    )
    r2 = encoding_profile(df2, ["k1", "k2"], "v", "int").collect()[0]
    assert r2.n_runs == 100 and r2.n_distinct == 100
    assert r2.recommended == "DELTA"
    # low-cardinality alternating string -> DICT (runs are all length 1)
    df3 = spark.createDataFrame(
        [(i, 0, "AB"[i % 2]) for i in range(100)],
        "k1 long, k2 long, v string",
    )
    r3 = encoding_profile(df3, ["k1", "k2"], "v", "str").collect()[0]
    assert r3.n_runs == 100 and r3.n_distinct == 2
    assert r3.delta_cost is None
    assert r3.recommended == "DICT"


def test_encoding_profile_kind_validation(spark):
    import pytest as _pytest

    from diabetes_etl_spark.operators.profile import encoding_profile

    df = spark.createDataFrame([(1, 1, 1)], "k1 long, k2 long, v long")
    with _pytest.raises(ValueError, match="kind"):
        encoding_profile(df, ["k1", "k2"], "v", "float")


# -- mutual information ---------------------------------------------------------


def test_mutual_information_known_cases(spark, tmp_path):
    """Perfectly dependent columns: MI == H(lang) == H(source);
    independent columns: MI == 0 (exactly, by count symmetry)."""
    import math

    from diabetes_etl_spark.plans.profileplans import (
        profile_mutual_information,
    )

    def build(rows, name):
        df = spark.createDataFrame(
            [(i, "t", lang, src, 1) for i, (lang, src) in enumerate(rows)],
            "doc_id long, text string, lang string, source string, "
            "n_chars int",
        )
        d = str(tmp_path / name)
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return profile_mutual_information(spark, d).collect()[0]

    # dependent: source = f(lang), two equal classes
    dep = build([("en", "a")] * 8 + [("fr", "b")] * 8, "dep")
    assert abs(dep.mi_nats - math.log(2)) < 1e-6
    assert abs(dep.h_lang - math.log(2)) < 1e-6
    assert abs(dep.mi_nats - dep.h_source) < 1e-6
    # independent: every (lang, source) cell equally filled
    ind = build(
        [(la, so) for la in ("en", "fr") for so in ("a", "b")] * 4, "ind"
    )
    assert abs(ind.mi_nats) < 1e-6
    assert ind.n_cells == 4


def test_fd_confidence_bounds_and_exact_fd_detection(spark):
    """A constructed exact FD has confidence 1.0 / zero violations; a
    broken one reports the right violating group and g3 confidence."""
    from diabetes_etl_spark.plans import all_queries  # noqa: F401

    import diabetes_etl_spark.plans.profileplans as pp

    rows = [
        ("a", "x", 1), ("a", "x", 1), ("b", "y", 2), ("b", "y", 2),
        ("c", "y", 3), ("c", "y", 4),
    ]
    df = spark.createDataFrame(rows, "k string, v string, z int")
    from pyspark.sql import functions as F

    stacked = df.select(
        F.expr(
            "stack(2, 'k', 'v', CAST(k AS STRING), CAST(v AS STRING), "
            "'k', 'z', CAST(k AS STRING), CAST(z AS STRING))"
        ).alias("det", "dep", "av", "bv")
    )
    pc = stacked.groupBy("det", "dep", "av", "bv").agg(
        F.count(F.lit(1)).alias("n")
    )
    pg = pc.groupBy("det", "dep", "av").agg(
        F.max("n").alias("best"),
        F.sum("n").alias("tot"),
        F.count(F.lit(1)).alias("n_dep_vals"),
    )
    out = {
        (r["det"], r["dep"]): r
        for r in pg.groupBy("det", "dep")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("n_dep_vals") > 1, 1).otherwise(0)).alias(
                "violating_groups"
            ),
            F.round(F.sum("best").cast("double") / F.sum("tot"), 9).alias(
                "fd_confidence"
            ),
        )
        .collect()
    }
    kv = out[("k", "v")]
    assert kv["violating_groups"] == 0 and kv["fd_confidence"] == 1.0
    kz = out[("k", "z")]
    # group c has two z values -> 1 violating group; best repair keeps
    # 5 of 6 rows
    assert kz["violating_groups"] == 1
    assert abs(kz["fd_confidence"] - 5 / 6) < 1e-9


def test_fd_profile_fixture_invariants(spark, sf_dir):
    from diabetes_etl_spark.plans import all_queries

    rows = (
        all_queries(include_extended=True)["profile_functional_deps"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) == 12
    for r in rows:
        assert 0.0 < r["fd_confidence"] <= 1.0
        if r["violating_groups"] == 0:
            assert r["fd_confidence"] == 1.0


def test_cramers_v_matches_scipy_style_bruteforce(spark, sf_dir):
    from collections import Counter

    from diabetes_etl_spark.plans import all_queries
    from diabetes_etl_spark.sources.tables import load_table

    r = all_queries(include_extended=True)["profile_cramers_v"].fn(
        spark, sf_dir
    ).collect()[0]
    rows = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    ).collect()
    ct = Counter((x[0], x[1]) for x in rows)
    ra = Counter(x[0] for x in rows)
    cb = Counter(x[1] for x in rows)
    n = len(rows)
    # grid density precondition for the observed-cell sum
    assert len(ct) == len(ra) * len(cb), "fixture grid not dense"
    chi2 = sum(
        round((c - ra[a] * cb[b] / n) ** 2 / (ra[a] * cb[b] / n), 9)
        for (a, b), c in ct.items()
    )
    assert abs(r["chi2"] - chi2) < 1e-6
    import math

    v = math.sqrt(chi2 / (n * (min(len(ra), len(cb)) - 1)))
    assert abs(r["cramers_v"] - v) < 1e-9
    assert 0.0 <= r["cramers_v"] <= 1.0
