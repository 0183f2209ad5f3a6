"""Product quantization (operators/pq.py) unit tests: codebook shape,
code range, nearest-blob correctness of ADC ranking on separable
data, bit-determinism across partitionings, self-match exclusion,
restart resume from committed codebook rounds, volatile/durable
round state parity, and the broadcast plan shape for the scoring
join."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.pq import pq_adc_topk, pq_encode, pq_train


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _blob_corpus(spark, n_per=8, dim=4):
    """Three well-separated blobs in 4-d: ids 0..n-1 near the origin,
    n..2n-1 near (10,10,0,0), 2n..3n-1 near (0,0,10,10)."""
    rows = []
    for i in range(n_per):
        rows.append((i, [0.0 + i * 0.01, 0.0, 0.0, 0.0 - i * 0.01]))
        rows.append((n_per + i, [10.0, 10.0 + i * 0.01, 0.0, 0.0]))
        rows.append((2 * n_per + i, [0.0, 0.0, 10.0 - i * 0.01, 10.0]))
    return _vecs(spark, rows)


def test_pq_codebook_shape_and_code_range(spark):
    df = _blob_corpus(spark)
    book = pq_train(df, dim=4, m=2, k=3, iterations=2)
    rows = book.collect()
    # m * k * sub_dim rows, every (sub, cid, pos) cell present
    assert len(rows) == 2 * 3 * 2
    assert {(r.sub, r.cid, r.pos) for r in rows} == {
        (s, c, p) for s in range(2) for c in range(3) for p in range(2)
    }
    codes = pq_encode(df, book, dim=4, m=2).collect()
    assert len(codes) == 24 * 2  # n * m
    assert all(0 <= r.code < 3 for r in codes)


def test_pq_adc_ranks_own_blob_first(spark):
    """With blob-separated data, every query's ADC top neighbours all
    come from its own blob (PQ distortion cannot cross a 10-unit
    gap), and a query never matches itself."""
    df = _blob_corpus(spark)
    book = pq_train(df, dim=4, m=2, k=3, iterations=2)
    codes = pq_encode(df, book, dim=4, m=2)
    queries = df.where(F.col("vec_id").isin(0, 8, 16))
    top = pq_adc_topk(queries, codes, book, dim=4, m=2, k=5).collect()
    assert len(top) == 15
    for r in top:
        assert r.candidate_id != r.query_id
        assert r.candidate_id // 8 == r.query_id // 8  # same blob
        assert 1 <= r.adc_rank <= 5


def test_pq_partition_invariant_bit_identical(spark):
    df = _vecs(
        spark,
        [
            (i, [float((i * 7) % 13), float((i * 5) % 11),
                 float(i % 3), float((i * 11) % 7)])
            for i in range(40)
        ],
    )
    def run(d):
        book = pq_train(d, dim=4, m=2, k=3, iterations=2)
        codes = pq_encode(d, book, dim=4, m=2)
        top = pq_adc_topk(
            d.where(F.col("vec_id") < 3), codes, book, dim=4, m=2, k=4
        )
        return sorted(
            (r.query_id, r.candidate_id, r.adc_d2, r.adc_rank)
            for r in top.collect()
        )
    assert run(df) == run(df.repartition(17))  # bit-identical


def test_pq_dim_must_split(spark):
    with pytest.raises(ValueError, match="does not split"):
        pq_train(_blob_corpus(spark), dim=4, m=3)


def test_pq_train_resumes_from_committed_rounds(spark, tmp_path):
    """A work_dir with committed rounds resumes instead of retraining:
    the second call reads the final codebook without rewriting it."""
    df = _blob_corpus(spark)
    wd = str(tmp_path / "pq")
    first = sorted(
        (r.sub, r.cid, r.pos, r.c)
        for r in pq_train(df, dim=4, m=2, k=3, iterations=2,
                          work_dir=wd).collect()
    )
    final = os.path.join(wd, "codebook_00002")
    mtime = os.path.getmtime(os.path.join(final, "_SUCCESS"))
    again = sorted(
        (r.sub, r.cid, r.pos, r.c)
        for r in pq_train(df, dim=4, m=2, k=3, iterations=2,
                          work_dir=wd).collect()
    )
    assert first == again
    assert os.path.getmtime(os.path.join(final, "_SUCCESS")) == mtime


def test_pq_train_cap_limits_training_set(spark):
    """train_cap trains the codebook on the smallest-id sample only:
    a corpus whose high ids live in a far blob still gets a codebook
    seeded and trained purely from the low-id blob."""
    rows = [(i, [0.0 + i * 0.01, 0.0, 0.0, 0.0]) for i in range(6)]
    rows += [(100 + i, [50.0, 50.0, 50.0, 50.0]) for i in range(6)]
    df = _vecs(spark, rows)
    book_cap = pq_train(df, dim=4, m=2, k=2, iterations=1, train_cap=6)
    book_low = pq_train(df.where(F.col("vec_id") < 6), dim=4, m=2, k=2,
                        iterations=1)
    assert sorted(map(tuple, book_cap.collect())) == sorted(
        map(tuple, book_low.collect())
    )


def test_pq_scoring_plan_broadcasts_lut_and_codebook(spark):
    """The ADC scoring join must BROADCAST the lookup-table side: the
    corpus codes table never shuffles for the join."""
    df = _blob_corpus(spark)
    book = pq_train(df, dim=4, m=2, k=3, iterations=1)
    codes = pq_encode(df, book, dim=4, m=2)
    top = pq_adc_topk(
        df.where(F.col("vec_id") < 2), codes, book, dim=4, m=2, k=3
    )
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_frozen_codebook_incremental_shape(spark):
    """Incremental form: the codebook trains on history only; a new
    batch matches against the history's persisted codes.  The batch
    must not shift the codebook, and batch vectors from a known blob
    must retrieve history members of that blob."""
    df = _blob_corpus(spark)
    hist = df.where(F.col("vec_id") % 4 != 0)
    batch = df.where(F.col("vec_id") % 4 == 0)
    book_h = pq_train(hist, dim=4, m=2, k=3, iterations=2)
    book_all = pq_train(df, dim=4, m=2, k=3, iterations=2)
    assert sorted(map(tuple, book_h.collect())) != sorted(
        map(tuple, book_all.collect())
    )  # the batch genuinely did not participate in training
    codes_h = pq_encode(hist, book_h, dim=4, m=2)
    top = pq_adc_topk(batch, codes_h, book_h, dim=4, m=2, k=3).collect()
    hist_ids = {r.vec_id for r in hist.collect()}
    for r in top:
        assert r.candidate_id in hist_ids  # only history is searched
        assert r.candidate_id // 8 == r.query_id // 8  # same blob


def test_pq_train_volatile_matches_durable(spark, tmp_path):
    df = _vecs(
        spark,
        [(i, [float((i * j + 3) % 17) for j in range(8)])
         for i in range(30)],
    )
    vol = sorted(
        map(tuple, pq_train(df, dim=8, m=2, k=3, iterations=2).collect())
    )
    dur = sorted(
        map(
            tuple,
            pq_train(
                df, dim=8, m=2, k=3, iterations=2,
                work_dir=str(tmp_path / "wd"),
            ).collect(),
        )
    )
    assert vol == dur
