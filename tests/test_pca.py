"""Matrix-free power-iteration PCA (operators/pca.py)."""

from __future__ import annotations

import math

import pytest

from diabetes_etl_spark.operators.pca import (
    mean_vector,
    power_iteration_rounds,
)


def _aniso_df(spark, n=200, d=6):
    """Deterministic anisotropic cloud: dominant variance along e0+e1."""
    rows = []
    for i in range(n):
        t = math.sin(i * 1.7) * 5.0          # big spread on (1,1,0,...)
        u = math.cos(i * 2.3) * 0.3          # small spread on e2
        vec = [t, t, u] + [0.01 * math.sin(i + j) for j in range(d - 3)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_power_iteration_finds_dominant_direction(spark):
    df = _aniso_df(spark)
    out = power_iteration_rounds(df, iterations=4)
    final = {
        r.pos: r.v for r in out.collect() if r.round == 4
    }
    v = [final[i] for i in range(len(final))]
    # unit norm (up to quantization)
    assert abs(sum(x * x for x in v) - 1.0) < 1e-6
    # dominant direction ~ (1,1,0,...)/sqrt(2): both big coords near
    # 0.707 with matching sign, everything else small
    assert abs(abs(v[0]) - 1 / math.sqrt(2)) < 0.02
    assert abs(abs(v[1]) - 1 / math.sqrt(2)) < 0.02
    assert v[0] * v[1] > 0
    assert all(abs(x) < 0.1 for x in v[2:])


def test_mean_vector_exact(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 10.0]), (2, [3.0, 20.0])],
        "vec_id long, embedding array<double>",
    )
    assert mean_vector(df) == [2.0, 15.0]


def test_power_iteration_degenerate_input_raises(spark):
    df = spark.createDataFrame(
        [(1, [2.0, 2.0]), (2, [2.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="zero vector|degenerate"):
        power_iteration_rounds(df, iterations=1)


def test_power_iteration_resumes_from_state_store(spark, tmp_path):
    from diabetes_etl_spark.sources.versioned import VersionedTable

    df = _aniso_df(spark, n=80)
    store = VersionedTable(spark, str(tmp_path / "pow"))
    power_iteration_rounds(df, iterations=2, state_store=store)
    assert store.last_app_version("power_round") == 2
    resumed = sorted(
        tuple(r) for r in power_iteration_rounds(
            df, iterations=4, state_store=store
        ).collect()
    )
    fresh = sorted(
        tuple(r) for r in power_iteration_rounds(df, iterations=4).collect()
    )
    assert resumed == fresh
    assert store.last_app_version("power_round") == 4
