"""The session's codegen class cache holds more than Spark's default 100
entries, so a query shape that comes back after many others runs without
a single Janino compile (``session_conf``'s
``spark.sql.codegen.cache.maxEntries``)."""

from __future__ import annotations


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _shape(spark, k: int):
    # the literal is inlined into the generated source, so each k is
    # its own generated class
    return spark.range(4).selectExpr(f"id * {k} + 1 AS x")


def test_warm_shape_compiles_nothing_after_100_others(spark):
    first = 1_000_003
    _shape(spark, first).collect()

    before = _compiles(spark)
    others = _shape(spark, 0)
    for k in range(1, 150):
        others = others.unionAll(_shape(spark, k))
    assert len(others.collect()) == 4 * 150
    # enough distinct classes to evict every one of the first shape's
    # classes from a 100-entry LRU cache
    assert _compiles(spark) - before > 100

    before = _compiles(spark)
    assert sorted(r.x for r in _shape(spark, first).collect()) == [
        1 + first * i for i in range(4)
    ]
    assert _compiles(spark) - before == 0
