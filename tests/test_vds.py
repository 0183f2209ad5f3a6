"""Python data source over the versioned table (sources/vds.py):
manifest pruning unit tests + end-to-end format("versioned") reads."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan

from diabetes_etl_spark.sources.vds import (
    VersionedReader,
    register_versioned_source,
)

_DOC = {
    "files": [
        {"path": "a.parquet", "stats": {"k": [0, 99]}},
        {"path": "b.parquet", "stats": {"k": [100, 199]}},
        {"path": "c.parquet", "stats": {"k": [200, 299]}},
        {"path": "d.parquet"},  # no stats: always kept
    ]
}


def _reader(filters):
    r = VersionedReader("/t", _DOC)
    unsupported = list(r.pushFilters(filters))
    # contract: every filter is handed back for row-level re-apply
    assert unsupported == filters
    return r


def test_equal_to_prunes_disjoint_files():
    r = _reader([EqualTo(("k",), 150)])
    paths = [p.path for p in r.partitions()]
    assert paths == ["/t/b.parquet", "/t/d.parquet"]


def test_range_filters_prune_both_sides():
    r = _reader([GreaterThan(("k",), 99), LessThan(("k",), 250)])
    paths = [p.path for p in r.partitions()]
    assert paths == ["/t/b.parquet", "/t/c.parquet", "/t/d.parquet"]


def test_boundary_is_inclusive_on_stats():
    # k = 99 touches file a's max — must be kept
    r = _reader([EqualTo(("k",), 99)])
    paths = [p.path for p in r.partitions()]
    assert "/t/a.parquet" in paths


def test_unstatsed_column_never_prunes():
    r = _reader([EqualTo(("other",), 5)])
    assert len(r.partitions()) == 4


def test_all_pruned_yields_empty_sentinel():
    doc = {"files": [f for f in _DOC["files"] if "stats" in f]}
    r = VersionedReader("/t", doc)
    list(r.pushFilters([EqualTo(("k",), 12345)]))
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].path == ""
    assert list(r.read(parts[0])) == []


@pytest.fixture(scope="module")
def vds_table(spark, sf_dir):
    from diabetes_etl_spark.sources.tables import load_table
    from diabetes_etl_spark.sources.versioned import VersionedTable

    register_versioned_source(spark)
    base = tempfile.mkdtemp(prefix="vds_test_")
    path = os.path.join(base, "t")
    vt = VersionedTable(spark, path, stats_cols=("l_orderkey",))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    cut = 50
    vt.overwrite(
        li.filter(F.col("l_orderkey") < cut)
        .repartitionByRange(3, "l_orderkey")
    )
    vt.append(li.filter(F.col("l_orderkey") >= cut))
    yield path, li, cut
    shutil.rmtree(base, ignore_errors=True)


def test_vds_version_isolation(spark, vds_table):
    path, li, cut = vds_table
    v1 = (
        spark.read.format("versioned")
        .option("path", path)
        .option("versionAsOf", "1")
        .load()
    )
    latest = spark.read.format("versioned").option("path", path).load()
    assert v1.count() == li.filter(F.col("l_orderkey") < cut).count()
    assert latest.count() == li.count()


def test_vds_filtered_read_matches_direct(spark, vds_table):
    path, li, _ = vds_table
    got = (
        spark.read.format("versioned")
        .option("path", path)
        .load()
        .filter("l_orderkey BETWEEN 10 AND 20")
        .agg(F.sum("l_quantity").alias("s"))
        .collect()[0]["s"]
    )
    want = (
        li.filter("l_orderkey BETWEEN 10 AND 20")
        .agg(F.sum("l_quantity").alias("s"))
        .collect()[0]["s"]
    )
    assert got == want


def test_vds_schema_comes_from_manifest(spark, vds_table):
    path, li, _ = vds_table
    df = spark.read.format("versioned").option("path", path).load()
    assert df.schema == li.schema


# -- streaming source ----------------------------------------------------------


def test_vds_stream_exactly_once_and_delete_guard(spark, sf_dir):
    import tempfile

    from diabetes_etl_spark.sources.tables import load_table
    from diabetes_etl_spark.sources.versioned import VersionedTable

    register_versioned_source(spark)
    base = tempfile.mkdtemp(prefix="vds_stream_test_")
    path, sink, ck = (
        os.path.join(base, "t"),
        os.path.join(base, "s"),
        os.path.join(base, "c"),
    )
    vt = VersionedTable(spark, path)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    vt.overwrite(li.filter("l_orderkey < 500"))

    def drain(**opts):
        r = spark.readStream.format("versioned").option("path", path)
        for k, v in opts.items():
            r = r.option(k, v)
        q = (
            r.load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(sink).count()

    n1 = drain()
    assert n1 == li.filter("l_orderkey < 500").count()
    # no new commit: re-drain over the checkpoint adds nothing
    assert drain() == n1
    vt.append(li.filter("l_orderkey >= 500"))
    assert drain() == li.count()
    # a delete commit must fail loudly (append-driven contract)...
    vt.delete_where("l_orderkey < 100")
    with pytest.raises(Exception, match="removes|ignoreChanges"):
        drain()
    # ...and ignoreChanges opts in to added-files-only streaming
    # (the delete rewrote survivors into new files -> they re-emit;
    # the option's documented semantics, same as Delta)
    before = spark.read.parquet(sink).count()
    after = drain(ignoreChanges="true")
    assert after >= before
    shutil.rmtree(base, ignore_errors=True)


def test_stream_admission_control_caps_offset_advance():
    """maxVersionsPerTrigger bounds each planned batch to k manifest
    versions; the cursor syncs forward on restart via partitions()."""
    import json
    import tempfile

    base = tempfile.mkdtemp(prefix="vds_cap_")
    mdir = os.path.join(base, "_manifests")
    os.makedirs(mdir)
    for v in range(1, 8):
        with open(os.path.join(mdir, f"v{v:020d}.json"), "w") as f:
            json.dump({"version": v, "files": [], "schema": "{}"}, f)
    from diabetes_etl_spark.sources.vds import VersionedStreamReader

    r = VersionedStreamReader(base, {"maxversionspertrigger": "2"})
    assert r.initialOffset() == {"version": 0}
    assert r.latestOffset() == {"version": 2}
    assert r.latestOffset() == {"version": 4}
    # restart mid-history: the checkpointed end syncs the cursor
    r2 = VersionedStreamReader(base, {"maxversionspertrigger": "2"})
    r2.partitions({"version": 5}, {"version": 6})
    assert r2.latestOffset() == {"version": 7}
    # uncapped reader goes straight to the newest manifest
    r3 = VersionedStreamReader(base, {})
    assert r3.latestOffset() == {"version": 7}
    shutil.rmtree(base, ignore_errors=True)


def test_stream_offset_skips_torn_newest_manifest():
    """A truncated newest manifest is not a commit: the stream reader
    resolves the same latest version as the batch reader, so the torn
    file never becomes an offset (planning it would crash)."""
    import json

    base = tempfile.mkdtemp(prefix="vds_torn_")
    mdir = os.path.join(base, "_manifests")
    os.makedirs(mdir)
    for v in (1, 2):
        with open(os.path.join(mdir, f"v{v:020d}.json"), "w") as f:
            json.dump({"version": v, "files": [], "schema": "{}"}, f)
    with open(os.path.join(mdir, f"v{3:020d}.json"), "w") as f:
        f.write('{"version": 3, "fil')  # torn
    from diabetes_etl_spark.sources.vds import VersionedStreamReader

    r = VersionedStreamReader(base, {})
    end = r.latestOffset()
    assert end == {"version": 2}
    assert r.partitions(r.initialOffset(), end) == []
    shutil.rmtree(base, ignore_errors=True)
