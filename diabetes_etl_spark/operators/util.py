"""Shared operator utilities."""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SCRATCH_CONF = "spark.diabetes_etl.scratchDir"


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A scratch location for materializing narrow intermediates
    (``df.write.parquet(scratch)`` then re-read), visible to BOTH the
    driver and every executor.

    Iterative operators (connected components, pagerank, k-means, PQ,
    MMR, winnowing) persist a narrow frame between rounds.  A plain
    ``tempfile.mkdtemp()`` path is only correct when driver and
    executors share one filesystem — i.e. ``local[*]``; on a real
    cluster each executor would write its task output to its OWN
    local disk and the driver-side re-read would silently lose rows.

    Resolution order:

    - ``spark.diabetes_etl.scratchDir`` conf, when set: a unique
      subdirectory under it.  On a multi-node cluster this MUST point
      at shared storage (HDFS / S3 / NFS) — the same requirement
      Spark itself places on checkpoint directories.
    - otherwise, a driver-local tempdir — but ONLY under a
      ``local[...]`` master, where the single-filesystem assumption
      holds by construction.  Any other master without the conf
      raises immediately instead of losing data at the re-read.

    Local tempdirs are removed at interpreter exit; conf-rooted
    scratch is cleaned up best-effort (ignore_errors — remote URI
    schemes are the storage layer's janitor's job, same as Spark
    checkpoint dirs).
    """
    root = spark.conf.get(SCRATCH_CONF, None)
    if root:
        path = root.rstrip("/") + f"/{prefix}{uuid.uuid4().hex}"
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        return path
    master = spark.conf.get("spark.master", "")
    if not master.startswith("local"):
        raise ValueError(
            f"master {master!r} is multi-node: operator scratch "
            f"requires shared storage — set {SCRATCH_CONF} to an "
            "HDFS/S3/NFS path visible to all executors (a "
            "driver-local tempdir would silently lose "
            "executor-written rows on re-read)"
        )
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_ALL_PAIRS = (
    "flatten(transform(ids, (x, i) -> "
    "transform(slice(ids, i + 2, size(ids)), y -> "
    "struct(least(x, y) AS doc_a, greatest(x, y) AS doc_b))))"
)


def bounded_bucket_pairs(
    exploded: DataFrame,
    keys: list[str],
    id_col: str = "doc_id",
    cap: int | None = 64,
) -> DataFrame:
    """Distinct canonical (doc_a < doc_b) id pairs sharing a bucket key,
    with bounded per-bucket work — the skew-safe LSH pair generator.

    ``cap=None`` disables the bound and enumerates ALL within-bucket
    pairs (no window pass, no star edges) — for callers whose bucket
    size is bounded upstream by construction (e.g. entity-resolution
    blocking keys chosen for selectivity), where head+star would
    silently drop tail-tail candidates.

    An unbounded bucket (every member of a near-identical 100 TB corpus
    hashing to one band value) would make the naive
    collect_list-then-all-pairs expansion quadratic AND materialize the
    whole bucket in one aggregation buffer.  Bounding strategy:

    - the ``cap`` smallest ids per bucket ("head") expand all-pairs —
      at most cap*(cap-1)/2 pairs and a collect_list of at most cap
      elements per bucket;
    - every member beyond the cap ("tail") emits ONE star edge to the
      bucket leader (the minimum id) — linear in bucket size, and it
      preserves duplicate-cluster connectivity: any member still
      reaches the cluster through the leader after exact verification
      of its edge (near-identical corpora pass verification against
      the leader too, which is what made the bucket huge).

    Buckets at or under the cap (every real-world near-dup bucket) are
    expanded identically to the unbounded version — fixture results are
    unchanged; only pathological skew changes shape.  The row_number
    runs on the (key, id) shuffle that already exists — no extra
    exchange, only a per-bucket sort.
    """
    if cap is None:
        return (
            exploded.groupBy(*keys)
            .agg(F.collect_list(id_col).alias("ids"))
            .filter(F.size("ids") > 1)
            .select(F.explode(F.expr(_ALL_PAIRS)).alias("p"))
            .select("p.doc_a", "p.doc_b")
            .dropDuplicates(["doc_a", "doc_b"])
        )
    # One window pass computes both the rank and the bucket leader
    # (first == min under this ordering), so the tail needs no join
    # back to a leaders table; the head aggregation and the tail
    # projection then share the same Exchange+Sort+Window subtree
    # (Catalyst reuses the exchange, so the upstream — e.g. an
    # expensive signature computation — runs once).  The head keeps
    # its ids inside the aggregate rather than by a ``_rn <= cap``
    # filter: the optimizer turns that filter into a WindowGroupLimit
    # below the exchange, which gives the head its own exchange and
    # its own run of the upstream.
    w = Window.partitionBy(*keys).orderBy(id_col)
    ranked = exploded.select(
        *keys,
        F.col(id_col).alias("_id"),
        F.row_number().over(w).alias("_rn"),
        F.first(id_col).over(w).alias("_leader"),
    )
    head_pairs = (
        ranked.groupBy(*keys)
        .agg(
            F.collect_list(F.when(F.col("_rn") <= cap, F.col("_id"))).alias(
                "ids"
            )
        )
        .filter(F.size("ids") > 1)
        .select(F.explode(F.expr(_ALL_PAIRS)).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    tail_pairs = ranked.filter(F.col("_rn") > cap).select(
        F.least("_leader", "_id").alias("doc_a"),
        F.greatest("_leader", "_id").alias("doc_b"),
    )
    return head_pairs.unionByName(tail_pairs).dropDuplicates(
        ["doc_a", "doc_b"]
    )


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a CPU-bound operator input has at least cluster-width
    parallelism.

    A small parquet file arrives as a single input split, so expensive
    per-row expression work (minhash signatures, shingling, LSH
    projections) would run on ONE core no matter how many executors
    exist.  At real scale the scan is already wide and this is a no-op
    — the repartition only fires when the source is narrower than the
    default parallelism, so it never adds a shuffle to a big input.

    Width is estimated from Catalyst's optimized-plan size statistics
    (``sizeInBytes / spark.sql.files.maxPartitionBytes``), NOT by
    probing the DataFrame's RDD partition count: the RDD probe forces
    eager physical planning + lineage construction on every operator
    call (real driver-side cost on 100 TB plan sizes) and bypasses
    AQE's view of the plan.  Stats only need analysis; on any
    estimation failure the input is returned unchanged — the safe
    direction at scale, where scans are already wide.
    """
    spark = df.sparkSession
    try:
        # everything JVM-internal stays inside the guard: on Spark
        # Connect, sparkContext itself raises — the documented fallback
        # ("on any estimation failure return df unchanged") must cover
        # that too, not just the stats probe
        target = min_partitions or spark.sparkContext.defaultParallelism
        size_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        max_split = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
    except Exception:
        return df
    est_splits = max(1, size_bytes // max_split)
    if est_splits < target:
        return df.repartition(target)
    return df
