"""10x scale spot-check for registered queries (the SCALE.md recipe):
replicate documents 10x with id offsets + copytags and embeddings 10x
PERTURBED (deterministic per-copy direction shift) via
:func:`replicate_corpus_10x` — the same replication bench.py's scale10x
block uses — then time each named query at sf0.1 and at 10x, min-of-2
each, and print `RESULT name: sf0.1=..s 10x=..s xlin=..` (xlin < 1 means
sublinear vs 10x-linear scaling).

Usage: python tools/scale_probe.py [query ...]
"""
import os
import shutil
import sys
import tempfile
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from diabetes_etl_spark.plans import all_queries  # noqa: E402
from diabetes_etl_spark.session import get_spark  # noqa: E402


def replicate_corpus_10x(spark, sf_dir: str, out_dir: str) -> None:
    """Write documents and embeddings replicated 10x to ``out_dir``.

    Copy k offsets doc_id / vec_id by ``k * 10_000_000``.  Each
    document copy gets a distinct trailing ``copytag{k}`` token, so
    copies are NEAR-dups that must survive banding AND exact
    verification.  Each embedding copy adds a deterministic
    per-dimension offset that changes the vector's DIRECTION, so the
    10x set has 10x distinct points — identical copies would collapse
    into the same LSH buckets / k-means cells and measure a degenerate
    best case.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    reduce(DataFrame.unionByName, [
        docs.select(
            (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" copytag{k}")).alias("text"),
            "lang", "source", "n_chars",
        )
        for k in range(10)
    ]).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    def perturb(k):
        return lambda x, i: (
            x + F.lit(0.013 * k)
            * F.cos(i.cast("double") * F.lit(1.7) + F.lit(float(k)))
        ).cast("float")

    reduce(DataFrame.unionByName, [
        emb.select(
            (F.col("vec_id") + F.lit(k * 10_000_000)).alias("vec_id"),
            F.transform("embedding", perturb(k)).alias("embedding"),
            "label",
        )
        for k in range(10)
    ]).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def main() -> None:
    spark = get_spark()
    registry = all_queries(include_extended=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    # non-replicated tables link through at 1x so any query can run
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet") and name not in (
            "documents.parquet", "embeddings.parquet"
        ):
            os.symlink(
                os.path.join(sf_dir, name), os.path.join(tmp, name)
            )
    replicate_corpus_10x(spark, sf_dir, tmp)

    for name in sys.argv[1:]:
        res = {}
        for tag, d in [("sf0.1", sf_dir), ("10x", tmp)]:
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                registry[name].fn(spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                s = round(time.perf_counter() - t0, 3)
                best = s if best is None else min(best, s)
            res[tag] = best
        xlin = round(res["10x"] / (10 * res["sf0.1"]), 2)
        print(
            f"RESULT {name}: sf0.1={res['sf0.1']}s 10x={res['10x']}s "
            f"xlin={xlin}",
            flush=True,
        )
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
