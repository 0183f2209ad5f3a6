"""Deduplication query plans over the `documents` fixture
(operators/dedup.py).  Exact dedup and blocked n-gram Jaccard are
oracle-paired; MinHash-LSH and SimHash use engine-specific hashing
(xxhash64) so they get rows-only driver checks plus recall/consistency
assertions against the exact operators in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.operators import dedup as DD
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

_D_TOKENS = r"regexp_split_to_array(trim(text), '\s+')"
_D_SHINGLES = (
    f"list_distinct(list_transform("
    f"generate_series(1, greatest(len({_D_TOKENS}) - 4, 1)), "
    f"i -> array_to_string({_D_TOKENS}[i:i+4], ' ')))"
)


@register(
    "dedup_exact_docs",
    oracle="""
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
    doc="Exact dedup: hash-groupBy on md5(text), canonical min-id per "
    "group (one shuffle of (hash, id) — never ships text twice).",
    tags=("dedup", "extension", "headline"),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.exact_dedup_groups(docs, "doc_id", "text")


# Exact shingle-Jaccard >= 0.8 pairs — the oracle for BOTH the exact
# blocked operator and the MinHash-LSH scale path (whose exact-verified
# output provably contains no false positives; at the gate scale its
# recall is exactly 1.0, verified in tests/test_dedup.py, so any recall
# regression turns the driver gate red instead of passing rows-only).
_JACCARD_PAIRS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_D_SHINGLES} AS sh, CAST(length(text) AS BIGINT) AS len
  FROM documents
),
b AS (
  SELECT doc_id, len // 50 AS band FROM t
  UNION ALL
  SELECT doc_id, len // 50 + 1 AS band FROM t
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM b a JOIN b c ON a.band = c.band AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b, jaccard_sim FROM (
  SELECT doc_a, doc_b,
    ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6)
      AS jaccard_sim
  FROM cand
  JOIN t x ON cand.doc_a = x.doc_id
  JOIN t y ON cand.doc_b = y.doc_id
) WHERE jaccard_sim >= 0.8
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_PAIRS_ORACLE,
    doc="Exact near-dup pairs: 5-token-shingle Jaccard >= 0.8, blocked on "
    "a 50-char length band (each doc also emitted into the next band so "
    "boundary pairs are kept) — operators/dedup.py:ngram_jaccard_pairs.",
    tags=("dedup", "extension"),
    extended=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=5, threshold=0.8, band_width=50
    )


@register(
    "dedup_minhash_lsh",
    # Candidates are exact-Jaccard-verified (precision 1.0 by
    # construction) and the 8x4 banding recalls every >=0.8 pair on the
    # gate corpus, so the exact operator's oracle applies verbatim — a
    # recall drop now fails the gate hash instead of passing rows-only.
    oracle=_JACCARD_PAIRS_ORACLE,
    doc="MinHash(32)+LSH(8 bands x 4 rows) near-dup detection with exact "
    "Jaccard verification of candidates — the 100 TB dedup path (no "
    "quadratic block scan).  Recall vs the exact operator asserted in "
    "tests/test_dedup.py.",
    tags=("dedup", "lsh", "extension", "headline"),
    extended=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(
        docs, "doc_id", "text", n=5, num_hashes=32, bands=8, threshold=0.8
    )


# DuckDB mirror of operators/dedup.py:portable_token_hash — the same
# two polynomial rolling hashes (init 7/13, base 131/137, moduli < 2^30)
# cross-mixed multiplicatively and concatenated as f1 * 2^30 + f2, then
# the same 63 bit-majority sums.
_P_H1 = (
    "list_reduce(list_prepend(CAST(7 AS BIGINT), "
    "list_transform(string_split(tok, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
    "(acc, x) -> (acc * 131 + x) % 1000000007)"
)
_P_H2 = (
    "list_reduce(list_prepend(CAST(13 AS BIGINT), "
    "list_transform(string_split(tok, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
    "(acc, x) -> (acc * 137 + x) % 999999937)"
)
_SIMHASH_SUMS = ",\n    ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(63)
)
_SIMHASH_BITS = "\n    + ".join(
    f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    for i in range(63)
)
_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_D_TOKENS}) AS tok FROM documents
), raw AS (
  SELECT doc_id, ({_P_H1}) AS h1, ({_P_H2}) AS h2 FROM toks
), th AS (
  SELECT doc_id,
    ((h1 * 2654435761 + h2) % 1000000007) * CAST(1073741824 AS BIGINT)
      + ((h2 * 2246822519 + h1) % 999999937) AS h
  FROM raw
), sums AS (
  SELECT doc_id,
    {_SIMHASH_SUMS}
  FROM th GROUP BY doc_id
), sig AS (
  SELECT doc_id,
    {_SIMHASH_BITS} AS simhash
  FROM sums
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register(
    "dedup_simhash_pairs",
    # The gate instance builds the signature from the engine-portable
    # rolling token hash, so the whole operator (signature + pigeonhole
    # candidate join + bit_count verification) is replayed exactly in
    # DuckDB; the xxhash64 scale path keeps its own extended entry.
    oracle=_SIMHASH_ORACLE,
    doc="SimHash(63-bit) near-dup pairs with hamming <= 3 via 16-bit "
    "chunk pigeonhole join + bit_count verification, built on the "
    "engine-portable token hash (operators/dedup.py:portable_token_hash) "
    "so the full pipeline is oracle-paired.",
    tags=("dedup", "simhash", "extension"),
    extended=True,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bucket_cap 4096 = effectively unbounded at fixture scale, so the
    # gate instance is exact against the unbounded quadratic oracle
    # regardless of how the fixture's chunk buckets are populated (the
    # pigeonhole guarantee holds only for buckets <= cap; sim_neardup_lsh
    # set the same precedent).  The default cap=64 bounding behavior is
    # covered by the skew test in tests/test_dedup.py.
    return DD.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3,
        token_hash=DD.portable_token_hash, bucket_cap=4096,
    )


@register(
    "dedup_simhash_xx64",
    oracle=None,  # xxhash64 is engine-specific; rows-only + tests
    doc="SimHash(63-bit) near-dup pairs on the default xxhash64 token "
    "hash — the scale path (cheapest hashing, best bit mixing); "
    "pigeonhole recall 1.0 by construction for buckets <= bucket_cap "
    "(beyond the cap, star-edge bounding may drop tail pairs — see "
    "operators/dedup.py:simhash_near_pairs), asserted with the "
    "portable variant's agreement in tests/test_dedup.py.",
    tags=("dedup", "simhash", "extension"),
    extended=True,
)
def dedup_simhash_xx64(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)


# Transitive closure of the exact >=0.8-Jaccard pair relation as a
# recursive CTE (min reachable id = component) — exactly what the
# iterative min-label propagation computes distributed-side.  Named so
# downstream plans that consume cluster labels (the leakage-guarded
# split in samplingplans.py) reuse the SAME closure verbatim.
_JACCARD_EDGES_SQL = f"""WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS_ORACLE})
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
)"""
_COMPONENTS_CLOSURE_SQL = f"""{_JACCARD_EDGES_SQL},
reach(id, comp) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.id
),
lab AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id)"""


@register(
    "dedup_components",
    # The oracle replays the pair oracle and closes it with the shared
    # recursive-CTE closure above.
    oracle=f"""
{_COMPONENTS_CLOSURE_SQL}
SELECT id AS doc_id, component,
  CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS component_size
FROM lab
ORDER BY doc_id
""",
    doc="Near-dup cluster formation: connected components over the "
    "verified Jaccard edge set (operators/dedup.py:near_dup_edges) via "
    "min-label propagation (operators/components.py — seeded with "
    "neighbourhood minima, one join + aggregate per round, change "
    "count observed by the round's own job).  Turns pairwise near-dup "
    "output into keep-one-per-cluster semantics; singleton docs never "
    "enter the graph.",
    tags=("dedup", "components", "extension", "headline"),
    extended=True,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from diabetes_etl_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    # LSH edges, plus the length-band ones at gate scale: one missed
    # edge would relabel a whole cluster (operators/dedup.py)
    pairs = DD.near_dup_edges(docs)
    comp = connected_components(pairs, "doc_a", "doc_b")
    return (
        comp.select(F.col("id").alias("doc_id"), "component")
        .withColumn(
            "component_size",
            F.count("*").over(Window.partitionBy("component")),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_components_star",
    # identical transitive-closure semantics, so the same recursive-CTE
    # oracle applies; the edge set here is the EXACT band-blocked pair
    # relation (the oracle's own relation), isolating the algorithm
    # under test from LSH recall
    oracle=f"""
{_COMPONENTS_CLOSURE_SQL}
SELECT id AS doc_id, component,
  CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS component_size
FROM lab
ORDER BY doc_id
""",
    doc="Near-dup cluster formation via alternating large-star/"
    "small-star (Kiveris et al. SoCC'14, operators/components.py:"
    "connected_components_star): O(log^2 n) rounds instead of "
    "O(diameter), the escape hatch for high-diameter pair graphs "
    "(chains of borderline-similar docs, entity-resolution edges) "
    "that min-label propagation cannot finish in bounded rounds.  "
    "Same reliable per-round parquet persistence + driver-restart "
    "resume as the gate query's loop.",
    tags=("dedup", "components", "extension"),
    extended=True,
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from diabetes_etl_spark.operators.components import (
        connected_components_star,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.8)
    comp = connected_components_star(pairs, "doc_a", "doc_b")
    return (
        comp.select(F.col("id").alias("doc_id"), "component")
        .withColumn(
            "component_size",
            F.count("*").over(Window.partitionBy("component")),
        )
        .orderBy("doc_id")
    )


@register(
    "er_fuzzy_name_pairs",
    oracle="""
WITH names AS (SELECT DISTINCT p_name FROM part),
s AS (SELECT p_name, string_split(p_name, ' ')[-1] AS noun FROM names)
SELECT a.p_name AS name_a, b.p_name AS name_b,
  levenshtein(a.p_name, b.p_name) AS distance
FROM s a JOIN s b ON a.noun = b.noun AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY name_a, name_b
""",
    doc="Entity resolution: fuzzy-matching part names within blocks "
    "keyed on the trailing token (operators/er.py — blocked "
    "candidates through the same skew-safe bounded pair generator as "
    "the LSH family, native levenshtein post-join; never all-pairs).  "
    "The name itself is the pair-canonicalization id, so Spark's "
    "within-block ordering equals the oracle's a.p_name < b.p_name.",
    tags=("er", "dedup", "fuzzy", "extension"),
    extended=True,
)
def er_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.er import blocked_match_pairs

    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    pairs = blocked_match_pairs(
        names,
        id_col="p_name",
        name_col="p_name",
        block_col=F.element_at(F.split(F.col("p_name"), " "), -1),
        max_distance=2,
    )
    return (
        pairs.select(
            F.col("id_a").alias("name_a"),
            F.col("id_b").alias("name_b"),
            "distance",
        )
        .orderBy("name_a", "name_b")
    )


@register(
    "dedup_substring_spans",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents
),
pos AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - 8 + 1)) AS i
  FROM toks WHERE len(w) >= 8
),
sh AS (
  SELECT doc_id,
    substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 16) AS h
  FROM pos
),
dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
per AS (SELECT doc_id, COUNT(*) AS n_dup FROM sh JOIN dup USING (h)
        GROUP BY doc_id)
SELECT t.doc_id,
  CAST(GREATEST(len(t.w) - 8 + 1, 0) AS BIGINT) AS n_shingles,
  CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_shingles
FROM toks t LEFT JOIN per p USING (doc_id)
ORDER BY doc_id
""",
    doc="Exact duplicated-substring detection (Lee et al. 2022 "
    "exact-substring training-data dedup): per document, how many of "
    "its 8-token shingles occur verbatim in at least one OTHER "
    "document (operators/dedup.py:substring_dup_stats).  The text "
    "never shuffles — shingles travel as 16-hex md5 prefixes; the "
    "duplicated-hash set scales with the corpus' duplication rate, "
    "not its size.  Complements document-level near-dup: a shared "
    "paragraph inside two otherwise-different docs is invisible to "
    "MinHash at document granularity but lights up here.",
    tags=("dedup", "substring", "extension"),
    extended=True,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.dedup import substring_dup_stats

    docs = load_table(spark, sf_dir, "documents")
    return substring_dup_stats(docs, k=8).orderBy("doc_id")


_NOVELTY_ORACLE = f"""
WITH sh AS (
  SELECT id, substr(md5(s), 1, 16) AS h
  FROM (SELECT doc_id AS id, unnest({_D_SHINGLES}) AS s FROM documents)
),
first AS (SELECT h, MIN(id) AS first_id FROM sh GROUP BY h)
SELECT sh.id AS doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_shingles,
  CAST(SUM(CASE WHEN first.first_id = sh.id THEN 1 ELSE 0 END) AS BIGINT)
    AS n_novel,
  CAST(SUM(CASE WHEN first.first_id = sh.id THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS novelty
FROM sh JOIN first ON sh.h = first.h
GROUP BY sh.id ORDER BY doc_id
"""


@register(
    "dedup_content_novelty",
    oracle=_NOVELTY_ORACLE,
    doc="Per-doc content novelty (operators/dedup.py:content_novelty): "
    "the share of a doc's distinct 5-token shingles first seen (by "
    "min doc id — ingestion order) in THIS doc.  The curation signal "
    "pairwise near-dup misses: a doc can evade every pair threshold "
    "yet add nothing new.  Shingles shuffle as 16-hex md5 prefixes "
    "only (text never shuffles); one first-occurrence groupBy + one "
    "hash join + one per-doc aggregate; the ratio is one IEEE "
    "division of exact integers.",
    tags=("dedup", "novelty", "extension"),
    extended=True,
)
def dedup_content_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.dedup import content_novelty

    docs = load_table(spark, sf_dir, "documents")
    return (
        content_novelty(docs)
        .select(
            F.col("id").alias("doc_id"), "n_shingles", "n_novel", "novelty"
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_apply_stats",
    # Closure of the exact pair relation (the dedup_components oracle)
    # -> min-id representative per cluster -> per-language kept/dropped
    # accounting joined back to the corpus.
    oracle=f"""
{_COMPONENTS_CLOSURE_SQL},
reps AS (SELECT component, MIN(id) AS rep FROM lab GROUP BY component),
labeled AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         COALESCE(lab.component, d.doc_id) AS component,
         COALESCE(lab.id = reps.rep, TRUE) AS is_representative
  FROM documents d
  LEFT JOIN lab ON d.doc_id = lab.id
  LEFT JOIN reps ON lab.component = reps.component
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS docs_total,
  CAST(SUM(CASE WHEN is_representative THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_kept,
  CAST(SUM(CASE WHEN is_representative THEN 0 ELSE 1 END) AS BIGINT)
    AS docs_dropped,
  CAST(COALESCE(SUM(CASE WHEN NOT is_representative THEN n_chars END), 0)
    AS BIGINT) AS chars_dropped,
  CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters
FROM labeled GROUP BY lang ORDER BY lang
""",
    doc="Near-dedup APPLY: the pair relation (operators/dedup.py:"
    "near_dup_edges — MinHash-LSH candidates, plus length-band "
    "candidates at gate scale, exact-verified) closes into clusters "
    "(operators/components.py), each cluster keeps its min-id "
    "representative (operators/dedup.py:apply_dedup), and the corpus "
    "gets per-language kept/dropped/chars-saved accounting — the "
    "numbers a dedup report is made of, and filter(is_representative) "
    "is the cleaned corpus itself.  The oracle closes the exact pair "
    "relation with a recursive CTE and replays the same "
    "representative choice.",
    tags=("dedup", "components", "extension", "headline"),
    extended=True,
)
def dedup_apply_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.dedup import apply_dedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.near_dup_edges(docs)
    labeled = apply_dedup(docs, pairs)
    return (
        labeled.groupBy("lang")
        .agg(
            F.count("*").alias("docs_total"),
            F.sum(F.col("is_representative").cast("int")).alias("docs_kept"),
            F.sum((~F.col("is_representative")).cast("int")).alias(
                "docs_dropped"
            ),
            F.coalesce(
                F.sum(
                    F.when(~F.col("is_representative"), F.col("n_chars"))
                ),
                F.lit(0),
            ).cast("long").alias("chars_dropped"),
            F.countDistinct("component").alias("n_clusters"),
        )
        .orderBy("lang")
    )


@register(
    "corpus_leakage_safe_split",
    # closure -> cluster label -> split by hash of the CLUSTER, so a
    # near-dup family can never straddle train/test (the contamination
    # a doc-id hash split cannot prevent).
    oracle=f"""
{_COMPONENTS_CLOSURE_SQL},
labeled AS (
  SELECT d.doc_id, d.lang,
    len(regexp_split_to_array(trim(d.text), '\\s+')) AS n_tokens,
    COALESCE(lab.component, d.doc_id) AS component
  FROM documents d LEFT JOIN lab ON d.doc_id = lab.id
),
assigned AS (
  SELECT *,
    CASE WHEN (component * 2654435761) % 100 < 80 THEN 'train'
         WHEN (component * 2654435761) % 100 < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM labeled
)
SELECT split, lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters
FROM assigned GROUP BY split, lang
ORDER BY split, lang
""",
    doc="LEAKAGE-SAFE train/val/test split: documents are assigned by "
    "the multiplicative hash of their near-dup CLUSTER label "
    "(apply_dedup's component), not their own id — so a near-duplicate "
    "family lands in exactly one split and eval can never see a "
    "training doc's twin (the contamination plain hash splits cannot "
    "prevent; tests assert zero clusters straddle splits).  Costs one "
    "components run over the pair relation + a label attach; the "
    "assignment itself stays a zero-shuffle projection.",
    tags=("dedup", "sampling", "split", "extension"),
    extended=True,
)
def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.dedup import apply_dedup
    from diabetes_etl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    pairs = DD.near_dup_edges(docs)
    labeled = apply_dedup(docs, pairs)
    bucket = (F.col("component") * F.lit(2654435761)) % 100
    assigned = labeled.select(
        "lang",
        "component",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    return (
        assigned.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.countDistinct("component").alias("n_clusters"),
        )
        .orderBy("split", "lang")
    )


# -- ER survivorship / golden record (operators/er.py, round-7) --------------

_GOLDEN_ORACLE = """
WITH RECURSIVE s AS (
  SELECT c_custkey, c_name,
         c_nationkey || '|' || c_mktsegment AS blk
  FROM customer
),
pairs AS (
  SELECT a.c_custkey AS ia, b.c_custkey AS ib
  FROM s a JOIN s b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 2
),
edges AS (
  SELECT ia AS a, ib AS b FROM pairs
  UNION SELECT ib, ia FROM pairs
),
reach(id, comp) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.id
),
lab AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),
cl AS (
  SELECT c.*, COALESCE(l.component, c.c_custkey) AS cluster_id
  FROM customer c LEFT JOIN lab l ON c.c_custkey = l.id
),
ranked AS (
  SELECT *,
    COUNT(*) OVER (PARTITION BY cluster_id) AS csize,
    row_number() OVER (
      PARTITION BY cluster_id ORDER BY c_acctbal DESC, c_custkey
    ) AS rn
  FROM cl
)
SELECT cluster_id,
  CAST(csize AS BIGINT) AS cluster_size,
  c_custkey AS golden_custkey,
  c_name AS golden_name,
  c_acctbal AS golden_acctbal,
  c_mktsegment AS golden_mktsegment
FROM ranked WHERE rn = 1 ORDER BY cluster_id
"""


@register(
    "er_golden_customers",
    oracle=_GOLDEN_ORACLE,
    doc="ER survivorship (operators/er.py:golden_records): fuzzy "
    "customer-name pairs blocked on (nation, segment) collapse into "
    "clusters via the iterative components operator (per-round "
    "parquet commits, auto star-switch — ER pair graphs CHAIN, "
    "sequential ids match their neighbours), then ONE window elects "
    "the golden record per cluster under the business rule "
    "(highest account balance, id tiebreak).  Singletons pass "
    "through as their own cluster, so the golden set is the full "
    "deduplicated master table.  The oracle replays blocking, a "
    "recursive-CTE closure, and the same election window.",
    tags=("er", "dedup", "survivorship", "extension"),
    extended=True,
)
def er_golden_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.er import (
        blocked_match_pairs,
        golden_records,
    )

    cust = load_table(spark, sf_dir, "customer")
    pairs = blocked_match_pairs(
        cust,
        id_col="c_custkey",
        name_col="c_name",
        block_col=F.concat(
            F.col("c_nationkey").cast("string"),
            F.lit("|"),
            F.col("c_mktsegment"),
        ),
        max_distance=2,
    )
    golden = golden_records(
        cust,
        pairs.select("id_a", "id_b"),
        id_col="c_custkey",
        survivorship=[F.col("c_acctbal").desc()],
    )
    return (
        golden.filter("is_golden")
        .select(
            "cluster_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("c_custkey").alias("golden_custkey"),
            F.col("c_name").alias("golden_name"),
            F.col("c_acctbal").alias("golden_acctbal"),
            F.col("c_mktsegment").alias("golden_mktsegment"),
        )
        .orderBy("cluster_id")
    )


# -- incremental MinHash dedup vs a persisted index (round-7) ----------------

_INC_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_D_SHINGLES} AS sh FROM documents
),
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
    ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
      AS jaccard_sim
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
)
SELECT
  CASE WHEN da % 2 = 1 THEN da ELSE db END AS new_id,
  CASE WHEN da % 2 = 1 THEN db ELSE da END AS matched_id,
  jaccard_sim,
  CASE WHEN da % 2 = 1 AND db % 2 = 1 THEN 'batch' ELSE 'index' END
    AS match_scope
FROM pairs WHERE jaccard_sim >= 0.8
ORDER BY new_id, matched_id
"""


@register(
    "dedup_incremental_minhash",
    oracle=_INC_ORACLE,
    doc="INCREMENTAL near-dup detection (operators/dedup.py:"
    "minhash_index/minhash_lsh_incremental): even doc_ids play the "
    "already-accepted corpus whose index (band rows + portable "
    "shingle-hash profiles) is all that persists; odd doc_ids are the "
    "ingest batch, matched against the index by ONE equi-join on "
    "(band_idx, band_hash) and against themselves through the bounded "
    "bucket pair generator, then exact-Jaccard-verified on the stored "
    "hash profiles.  Per-batch cost scales with the BATCH — "
    "historical text is never re-read, the index is a few fixed-width "
    "rows per historical doc.  8x4 banding recalls every >=0.8 pair "
    "at gate scale, so the exact all-pairs oracle applies verbatim "
    "(the dedup_minhash_lsh precedent).",
    tags=("dedup", "lsh", "incremental", "extension"),
    extended=True,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    idx_bands, idx_profiles = DD.minhash_index(
        old, "doc_id", "text", n=5, num_hashes=32, bands=8
    )
    return DD.minhash_lsh_incremental(
        idx_bands,
        idx_profiles,
        new,
        "doc_id",
        "text",
        n=5,
        num_hashes=32,
        bands=8,
        threshold=0.8,
    ).orderBy("new_id", "matched_id")


@register(
    "dedup_prefix_jaccard",
    # BRUTE-FORCE oracle: all doc pairs, exact shingle-set Jaccard.
    # The Spark side never forms this cross product — prefix filtering
    # generates candidates from an equi-join on each doc's rarest
    # shingles — but the lossless prefix-filtering lemma means its
    # output must equal the quadratic scan row-for-row, which is
    # exactly what this oracle checks (unlike dedup_ngram_jaccard,
    # whose length-band blocking is heuristic).
    oracle=f"""
WITH sets AS (
  SELECT doc_id, {_D_SHINGLES} AS ts FROM documents
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.ts, b.ts)) AS n_inter,
         len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS n_union
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_union AS BIGINT) AS n_union,
       CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard_sim
FROM pairs
WHERE n_inter >= 0.5 * n_union
ORDER BY doc_a, doc_b
""",
    doc="LOSSLESS exact set-similarity self-join (5-token-shingle "
    "Jaccard >= 0.5) via All-Pairs/PPJoin prefix filtering "
    "(operators/dedup.py:prefix_filter_jaccard_pairs): candidates come "
    "from an equi-join on each doc's RAREST shingles (prefix length "
    "n - ceil(t*n) + 1 under a global df-asc order) plus a size "
    "co-filter, then exact verification — provably equal to the "
    "brute-force quadratic scan the DuckDB oracle runs, without ever "
    "forming the cross product.  Completes the dedup family: exact "
    "(hash), heuristic-blocked (length band), probabilistic (MinHash/"
    "SimHash), and now exact-lossless sub-quadratic.",
    tags=("dedup", "extension"),
    extended=True,
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        DD.prefix_filter_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, shingle_n=5
        )
        .orderBy("doc_a", "doc_b")
    )


# -- C4-style line dedup with reconstruction ---------------------------------

_C4_K = 8
_C4_BLOCK = "slow"

_C4_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
lines AS (
  SELECT doc_id, i AS idx,
         array_to_string(
           list_slice(t, i * {_C4_K} + 1, i * {_C4_K} + {_C4_K}), ' ')
           AS line
  FROM toks,
       unnest(generate_series(0, (len(t) + {_C4_K - 1}) // {_C4_K} - 1))
         AS u(i)
),
flags AS (
  SELECT doc_id, idx, line,
         list_contains(string_split(line, ' '), '{_C4_BLOCK}') AS bad
  FROM lines
),
surv AS (
  SELECT doc_id, idx, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
  FROM flags WHERE NOT bad
),
per_doc AS (
  SELECT f.doc_id,
         count(*) AS n_lines,
         CAST(sum(CASE WHEN f.bad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rule_dropped
  FROM flags f GROUP BY f.doc_id
),
dups AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_dropped
  FROM surv WHERE rn > 1 GROUP BY doc_id
),
kept AS (
  SELECT doc_id,
         string_agg(line, ' ' ORDER BY idx) AS cleaned_text
  FROM surv WHERE rn = 1 GROUP BY doc_id
)
SELECT p.doc_id,
       p.n_lines,
       p.n_rule_dropped,
       coalesce(d.n_dup_dropped, 0) AS n_dup_dropped,
       p.n_lines - p.n_rule_dropped - coalesce(d.n_dup_dropped, 0)
         AS n_kept,
       coalesce(k.cleaned_text, '') AS cleaned_text
FROM per_doc p
LEFT JOIN dups d ON p.doc_id = d.doc_id
LEFT JOIN kept k ON p.doc_id = k.doc_id
"""


@register(
    "dedup_c4_line_clean",
    oracle=_C4_ORACLE,
    doc="C4-style line-level corpus cleaning with document "
    "RECONSTRUCTION (Raffel et al. 2020 §2.2, "
    f"operators/dedup.py:remove_duplicate_lines): {_C4_K}-token line "
    f"blocks, rule-drop of lines containing '{_C4_BLOCK}', corpus-wide "
    "first-occurrence line dedup (min (doc_id, idx) keeper — the "
    "ingestion-order tiebreak), then each document re-emits its kept "
    "lines in order.  The oracle replays the whole policy INCLUDING "
    "the rebuilt text, so reconstruction — not just the drop counts — "
    "is hash-checked.  Scale shape: dedup decisions shuffle only "
    "(md5-prefix, doc_id, idx); the drop-set joins back ∝ duplication "
    "rate; rule drops and the rebuild are narrow.",
    tags=("dedup", "c4", "lines", "extension"),
    extended=True,
)
def dedup_c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.dedup import remove_duplicate_lines

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicate_lines(
        docs, line_tokens=_C4_K, blocklist=(_C4_BLOCK,)
    )


# -- exact-substring span excision -------------------------------------------

_SP_K = 8

_SPAN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, i AS start,
         array_to_string(list_slice(t, i + 1, i + {_SP_K}), ' ') AS s
  FROM toks, unnest(generate_series(0, len(t) - {_SP_K})) AS u(i)
  WHERE len(t) >= {_SP_K}
),
dup AS (
  SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2
),
ranked AS (
  SELECT sh.doc_id, sh.start,
         row_number() OVER (PARTITION BY sh.s ORDER BY sh.doc_id, sh.start)
           AS rn
  FROM sh JOIN dup ON sh.s = dup.s
),
marked AS (SELECT doc_id, start FROM ranked WHERE rn > 1),
isl AS (
  SELECT doc_id, start,
         CASE WHEN start > coalesce(max(start + {_SP_K}) OVER (
                PARTITION BY doc_id ORDER BY start
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_isl
  FROM marked
),
grp AS (
  SELECT doc_id, start,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY start
                            ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
),
iv AS (
  SELECT doc_id, island, min(start) AS s, max(start) + {_SP_K} AS e
  FROM grp GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_spans_removed,
         CAST(sum(e - s) AS BIGINT) AS n_tokens_removed
  FROM iv GROUP BY doc_id
),
rebuilt AS (
  SELECT tk.doc_id,
         string_agg(tk.tok, ' ' ORDER BY tk.pos) AS cleaned_text
  FROM (
    SELECT doc_id, unnest(t) AS tok,
           unnest(generate_series(0, len(t) - 1)) AS pos
    FROM toks
  ) tk
  WHERE NOT EXISTS (
    SELECT 1 FROM iv
    WHERE iv.doc_id = tk.doc_id AND tk.pos >= iv.s AND tk.pos < iv.e
  )
  GROUP BY tk.doc_id
)
SELECT toks.doc_id,
       CAST(len(toks.t) AS BIGINT) AS n_tokens,
       coalesce(p.n_spans_removed, 0) AS n_spans_removed,
       coalesce(p.n_tokens_removed, 0) AS n_tokens_removed,
       coalesce(r.cleaned_text, '') AS cleaned_text
FROM toks
LEFT JOIN per_doc p ON toks.doc_id = p.doc_id
LEFT JOIN rebuilt r ON toks.doc_id = r.doc_id
"""


@register(
    "dedup_span_excision",
    oracle=_SPAN_ORACLE,
    doc="Exact-substring dedup WITH EXCISION (Lee et al. 2022's "
    "removal step; operators/dedup.py:remove_duplicate_spans): every "
    f"{_SP_K}-token span occurring verbatim in >= 2 documents keeps "
    "its first corpus occurrence (min (doc_id, position)) and is cut "
    "everywhere else; overlapping/touching cut spans merge into "
    "maximal intervals via windowed island detection OVER THE MARKED "
    "POSITIONS ONLY (∝ duplication, partitioned per doc), and each "
    "document re-emits its surviving tokens.  The oracle replays the "
    "whole policy including the rebuilt text.  Scale shape: shingles "
    "shuffle as (md5-prefix, doc, position); the interval arrays join "
    "back ∝ affected docs; the excision is a narrow position filter.",
    tags=("dedup", "substring", "excision", "extension"),
    extended=True,
)
def dedup_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.dedup import remove_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, k=_SP_K)


# -- incremental C4 line dedup against a persisted hash index ----------------

_C4I_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
lines AS (
  SELECT doc_id, i AS idx,
         array_to_string(
           list_slice(t, i * {_C4_K} + 1, i * {_C4_K} + {_C4_K}), ' ')
           AS line
  FROM toks,
       unnest(generate_series(0, (len(t) + {_C4_K - 1}) // {_C4_K} - 1))
         AS u(i)
),
flags AS (
  SELECT doc_id, idx, line,
         list_contains(string_split(line, ' '), '{_C4_BLOCK}') AS bad
  FROM lines
),
surv AS (
  SELECT doc_id, idx, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
  FROM flags WHERE NOT bad
),
per_doc AS (
  SELECT f.doc_id,
         count(*) AS n_lines,
         CAST(sum(CASE WHEN f.bad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rule_dropped
  FROM flags f GROUP BY f.doc_id
),
dups AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_dropped
  FROM surv WHERE rn > 1 GROUP BY doc_id
),
kept AS (
  SELECT doc_id,
         string_agg(line, ' ' ORDER BY idx) AS cleaned_text
  FROM surv WHERE rn = 1 GROUP BY doc_id
)
SELECT p.doc_id,
       p.n_lines,
       p.n_rule_dropped,
       coalesce(d.n_dup_dropped, 0) AS n_dup_dropped,
       p.n_lines - p.n_rule_dropped - coalesce(d.n_dup_dropped, 0)
         AS n_kept,
       coalesce(k.cleaned_text, '') AS cleaned_text
FROM per_doc p
LEFT JOIN dups d ON p.doc_id = d.doc_id
LEFT JOIN kept k ON p.doc_id = k.doc_id
WHERE p.doc_id * 2 > (SELECT max(doc_id) FROM documents)
"""


@register(
    "dedup_c4_incremental",
    oracle=_C4I_ORACLE,
    doc="CONTINUOUS-ingest C4 line cleaning (operators/dedup.py:"
    "remove_duplicate_lines_incremental): the lower-id half of the "
    "corpus plays the accumulated history — only its "
    "line_hash_index (one short hash row per distinct "
    "rule-surviving line, no text, no positions) persists — and the "
    "upper-id half arrives as a batch cleaned against that index.  "
    "Per-batch cost is ∝ batch plus one equi-join against the index "
    "(at most ONE index row per distinct line, so no bucket skew is "
    "possible by construction), and historical text is never "
    "re-read.  The oracle is the ONE-SHOT cleaner over the full "
    "corpus restricted to batch docs — the incremental path must "
    "reproduce it exactly, which IS the exactness contract.",
    tags=("dedup", "c4", "incremental", "extension"),
    extended=True,
)
def dedup_c4_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.dedup import (
        line_hash_index,
        remove_duplicate_lines_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("__mx"))
    with_mx = docs.crossJoin(F.broadcast(mx))
    history = with_mx.filter(F.col("doc_id") * 2 <= F.col("__mx")).drop(
        "__mx"
    )
    batch = with_mx.filter(F.col("doc_id") * 2 > F.col("__mx")).drop("__mx")
    idx = line_hash_index(
        history, line_tokens=_C4_K, blocklist=(_C4_BLOCK,)
    )
    cleaned, _ = remove_duplicate_lines_incremental(
        idx, batch, line_tokens=_C4_K, blocklist=(_C4_BLOCK,)
    )
    return cleaned


# -- bounded edit-distance name join -----------------------------------------

_ED_ORACLE = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_distance
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
  AND levenshtein(a.c_name, b.c_name) <= 1
ORDER BY id_a, id_b
"""


@register(
    "er_edit_distance_lossless",
    oracle=_ED_ORACLE,
    doc="LOSSLESS bounded edit-distance self-join on customer names "
    "(levenshtein <= 1; operators/er.py:edit_distance_pairs): "
    "candidates come from each name's max_dist*q+1 RAREST q-grams "
    "(global-df rare-first ordering — the prefix_filter trick, so the "
    "ubiquitous 'Customer#' grams never key the join), a length "
    "co-filter prunes in-join, and F.levenshtein verifies exactly.  "
    "The oracle is the BRUTE-FORCE all-pairs levenshtein join — "
    "losslessness of the prefix scheme is the checked property, the "
    "string-similarity analogue of dedup_prefix_jaccard.  Scale "
    "shape: gram df is a vocabulary-sized aggregate, the join keys on "
    "rare grams only, one levenshtein per surviving candidate.",
    tags=("er", "edit-distance", "extension"),
    extended=True,
)
def er_edit_distance_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.er import edit_distance_pairs

    cust = load_table(spark, sf_dir, "customer")
    return edit_distance_pairs(
        cust, "c_custkey", "c_name", max_dist=1, q=3
    ).orderBy("id_a", "id_b")


_OVERLAP_MINS = """MIN(xor(b, 153307352162749871)) AS m0,
    MIN(xor(b, 74922837739199681)) AS m1,
    MIN(xor(b, 529232184294725326)) AS m2,
    MIN(xor(b, 363407168092868589)) AS m3,
    MIN(xor(b, 464965269110098634)) AS m4,
    MIN(xor(b, 217082132513276762)) AS m5,
    MIN(xor(b, 388617822205370368)) AS m6,
    MIN(xor(b, 273560573251292631)) AS m7,
    MIN(xor(b, 456642232600311350)) AS m8,
    MIN(xor(b, 481694939222138980)) AS m9,
    MIN(xor(b, 38019731430059978)) AS m10,
    MIN(xor(b, 69071857923403933)) AS m11,
    MIN(xor(b, 306238162993057539)) AS m12,
    MIN(xor(b, 345149584737929983)) AS m13,
    MIN(xor(b, 191919841431250494)) AS m14,
    MIN(xor(b, 530179042305200133)) AS m15,
    MIN(xor(b, 423768122528862727)) AS m16,
    MIN(xor(b, 37284371365065571)) AS m17,
    MIN(xor(b, 81262499383865394)) AS m18,
    MIN(xor(b, 306374460917881412)) AS m19,
    MIN(xor(b, 442014189655327116)) AS m20,
    MIN(xor(b, 489215147674969543)) AS m21,
    MIN(xor(b, 3906538319515146)) AS m22,
    MIN(xor(b, 60756813980729814)) AS m23,
    MIN(xor(b, 200621289661537860)) AS m24,
    MIN(xor(b, 146579386651883273)) AS m25,
    MIN(xor(b, 267951980378672602)) AS m26,
    MIN(xor(b, 526416696815191690)) AS m27,
    MIN(xor(b, 26026036502140012)) AS m28,
    MIN(xor(b, 250875205319249776)) AS m29,
    MIN(xor(b, 67087230022323662)) AS m30,
    MIN(xor(b, 529619871313423082)) AS m31"""
_OVERLAP_AGREE = """(CASE WHEN a.m0 = b.m0 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m1 = b.m1 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m2 = b.m2 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m3 = b.m3 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m4 = b.m4 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m5 = b.m5 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m6 = b.m6 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m7 = b.m7 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m8 = b.m8 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m9 = b.m9 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m10 = b.m10 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m11 = b.m11 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m12 = b.m12 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m13 = b.m13 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m14 = b.m14 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m15 = b.m15 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m16 = b.m16 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m17 = b.m17 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m18 = b.m18 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m19 = b.m19 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m20 = b.m20 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m21 = b.m21 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m22 = b.m22 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m23 = b.m23 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m24 = b.m24 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m25 = b.m25 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m26 = b.m26 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m27 = b.m27 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m28 = b.m28 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m29 = b.m29 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m30 = b.m30 THEN 1 ELSE 0 END)
      + (CASE WHEN a.m31 = b.m31 THEN 1 ELSE 0 END)"""

_SOURCE_OVERLAP_ORACLE = f"""
WITH sh AS (
  SELECT source,
    unnest(list_transform(
      generate_series(1, greatest(len(t) - 2, 1)),
      i -> array_to_string(t[i:i+2], ' '))) AS tok
  FROM (SELECT source, {_D_TOKENS} AS t FROM documents)
), raw AS (
  SELECT source, ({_P_H1}) AS h1, ({_P_H2}) AS h2 FROM sh
), hb AS (
  SELECT DISTINCT source,
    ((h1 * 2654435761 + h2) % 1000000007) * CAST(1073741824 AS BIGINT)
      + ((h2 * 2246822519 + h1) % 999999937) AS b
  FROM raw
), sig AS (
  SELECT source, COUNT(*) AS n_sh,
    {{mins}}
  FROM hb GROUP BY source
)
SELECT a.source AS source_a, b.source AS source_b,
  CAST({{agree}} AS BIGINT) AS sig_agreements,
  CAST({{agree}} AS DOUBLE) / 32 AS est_jaccard,
  a.n_sh AS n_sh_a, b.n_sh AS n_sh_b
FROM sig a JOIN sig b ON a.source < b.source
ORDER BY source_a, source_b
""".format(mins=_OVERLAP_MINS, agree=_OVERLAP_AGREE)


@register(
    "corpus_source_overlap",
    oracle=_SOURCE_OVERLAP_ORACLE,
    doc="Pairwise estimated shingle-set Jaccard between corpus sources "
    "from per-source 32-slot MinHash signatures (operators/dedup.py:"
    "source_minhash_overlap) — 'how much does source A re-serve "
    "source B?' with constant mergeable per-source state (32 minima + "
    "a distinct count) and no text join.  Shingles are hashed once "
    "with the engine-portable polynomial hash, reduced to distinct "
    "(source, hash); XOR-by-key bijections give the permutations; the "
    "oracle mirrors the ESTIMATOR bit-exactly, not a tolerance.",
    tags=("dedup", "corpus", "minhash", "extension"),
    extended=True,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.source_minhash_overlap(
        docs, "source", "text", num_perms=32, shingle_n=3
    )


# -- content-defined chunking ------------------------------------------------

_CDC_W, _CDC_MASK = 8, 64
_CDC_WH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(generate_series(p - %d, p), "
    "j -> CAST(ascii(substr(text, j, 1)) AS BIGINT))), "
    "(acc, x) -> (acc * 131 + x) %% 1000000007)" % (_CDC_W - 1)
)
_CDC_FP = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(generate_series(st[keep[k]], en[keep[k]]), "
    "j -> CAST(ascii(substr(text, j, 1)) AS BIGINT))), "
    "(acc, x) -> (acc * 131 + x) % 1000000007)"
)

_CDC_ORACLE = f"""
WITH b AS (
  SELECT doc_id, text,
    CASE WHEN length(text) >= {_CDC_W} THEN
      list_filter(generate_series({_CDC_W}, length(text)),
                  p -> {_CDC_WH} % {_CDC_MASK} = 0)
    ELSE CAST([] AS BIGINT[]) END AS bounds
  FROM documents
),
se AS (
  SELECT doc_id, text,
    list_prepend(CAST(1 AS BIGINT),
                 list_transform(bounds, x -> x + 1)) AS st,
    list_append(bounds, CAST(length(text) AS BIGINT)) AS en
  FROM b
),
surv AS (
  SELECT doc_id, text, st, en,
    list_filter(generate_series(1, len(st)), i -> en[i] >= st[i]) AS keep
  FROM se
),
ch AS (
  SELECT doc_id, k AS chunk_idx,
    en[keep[k]] - st[keep[k]] + 1 AS chunk_len,
    {_CDC_FP} AS chunk_fp
  FROM surv, unnest(generate_series(1, len(keep))) AS t(k)
),
by_fp AS (
  SELECT chunk_fp, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk_fp
),
fl AS (
  SELECT ch.*, CASE WHEN nd >= 2 THEN 1 ELSE 0 END AS shared
  FROM ch JOIN by_fp USING (chunk_fp)
)
SELECT doc_id,
  COUNT(*) AS n_chunks,
  CAST(SUM(chunk_len) AS BIGINT) AS total_len,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    list(chunk_fp ORDER BY chunk_idx)),
    (acc, x) -> (acc * 131 + x) % 1000000007) AS chunks_fp,
  CAST(SUM(shared) AS BIGINT) AS n_shared_chunks,
  CAST(SUM(shared * chunk_len) AS BIGINT) AS shared_len
FROM fl GROUP BY doc_id
"""


@register(
    "dedup_cdc_chunks",
    oracle=_CDC_ORACLE,
    doc="Content-defined chunking dedup profile (LBFS/FastCDC family, "
    "gate-free variant): cut every document where the 8-char rolling "
    "window hash is 0 mod 64 (boundaries are pure LOCAL functions — "
    "an edit shifts at most one chunk), fingerprint each chunk with "
    "the portable polynomial hash, and count per-document chunks "
    "shared across >= 2 docs (operators/dedup.py:cdc_chunks/"
    "cdc_dedup_stats).  chunks_fp folds the ORDERED chunk hashes, so "
    "the oracle pins exact boundary positions; only (id, idx, len, "
    "fp) ever shuffles — chunk text never leaves its scan.",
    tags=("dedup", "cdc", "extension", "headline"),
    extended=True,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.cdc_dedup_stats(
        docs, window=_CDC_W, mask_mod=_CDC_MASK
    ).withColumnRenamed("id", "doc_id")


# -- phonetic (Soundex) blocking ----------------------------------------------


def _soundex_import():
    from diabetes_etl_spark.operators.er import soundex_sql

    return soundex_sql


@register(
    "er_soundex_blocks",
    oracle=f"""
WITH words AS (
  SELECT p_partkey, p_name, unnest(string_split(p_name, ' ')) AS w,
         unnest(generate_series(1, len(string_split(p_name, ' ')))) AS wi
  FROM part
),
keys AS (
  SELECT p_partkey, p_name,
    string_agg(CASE WHEN length(regexp_replace(upper(w), '[^A-Z]', '')) = 0 THEN '' ELSE substr(regexp_replace(upper(w), '[^A-Z]', ''), 1, 1) || substr(replace(substr(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(translate(regexp_replace(regexp_replace(upper(w), '[^A-Z]', ''), '[HW]', ''), 'ABCDEFGIJKLMNOPQRSTUVXYZ', '012301202245501262301202'), '00+', '0'), '11+', '1'), '22+', '2'), '33+', '3'), '44+', '4'), '55+', '5'), '66+', '6'), 2, length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(translate(regexp_replace(regexp_replace(upper(w), '[^A-Z]', ''), '[HW]', ''), 'ABCDEFGIJKLMNOPQRSTUVXYZ', '012301202245501262301202'), '00+', '0'), '11+', '1'), '22+', '2'), '33+', '3'), '44+', '4'), '55+', '5'), '66+', '6'))), '0', '') || '000', 1, 3) END, '-' ORDER BY wi) AS block_key
  FROM words GROUP BY p_partkey, p_name
)
SELECT block_key, COUNT(*) AS n_parts,
  COUNT(DISTINCT p_name) AS n_names,
  MIN(p_partkey) AS min_partkey
FROM keys GROUP BY block_key
""",
    doc="Phonetic blocking for entity resolution: every part name's "
    "words map through a PORTABLE Soundex (identical translate+regexp "
    "chain on both engines — Spark's builtin variant is deliberately "
    "not used so the oracle can replay it; operators/er.py:"
    "soundex_sql), the per-name key is the '-'-join of word codes, "
    "and blocks aggregate to (size, distinct names, min key).  "
    "Blocking is THE standard ER fan-out bound: candidate pairs come "
    "from within blocks only — block sizes are the quantity this "
    "query audits.  All string expressions are codegen-side; the "
    "only shuffle carries (partkey, word-index, 4-char code).",
    tags=("er", "phonetic", "blocking", "extension"),
    extended=True,
)
def er_soundex_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    soundex_sql = _soundex_import()
    part = load_table(spark, sf_dir, "part")
    words = part.select(
        "p_partkey",
        "p_name",
        F.posexplode(F.split(F.col("p_name"), " ")).alias("wi", "w"),
    ).withColumn("k", F.expr(soundex_sql("w")))
    keys = words.groupBy("p_partkey", "p_name").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(wi, k))), "
                   "s -> s.k)"),
            "-",
        ).alias("block_key")
    )
    return keys.groupBy("block_key").agg(
        F.count("*").alias("n_parts"),
        F.countDistinct("p_name").alias("n_names"),
        F.min("p_partkey").alias("min_partkey"),
    )


# -- winnowing fingerprints ----------------------------------------------------

_WN_K, _WN_W, _WN_M, _WN_PC = 5, 8, 1_000_000_007, 4096

_WN_ORACLE = f"""
WITH ch0 AS (
  SELECT doc_id, text, unnest(generate_series(1, length(text))) AS pos
  FROM documents
),
chc AS (
  SELECT doc_id, pos,
    CAST(ascii(substr(text, CAST(pos AS INT), 1)) AS BIGINT) AS c
  FROM ch0
),
g AS (
  SELECT a.doc_id, a.pos AS p,
    ((((a.c * 131 + b.c) % {_WN_M} * 131 + c.c) % {_WN_M}
      * 131 + d.c) % {_WN_M} * 131 + e.c) % {_WN_M} AS gh
  FROM chc a
  JOIN chc b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN chc c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
  JOIN chc d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3
  JOIN chc e ON a.doc_id = e.doc_id AND e.pos = a.pos + 4
),
pv AS (
  SELECT doc_id, p,
    gh * {_WN_PC} + {_WN_PC - 1} - (p - 1) % {_WN_PC} AS v
  FROM g
),
wm AS (
  SELECT doc_id, p,
    MIN(v) OVER (PARTITION BY doc_id ORDER BY p
      ROWS BETWEEN CURRENT ROW AND {_WN_W - 1} FOLLOWING) AS vm,
    COUNT(*) OVER (PARTITION BY doc_id) AS ng
  FROM pv
),
sel AS (
  SELECT DISTINCT doc_id, vm // {_WN_PC} AS fp
  FROM wm WHERE p <= ng - {_WN_W - 1} OR (ng < {_WN_W} AND p = 1)
),
by_fp AS (
  SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM sel GROUP BY fp
)
SELECT s.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_fps,
  CAST(SUM(CASE WHEN b.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
  list_reduce(list_prepend(CAST(0 AS BIGINT), list(s.fp ORDER BY s.fp)),
    (a, x) -> (a * 131 + x) % {_WN_M}) AS sel_fp
FROM sel s JOIN by_fp b USING (fp)
GROUP BY s.doc_id
"""


@register(
    "dedup_winnow_fingerprints",
    oracle=_WN_ORACLE,
    doc=f"Winnowing fingerprints (Schleimer-Wilkerson-Aiken 2003, the "
    f"MOSS algorithm; k={_WN_K} char-grams, window {_WN_W}): every "
    "window keeps its minimum gram hash (rightmost on ties via the "
    "packed position tie-break), guaranteeing any shared substring "
    f"of length >= {_WN_W + _WN_K - 1} shares a fingerprint while "
    f"keeping only ~2/{_WN_W + 1} of grams — the density-guaranteed "
    "middle ground between exact chunk hashing (CDC) and MinHash.  "
    "Per-doc arrays are HOISTED before the selection lambdas (the "
    "CDC O(len^2) lesson); sharing joins on 8-byte fps only "
    "(operators/dedup.py:winnow_fingerprints/winnow_share_stats).  "
    "The oracle replays selection RELATIONALLY (5-way char join + "
    "frame MIN) — no DuckDB lambda binding risk.",
    tags=("dedup", "winnowing", "extension"),
    extended=True,
)
def dedup_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        DD.winnow_share_stats(docs, k=_WN_K, window=_WN_W)
        .withColumnRenamed("id", "doc_id")
    )


# -- containment pairs ----------------------------------------------------------

_CN_N, _CN_TAU, _CN_CAP, _CN_MIN = 5, 0.8, 20, 3
_CN_SH = (
    "list_distinct(list_transform("
    "  list_transform(generate_series(1, greatest(len(tk) - %d, 1)),"
    "    i -> array_to_string(tk[i:i+%d], ' ')),"
    "  s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)))"
    % (_CN_N - 1, _CN_N - 1)
)

_CN_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id, unnest({_CN_SH}) AS h
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(text), '\s+') AS tk
        FROM documents)
),
dfreq AS (SELECT h, COUNT(*) AS dfc FROM sh GROUP BY h),
capped AS (
  SELECT s.doc_id, s.h FROM sh s JOIN dfreq d ON s.h = d.h
  WHERE d.dfc <= {_CN_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS size FROM capped GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id != b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_a, s.doc_b, CAST(s.shared AS BIGINT) AS shared,
  CAST(z.size AS BIGINT) AS size_a,
  ROUND(CAST(s.shared AS DOUBLE) / z.size, 9) AS containment
FROM shared s JOIN sizes z ON s.doc_a = z.doc_id
WHERE z.size >= {_CN_MIN}
  AND ROUND(CAST(s.shared AS DOUBLE) / z.size, 9) >= {_CN_TAU}
"""


@register(
    "dedup_containment_pairs",
    oracle=_CN_ORACLE,
    doc=f"Directional containment near-dup pairs (Broder's second "
    f"resemblance measure, C(A,B) = |A∩B|/|A| >= {_CN_TAU} over "
    f"{_CN_N}-token shingles): catches a document EMBEDDED in a "
    "larger one, which symmetric Jaccard dilutes away.  Semantics "
    f"over the df<={_CN_CAP} stop-shingle-capped universe — the cap "
    "is what bounds the inverted-index self-join's per-key fan-out "
    "at scale (operators/dedup.py:containment_pairs); only "
    "(md5-prefix hash, id) rows ever shuffle.",
    tags=("dedup", "containment", "extension"),
    extended=True,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return DD.containment_pairs(
        docs, n=_CN_N, threshold=_CN_TAU, df_cap=_CN_CAP,
        min_shingles=_CN_MIN,
    )


# -- Fellegi-Sunter probabilistic linkage (round 9) --------------------------
#
# The classical probabilistic record-linkage decision model (Fellegi &
# Sunter 1969): candidate pairs from blocking, a per-field agreement
# vector, and a log-likelihood-ratio score sum(ln(m/u) if agree else
# ln((1-m)/(1-u))) classified against upper/lower thresholds into
# match / possible / non-match.  The m/u parameters are fixed,
# documented priors (the EM-estimated variant changes the parameters,
# not the plan shape); their ln-ratios are quantized to 9 decimals in
# PYTHON once and embedded as identical literals in both engines, so
# the score is a sum of exact constants selected by integer
# agreements — no runtime transcendentals at all.

import math as _math

_FS_FIELDS = {
    # field -> (m = P(agree|match), u = P(agree|unmatch))
    "name": (0.90, 0.05),
    "prefix": (0.85, 0.10),
    "acctbal": (0.80, 0.02),
}
_FS_W = {
    f: (
        round(_math.log(m / u), 9),
        round(_math.log((1 - m) / (1 - u)), 9),
    )
    for f, (m, u) in _FS_FIELDS.items()
}
_FS_UPPER, _FS_LOWER = 3.0, -3.0


def _fs_score_sql(a: str) -> str:
    terms = [
        f"CASE WHEN agree_{f} THEN {w_a} ELSE {w_d} END"
        for f, (w_a, w_d) in _FS_W.items()
    ]
    return "ROUND(" + " + ".join(terms) + ", 9)"


_FS_ORACLE = f"""
WITH blocked AS (
  SELECT c_custkey, c_name, c_acctbal,
    c_nationkey || '|' || c_mktsegment AS blk
  FROM customer
),
pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
    levenshtein(a.c_name, b.c_name) <= 2 AS agree_name,
    substr(a.c_name, 1, 10) = substr(b.c_name, 1, 10) AS agree_prefix,
    ABS(a.c_acctbal - b.c_acctbal) < 100.0 AS agree_acctbal
  FROM blocked a JOIN blocked b
    ON a.blk = b.blk AND a.c_custkey < b.c_custkey
),
scored AS (
  SELECT *, {_fs_score_sql("x")} AS score FROM pairs
)
SELECT id_a, id_b, agree_name, agree_prefix, agree_acctbal, score,
  CASE WHEN score >= {_FS_UPPER} THEN 'match'
       WHEN score <= {_FS_LOWER} THEN 'non-match'
       ELSE 'possible' END AS decision
FROM scored
WHERE score > {_FS_LOWER}
ORDER BY id_a, id_b
"""


@register(
    "er_fellegi_sunter",
    oracle=_FS_ORACLE,
    doc="Fellegi-Sunter probabilistic record linkage over "
    "(nation,segment)-blocked customer pairs: per-field agreement "
    "vector (edit-distance name match, 10-char prefix, account "
    "balance within 100), log-likelihood-ratio score from fixed "
    "documented m/u priors — the ln(m/u) weights are quantized once "
    "in Python and embedded as IDENTICAL literals in both engines "
    "(zero runtime transcendentals) — and the classic "
    "match/possible/non-match three-way decision; clear non-matches "
    "are dropped (the blocking bound already keeps pairs linear).  "
    "Scale: pairs exist only within blocks (the standard ER fan-out "
    "bound), one shuffle on the block key.",
    tags=("er", "linkage", "probabilistic", "extension"),
    extended=True,
)
def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    blocked = cust.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.concat(
            F.col("c_nationkey").cast("string"),
            F.lit("|"),
            F.col("c_mktsegment"),
        ).alias("blk"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_custkey").alias("id_a"),
        F.col("b.c_custkey").alias("id_b"),
        (
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 2
        ).alias("agree_name"),
        (
            F.substring(F.col("a.c_name"), 1, 10)
            == F.substring(F.col("b.c_name"), 1, 10)
        ).alias("agree_prefix"),
        (
            F.abs(F.col("a.c_acctbal") - F.col("b.c_acctbal"))
            < F.lit(100.0)
        ).alias("agree_acctbal"),
    )
    score = F.round(
        sum(
            F.when(F.col(f"agree_{f}"), F.lit(w_a)).otherwise(
                F.lit(w_d)
            )
            for f, (w_a, w_d) in _FS_W.items()
        ),
        9,
    )
    scored = pairs.withColumn("score", score)
    return (
        scored.where(F.col("score") > F.lit(_FS_LOWER))
        .select(
            "id_a",
            "id_b",
            "agree_name",
            "agree_prefix",
            "agree_acctbal",
            "score",
            F.when(F.col("score") >= F.lit(_FS_UPPER), "match")
            .when(F.col("score") <= F.lit(_FS_LOWER), "non-match")
            .otherwise("possible")
            .alias("decision"),
        )
        .orderBy("id_a", "id_b")
    )


# -- Jaro-Winkler fuzzy pairs (round 10) --------------------------------------


def _jw_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.er import jaro_winkler_steps

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )
    a = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
    )
    b = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
    )
    pairs = a.join(b, ["brand", "size"]).filter(
        F.col("key_a") < F.col("key_b")
    )
    scored = jaro_winkler_steps(pairs, "name_a", "name_b")
    return (
        scored.filter(F.col("jw_sim") >= 0.82)
        .select(
            "key_a",
            "key_b",
            "name_a",
            "name_b",
            F.round("jw_sim", 9).alias("jw_sim"),
        )
        .orderBy("key_a", "key_b")
    )


register(
    "er_jaro_winkler_pairs",
    oracle="""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
  a.p_name AS name_a, b.p_name AS name_b,
  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 9) AS jw_sim
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.82
ORDER BY key_a, key_b
""",
    doc="Jaro-Winkler fuzzy name matching over (brand, size)-blocked "
    "part pairs — an operator Spark LACKS (no jaro builtin), rebuilt "
    "as pure Catalyst sequence folds in "
    "operators/er.py:jaro_winkler_steps: greedy window matching with "
    "a BIGINT used-position bitmask, matched-substring transposition "
    "count, the (c/|s| + c/|t| + (c-tr)/c)/3 Jaro score and the "
    "classic Winkler prefix bonus (weight 0.1, max 4 chars, 0.7 "
    "boost threshold).  The oracle is DuckDB's BUILT-IN "
    "jaro_winkler_similarity — the strongest possible check: an "
    "independent C++ implementation must agree to 9 decimals on "
    "every surviving pair (bit-identical doubles verified on the "
    "textbook constants AND a boost-threshold discriminator in "
    "tests/test_graph_er.py).  Scan-local per-pair bit arithmetic "
    "after an equi-join on the blocking key: no UDF, no shuffle "
    "beyond the blocked join, complements the levenshtein and "
    "Soundex blocks in the ER family.",
    tags=("er", "fuzzy", "jaro-winkler", "extension"),
    extended=True,
)(_jw_pairs)


# -- DBSCAN density clustering over the near-dup relation (round 10) -----------


def _dbscan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.clustering import dbscan_labels

    docs = load_table(spark, sf_dir, "documents")
    # Same edge relation as dedup_components: eps-neighbourhood =
    # 5-gram Jaccard >= 0.8.
    pairs = DD.near_dup_edges(docs)
    roles = dbscan_labels(pairs, "doc_a", "doc_b", min_pts=3)
    return (
        docs.select(F.col("doc_id"))
        .join(roles.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("role"), F.lit("noise")).alias("role"),
            F.col("component").cast("bigint").alias("cluster"),
        )
    )


register(
    "cluster_dbscan_docs",
    oracle=f"""
{_JACCARD_EDGES_SQL},
deg AS (SELECT a, COUNT(*) + 1 AS n_eps FROM edges GROUP BY a),
core AS (SELECT a AS id FROM deg WHERE n_eps >= 3),
core_edges AS (
  SELECT e.a, e.b FROM edges e
  JOIN core ca ON ca.id = e.a
  JOIN core cb ON cb.id = e.b
),
reach(id, comp) AS (
  SELECT a, a FROM core_edges
  UNION
  SELECT e.a, r.comp FROM core_edges e JOIN reach r ON e.b = r.id
),
lab AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),
comp AS (
  SELECT id, component FROM lab
  UNION ALL
  SELECT c.id, c.id FROM core c
  WHERE c.id NOT IN (SELECT id FROM lab)
),
border AS (
  SELECT e.a AS id, MIN(cm.component) AS component
  FROM edges e
  JOIN core cb ON cb.id = e.b
  JOIN comp cm ON cm.id = e.b
  WHERE e.a NOT IN (SELECT id FROM core)
  GROUP BY e.a
),
roles AS (
  SELECT id, 'core' AS role, component FROM comp
  UNION ALL
  SELECT id, 'border', component FROM border
)
SELECT d.doc_id,
  COALESCE(r.role, 'noise') AS role,
  CAST(r.component AS BIGINT) AS cluster
FROM documents d LEFT JOIN roles r ON r.id = d.doc_id
""",
    doc="DBSCAN density clustering over the document corpus with the "
    "5-gram Jaccard >= 0.8 near-dup relation as the eps-neighbourhood "
    "and minPts = 3: CORE docs sit in locally dense near-dup regions "
    "(>= 2 neighbours + self), BORDER docs touch a core without being "
    "one (cluster = MIN core-neighbour component, deterministic), "
    "everything else is NOISE — the density/noise split plain "
    "connected components (dedup_components) cannot express, and the "
    "standard template-flood detector (boilerplate families are "
    "dense; genuine one-off near-dups stay sparse).  Clusters are "
    "connected components over CORE-CORE edges only (textbook "
    "DBSCAN), via the same O(log^2 n) min-label operator; isolated "
    "cores head singleton clusters.  Edge generation is the "
    "LSH-banded + small-corpus-exact-unioned relation of "
    "dedup_components (recall note there); everything downstream is "
    "degree-bounded joins and one components run.  Scale: identical "
    "to dedup_components plus two semi-joins.",
    tags=("dedup", "clustering", "dbscan", "extension", "headline"),
    extended=True,
)(_dbscan_docs)


# -- sorted-neighborhood ER blocking (round 10) --------------------------------


def _snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.ids import assign_global_ids

    names = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    # numeric 8-char-prefix key so the global rank rides the
    # range-partitioned two-pass id machinery (never a single-partition
    # row_number): ASCII < 0x80 keeps the packed BIGINT positive, and
    # (key, name) order == ORDER BY name exactly (space pads < every
    # letter), so the oracle can rank by plain p_name
    keyed = names.withColumn(
        "_k",
        F.conv(F.hex(F.rpad(F.col("p_name"), 8, " ")), 16, 10).cast(
            "long"
        ),
    )
    ranked = assign_global_ids(
        keyed, ["_k", "p_name"], id_name="rk", bucket_col="_k"
    ).select("p_name", "rk")
    offs = ranked.withColumn(
        "off", F.explode(F.sequence(F.lit(1), F.lit(4)))
    ).select(
        F.col("p_name").alias("name_a"),
        (F.col("rk") + F.col("off")).alias("rk_b"),
    )
    pairs = offs.join(
        ranked.select(
            F.col("p_name").alias("name_b"), F.col("rk").alias("rk_b")
        ),
        "rk_b",
    )
    return (
        pairs.select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("distance"),
        )
        .where(F.col("distance") <= 8)
    )


register(
    "er_sorted_neighborhood",
    oracle="""
WITH names AS (SELECT DISTINCT p_name FROM part),
r AS (SELECT p_name, ROW_NUMBER() OVER (ORDER BY p_name) AS rk FROM names),
p AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         levenshtein(a.p_name, b.p_name) AS distance
  FROM r a JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + 4
)
SELECT name_a, name_b, CAST(distance AS INT) AS distance
FROM p WHERE distance <= 8
""",
    doc="Sorted-neighborhood ER blocking (Hernandez & Stolfo 1995): "
    "sort the entity names once, compare each to its next w-1 = 4 "
    "neighbours in sort order, keep edit distance <= 8 — the THIRD "
    "blocking strategy in the ER family (key blocking = "
    "er_fuzzy_name_pairs, phonetic blocking = er_soundex_blocks; SNM "
    "is the one that catches matches straddling block boundaries, at "
    "exactly w*n candidate pairs).  The global rank is the "
    "range-partitioned two-pass assign_global_ids machinery (a packed "
    "8-char-prefix BIGINT buckets the sort; (key, name) order equals "
    "plain name order, which the oracle uses) — NEVER a "
    "single-partition row_number; neighbour pairs are one equi-join "
    "on rank after a 4-way offset explode; levenshtein is native.  "
    "Scale: rank two-pass + one rank-keyed shuffle, pair volume w*n "
    "by construction regardless of name skew.",
    tags=("er", "dedup", "blocking", "extension"),
    extended=True,
)(_snm_pairs)


@register(
    "dedup_repeated_span_stats",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents
),
posx AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - 8 + 1)) AS i
  FROM toks WHERE len(w) >= 8
),
sh AS (
  SELECT doc_id, i - 1 AS pos,
    substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 16) AS h
  FROM posx
),
dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
p AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (h)),
isl AS (
  SELECT doc_id, pos,
    SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
      AS span_seq
  FROM (SELECT doc_id, pos,
          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM p) lagged
),
spans AS (
  SELECT doc_id, span_seq, MAX(pos) + 8 - MIN(pos) AS span_len,
    COUNT(*) AS n_pos
  FROM isl GROUP BY doc_id, span_seq
),
per AS (
  SELECT doc_id, COUNT(*) AS n_spans, SUM(span_len) AS dup_tokens,
    MAX(span_len) AS longest_span, SUM(n_pos) AS n_dup_positions
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(len(t.w) AS BIGINT) AS n_tokens,
  CAST(COALESCE(per.n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
  CAST(COALESCE(per.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(COALESCE(per.dup_tokens, 0) AS BIGINT) AS dup_tokens,
  CAST(COALESCE(per.longest_span, 0) AS BIGINT) AS longest_span,
  ROUND(CAST(COALESCE(per.dup_tokens, 0) AS DOUBLE)
        / NULLIF(len(t.w), 0), 9) AS dup_fraction
FROM toks t LEFT JOIN per USING (doc_id)
ORDER BY doc_id
""",
    doc="Maximal duplicated-span formation — the CUT-LIST half of "
    "exact-substring dedup (Lee et al. 2022) that "
    "dedup_substring_spans' position counts overstate: consecutive "
    "duplicated 8-gram positions share 7 tokens, so positions within "
    "k of each other merge into one maximal span (gaps-and-islands "
    "per document, the events_sessionize machinery re-aimed at token "
    "offsets).  Per document: span count, the union token coverage "
    "(never double-counts overlap), the longest span, and the "
    "dup_fraction a removal policy thresholds on "
    "(operators/dedup.py:repeated_span_stats).  Text never shuffles; "
    "the span merge windows are partitioned BY DOCUMENT over the "
    "duplicated subset only, which scales with the corpus' "
    "duplication rate, not its size.",
    tags=("dedup", "substring", "spans", "extension"),
    extended=True,
)
def dedup_repeated_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.dedup import repeated_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return repeated_span_stats(docs, k=8).orderBy("doc_id")
