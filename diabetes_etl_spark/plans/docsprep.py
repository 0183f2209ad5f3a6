"""End-to-end LLM training-data preparation pipeline over `documents`:
exact dedup -> MinHash-LSH near-dup removal -> quality gate -> per-
language corpus/token budget.  One composed DataFrame plan — the shape
a 100 TB pre-training data pipeline runs nightly, assembled from the
individually-gated operators (operators/dedup.py, operators/text.py).

Scale notes: stage 1 is one (md5, id) hash-agg shuffle; stage 2 is the
bucketed MinHash path (bounded buckets, no quadratic block scan) whose
pair output is far smaller than the corpus; stages 3-4 are native
expressions folded into one scan of the survivors plus a tiny
per-language aggregate.  The only text-payload shuffle is the exact-
verification join of stage 2's candidate ids.

The oracle replays the pipeline with UNBANDED exact all-pairs Jaccard
as the near-dup ground truth (quadratic, fine at oracle scale): the
MinHash stage's gate recall is 1.0 (tests/test_dedup.py), and its
candidates are exact-verified (precision 1.0), so the approximate
plan's survivors equal the exact pipeline's — any recall regression
fails the local oracle suite instead of hiding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.operators import dedup as DD
from diabetes_etl_spark.operators import text as TX
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table

_D_TOKENS = r"regexp_split_to_array(trim(text), '\s+')"
_D_SHINGLES = (
    f"list_distinct(list_transform("
    f"generate_series(1, greatest(len({_D_TOKENS}) - 4, 1)), "
    f"i -> array_to_string({_D_TOKENS}[i:i+4], ' ')))"
)
_D_STOPS_EN = (
    r"length(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b'))"
)
_D_QUALITY = f"""ROUND(
      0.4 * least(len({_D_TOKENS}) / CAST(100 AS DOUBLE), 1.0)
    + 0.3 * least({_D_STOPS_EN} / CAST(10 AS DOUBLE), 1.0)
    + 0.3 * (CAST(len(list_distinct({_D_TOKENS})) AS DOUBLE)
             / len({_D_TOKENS})), 6)"""

_DOCS_PREP_ORACLE = f"""
WITH keep AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
docs1 AS (
  SELECT d.* FROM documents d JOIN keep USING (doc_id)
),
sh AS (
  SELECT doc_id, {_D_SHINGLES} AS sh FROM docs1
),
neardup_drop AS (
  SELECT DISTINCT b.doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8
),
docs2 AS (
  SELECT * FROM docs1
  WHERE doc_id NOT IN (SELECT doc_id FROM neardup_drop)
),
scored AS (
  SELECT lang,
    len({_D_TOKENS}) AS n_tokens,
    len(regexp_extract_all(text,
        ' ?[A-Za-z]+| ?[0-9]{{1,3}}| ?[^A-Za-z0-9\\s]+')) AS n_subwords,
    {_D_QUALITY} AS q
  FROM docs2
)
SELECT lang,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(SUM(n_subwords) AS BIGINT) AS total_subwords,
  CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_quality
FROM scored
WHERE q >= 0.5
GROUP BY lang
ORDER BY lang
"""


@register(
    "docs_prep_pipeline",
    oracle=_DOCS_PREP_ORACLE,
    doc="E2E training-data prep: exact dedup (md5 min-id), MinHash-LSH "
    "near-dup removal (drop the larger id of each verified >=0.8 pair), "
    "quality gate >= 0.5, per-language doc/token/subword budget.  "
    "Composes the gated dedup/text operators into the nightly corpus "
    "pipeline shape; oracle replays it with unbanded exact Jaccard.",
    tags=("dedup", "text", "pipeline", "extension", "headline"),
    extended=True,
)
def docs_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    # stage 1: exact dedup — keep the canonical min doc_id per md5 group
    keep = DD.exact_dedup_groups(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    docs1 = docs.join(keep, "doc_id", "semi")

    # stage 2: near-dup removal on the scale path (bucketed MinHash,
    # exact-verified candidates); canonical pairs have doc_a < doc_b,
    # so dropping every doc_b keeps the smallest id of each dup group
    # that the pair relation connects directly
    pairs = DD.minhash_lsh_pairs(
        docs1, "doc_id", "text", n=5, num_hashes=32, bands=8, threshold=0.8
    )
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    docs2 = docs1.join(dropped, "doc_id", "anti")

    # stages 3-4: quality gate + per-language budget, one scan
    t = F.col("text")
    scored = docs2.select(
        "lang",
        TX.token_count(t).cast("long").alias("n_tokens"),
        TX.subword_count(t).cast("long").alias("n_subwords"),
        TX.quality_score(t).alias("q"),
    ).filter(F.col("q") >= 0.5)
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_subwords").alias("total_subwords"),
            (
                F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("avg_quality"),
        )
        .orderBy("lang")
    )


# -- round-8 docs-prep pipeline v2: clean -> score -> select -----------------

_V2_K = 8
_V2_BLOCK = "slow"
_V2_B = 64
_V2_TOPK = 50

_V2_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
),
lines AS (
  SELECT doc_id, i AS idx,
         array_to_string(
           list_slice(t, i * {_V2_K} + 1, i * {_V2_K} + {_V2_K}), ' ')
           AS line
  FROM toks,
       unnest(generate_series(0, (len(t) + {_V2_K - 1}) // {_V2_K} - 1))
         AS u(i)
),
surv AS (
  SELECT doc_id, idx, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
  FROM lines
  WHERE NOT list_contains(string_split(line, ' '), '{_V2_BLOCK}')
),
kept AS (
  SELECT doc_id,
         string_agg(line, ' ' ORDER BY idx) AS ct,
         count(*) AS n_kept
  FROM surv WHERE rn = 1 GROUP BY doc_id
),
survd AS (
  SELECT d.doc_id, d.lang, k.ct
  FROM documents d JOIN kept k ON d.doc_id = k.doc_id
  WHERE k.n_kept >= 2
),
ctoks AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(ct), '\\s+') AS t
  FROM survd
),
bk AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(g), 1, 8))::BIGINT % {_V2_B} AS b
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS g
    FROM ctoks WHERE len(t) >= 2
  )
),
cr AS (SELECT b, count(*) AS cr FROM bk GROUP BY b),
tc AS (SELECT b, count(*) AS tc FROM bk WHERE lang = 'en' GROUP BY b),
tot AS (
  SELECT (SELECT count(*) FROM bk) AS nr,
         (SELECT count(*) FROM bk WHERE lang = 'en') AS nt
),
llr AS (
  SELECT s.b,
         round(ln(CAST((coalesce(tc.tc, 0) + 1) * (tot.nr + {_V2_B})
                       AS DOUBLE)
                  / CAST((coalesce(cr.cr, 0) + 1) * (tot.nt + {_V2_B})
                         AS DOUBLE)), 9) AS llr
  FROM (SELECT unnest(generate_series(0, {_V2_B - 1})) AS b) s
  LEFT JOIN tc ON s.b = tc.b
  LEFT JOIN cr ON s.b = cr.b
  CROSS JOIN tot
),
scored AS (
  SELECT bk.doc_id,
         CAST(SUM(CAST(llr.llr AS DECIMAL(38,12))) AS DOUBLE) AS lw
  FROM bk JOIN llr ON bk.b = llr.b
  GROUP BY bk.doc_id
),
enr AS (
  SELECT s.doc_id, c.lang, len(c.t) AS n_tokens_kept, s.lw
  FROM scored s JOIN ctoks c ON s.doc_id = c.doc_id
),
sel AS (SELECT doc_id FROM enr ORDER BY lw DESC, doc_id LIMIT {_V2_TOPK})
SELECT lang,
       count(*) AS n_docs,
       CAST(SUM(n_tokens_kept) AS BIGINT) AS total_tokens_kept,
       CAST(SUM(CAST(lw AS DECIMAL(38,12))) AS DOUBLE) / count(*)
         AS avg_log_weight,
       CAST(SUM(CASE WHEN enr.doc_id IN (SELECT doc_id FROM sel)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
FROM enr
GROUP BY lang
ORDER BY lang
"""


@register(
    "docs_prep_pipeline_v2",
    oracle=_V2_ORACLE,
    doc="Round-8 docs-prep pipeline: C4-style line cleaning with "
    "reconstruction (rule drop + corpus-wide first-occurrence line "
    "dedup) -> survivors with >= 2 kept lines -> DSIR hashed-bigram "
    "LLR scoring of the CLEANED text against the lang='en' target -> "
    f"deterministic global top-{_V2_TOPK} selection (log_weight desc, "
    "doc_id tiebreak) -> per-language budget (docs, kept tokens, "
    "decimal-pinned mean log-weight, selected count).  Every stage is "
    "an individually-gated round-8 operator; the oracle replays the "
    "ENTIRE chain, cleaned text through selection, in SQL.  Scale "
    "shape inherits the stages': line dedup shuffles hashes not text, "
    "the DSIR bucket models are B-row aggregates, selection is a "
    "TakeOrderedAndProject top-k — no corpus-wide sort.",
    tags=("dedup", "dsir", "pipeline", "extension"),
    extended=True,
)
def docs_prep_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.functions.numeric import dec_sum
    from diabetes_etl_spark.operators.dedup import remove_duplicate_lines
    from diabetes_etl_spark.operators.sampling import dsir_llr_scores

    docs = load_table(spark, sf_dir, "documents")
    c4 = remove_duplicate_lines(
        docs, line_tokens=_V2_K, blocklist=(_V2_BLOCK,)
    )
    survd = (
        c4.filter(F.col("n_kept") >= 2)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "cleaned_text")
    )
    scored = dsir_llr_scores(
        survd,
        survd.filter(F.col("lang") == "en"),
        text_col="cleaned_text",
        n_buckets=_V2_B,
    )
    enr = scored.join(survd, "doc_id").select(
        "doc_id",
        "lang",
        TX.token_count(F.col("cleaned_text")).cast("long").alias(
            "n_tokens_kept"
        ),
        F.col("log_weight").alias("lw"),
    )
    sel = (
        enr.orderBy(F.desc("lw"), F.asc("doc_id"))
        .limit(_V2_TOPK)
        .select("doc_id", F.lit(1).alias("__sel"))
    )
    return (
        enr.join(sel, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens_kept").alias("total_tokens_kept"),
            (dec_sum(F.col("lw"), 12, 38) / F.count("*")).alias(
                "avg_log_weight"
            ),
            F.sum(F.coalesce(F.col("__sel"), F.lit(0)))
            .cast("long")
            .alias("n_selected"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# v3: winnow near-dup suppression -> quality gate -> UniMax language
# budgeting -> deterministic sharding — the round-8 curation chain
# composed from this round's operators, full-chain oracle.

_V3_K, _V3_W, _V3_M, _V3_PC = 5, 8, 1_000_000_007, 4096
_V3_MIN_TOKS = 20
_V3_SHARDS = 8
_V3_CAP, _V3_NUM, _V3_DEN = 2, 3, 2


def _v3_oracle() -> str:
    return rf"""
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
    ((((a.c * 131 + b.c) % {_V3_M} * 131 + c.c) % {_V3_M}
      * 131 + d.c) % {_V3_M} * 131 + e.c) % {_V3_M} AS gh
  FROM chc a
  JOIN chc b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN chc c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
  JOIN chc d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3
  JOIN chc e ON a.doc_id = e.doc_id AND e.pos = a.pos + 4
),
pv AS (
  SELECT doc_id, p,
    gh * {_V3_PC} + {_V3_PC - 1} - (p - 1) % {_V3_PC} AS v
  FROM g
),
wm AS (
  SELECT doc_id, p,
    MIN(v) OVER (PARTITION BY doc_id ORDER BY p
      ROWS BETWEEN CURRENT ROW AND {_V3_W - 1} FOLLOWING) AS vm,
    COUNT(*) OVER (PARTITION BY doc_id) AS ng
  FROM pv
),
sel AS (
  SELECT DISTINCT doc_id, vm // {_V3_PC} AS fp
  FROM wm WHERE p <= ng - {_V3_W - 1} OR (ng < {_V3_W} AND p = 1)
),
fp_min AS (SELECT fp, MIN(doc_id) AS keeper FROM sel GROUP BY fp),
dropped AS (
  SELECT DISTINCT s.doc_id
  FROM sel s JOIN fp_min m ON s.fp = m.fp AND m.keeper < s.doc_id
),
survivors AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d
  LEFT JOIN dropped x ON d.doc_id = x.doc_id
  WHERE x.doc_id IS NULL
    AND len(regexp_split_to_array(trim(d.text), '\s+'))
        >= {_V3_MIN_TOKS}
),
sup AS (
  SELECT lang AS stratum, COUNT(*) AS n_docs,
    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
      AS toks,
    CAST({_V3_CAP} * SUM(len(regexp_split_to_array(trim(text), '\s+')))
      AS BIGINT) AS supply
  FROM survivors GROUP BY lang
),
tot AS (SELECT SUM(toks) AS _tot, COUNT(*) AS _L FROM sup),
s AS (
  SELECT sup.*, (_tot * {_V3_NUM}) // {_V3_DEN} AS B, _L,
    row_number() OVER (ORDER BY supply, stratum) AS i,
    COALESCE(SUM(supply) OVER (ORDER BY supply, stratum
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM sup, tot
),
t AS (
  SELECT s.*, CAST(B - cum_prev AS DOUBLE) / (_L - i + 1) AS theta FROM s
),
star AS (
  SELECT theta AS tstar FROM t WHERE supply >= theta ORDER BY i LIMIT 1
),
alloc AS (
  SELECT t.stratum AS lang, t.toks,
    CASE WHEN star.tstar IS NULL THEN CAST(supply AS DOUBLE)
         ELSE least(CAST(supply AS DOUBLE), star.tstar) END AS a
  FROM t LEFT JOIN star ON TRUE
)
SELECT v.doc_id, v.lang,
  CAST(('0x' || substr(md5(CAST(v.doc_id AS VARCHAR)), 1, 8))::BIGINT
       % {_V3_SHARDS} AS INT) AS shard,
  CAST(length(regexp_extract_all(v.text,
    ' ?[A-Za-z]+| ?[0-9]{{1,3}}| ?[^A-Za-z0-9\s]+')) AS INT)
    AS n_subwords,
  ROUND(al.a / al.toks, 9) AS lang_epochs_used
FROM survivors v JOIN alloc al ON v.lang = al.lang
"""


@register(
    "docs_prep_pipeline_v3",
    oracle=_v3_oracle(),
    doc="Curation chain v3 from the round-8 operators: winnowing "
    "near-dup SUPPRESSION (a doc is dropped when any of its "
    "fingerprints is also held by a smaller doc id — keep-first over "
    "fingerprint-sharing neighbourhoods), a token-count quality "
    "gate, UniMax per-language budget allocation over the SURVIVORS "
    "(cap 2 epochs, 1.5x budget), and deterministic md5 sharding "
    "with the BPE-ish subword count as the per-doc token budget.  "
    "Full-chain oracle: every stage's SQL is the proven per-operator "
    "oracle re-rooted on the previous stage's CTE, so a drift "
    "anywhere in the chain hash-fails here even if each operator "
    "stays individually green.",
    tags=("composite", "curation", "extension"),
    extended=True,
)
def docs_prep_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.dedup import winnow_fingerprints
    from diabetes_etl_spark.operators.sampling import unimax_allocation
    from diabetes_etl_spark.operators.text import subword_count, token_count

    docs = load_table(spark, sf_dir, "documents")
    sel = winnow_fingerprints(
        docs, k=_V3_K, window=_V3_W
    ).select(F.col("id").alias("doc_id"), "fp").distinct()
    # materialize the narrow (doc_id, fp) selection once (MMR
    # shortlist precedent): both consumers below would otherwise
    # recompute the O(len) text fingerprint extraction
    import atexit
    import shutil
    import tempfile

    sel_dir = tempfile.mkdtemp(prefix="spark_winnow_v3_")
    atexit.register(shutil.rmtree, sel_dir, ignore_errors=True)
    sel.write.mode("overwrite").parquet(sel_dir)
    sel = spark.read.parquet(sel_dir)
    fp_min = sel.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    dropped = (
        sel.join(fp_min, "fp")
        .filter(F.col("keeper") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
    )
    survivors = (
        docs.join(dropped, "doc_id", "left_anti")
        .filter(token_count(F.col("text")) >= _V3_MIN_TOKS)
        .select("doc_id", "lang", "text")
    )
    al = unimax_allocation(
        survivors, stratum_col="lang", epochs_cap=_V3_CAP,
        budget_num=_V3_NUM, budget_den=_V3_DEN,
    ).select("lang", "epochs_used")
    return survivors.join(F.broadcast(al), "lang").select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16, 10,
            ).cast("long") % _V3_SHARDS
        ).cast("int").alias("shard"),
        subword_count(F.col("text")).cast("int").alias("n_subwords"),
        F.col("epochs_used").alias("lang_epochs_used"),
    )


# -- global id assignment (round 9) ------------------------------------------


@register(
    "docs_global_ids",
    oracle="""
SELECT doc_id, n_chars,
  CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT)
    AS global_id
FROM documents
ORDER BY global_id
""",
    doc="Dense 0-based global ids in (n_chars, doc_id) order — the "
    "length-sorted layout sequence packing wants — via the two-pass "
    "deterministic-bucket + offset-broadcast operator "
    "(operators/ids.py): quantile boundaries from one "
    "approx-percentile aggregate define a bucket as a pure function "
    "of the key, so ids are invariant to parallelism/retries/AQE "
    "(range-partitioner sampling is NOT, see the operator "
    "docstring).  The scalable replacement for the single-partition "
    "row_number() OVER (ORDER BY ...) anti-pattern, which the oracle "
    "deliberately uses (fine at DuckDB/fixture scale, OOM at "
    "100 TB); the plan's only SinglePartition exchange feeds the "
    "num_buckets-row offset prefix-sum (asserted in tests).",
    tags=("docs", "ids", "layout", "extension"),
    extended=True,
)
def docs_global_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.ids import assign_global_ids

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    out = assign_global_ids(docs, ["n_chars", "doc_id"])
    return out.select("doc_id", "n_chars", "global_id").orderBy(
        "global_id"
    )


# -- v4: round-10 curation chain (round 10) ------------------------------------

_V4_M = (1 << 61) - 1
_V4_K = 2654435761  # Knuth multiplicative constant


def _v4_oracle() -> str:
    from diabetes_etl_spark.plans.urlplans import _CANON_ARITH

    return rf"""
WITH RECURSIVE canon AS (
  SELECT doc_id, {_CANON_ARITH} AS canon FROM documents
),
keep1 AS (SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY canon),
surv1 AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.lang FROM documents d
  JOIN keep1 USING (doc_id)
),
t AS MATERIALIZED (
  SELECT doc_id, {_D_SHINGLES} AS sh, CAST(length(text) AS BIGINT) AS len
  FROM surv1
),
bnd AS (
  SELECT doc_id, len // 50 AS band FROM t
  UNION ALL
  SELECT doc_id, len // 50 + 1 AS band FROM t
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bnd a JOIN bnd c ON a.band = c.band AND a.doc_id < c.doc_id
),
prs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
      ROUND(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
            / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))),
            6) AS js
    FROM cand
    JOIN t x ON cand.doc_a = x.doc_id
    JOIN t y ON cand.doc_b = y.doc_id
  ) WHERE js >= 0.8
),
edges AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM prs
  UNION SELECT doc_b, doc_a FROM prs
),
core AS (
  SELECT a AS id FROM edges GROUP BY a HAVING COUNT(*) + 1 >= 3
),
core_edges AS (
  SELECT e.a, e.b FROM edges e
  JOIN core ca ON ca.id = e.a JOIN core cb ON cb.id = e.b
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
  SELECT c.id, c.id FROM core c WHERE c.id NOT IN (SELECT id FROM lab)
),
border AS (
  SELECT e.a AS id, MIN(cm.component) AS component
  FROM edges e
  JOIN core cb ON cb.id = e.b
  JOIN comp cm ON cm.id = e.b
  WHERE e.a NOT IN (SELECT id FROM core)
  GROUP BY e.a
),
members AS (
  SELECT id, component FROM comp
  UNION ALL SELECT id, component FROM border
),
reps AS (SELECT component, MIN(id) AS rep FROM members GROUP BY component),
drop2 AS (
  SELECT m.id FROM members m JOIN reps r ON m.component = r.component
  WHERE m.id != r.rep
),
surv2 AS MATERIALIZED (
  SELECT s.* FROM surv1 s LEFT JOIN drop2 x ON s.doc_id = x.id
  WHERE x.id IS NULL
),
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
  FROM surv2
),
tri AS MATERIALIZED (
  SELECT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(a) - 2)) AS i)
  WHERE len(a) >= 3
),
cnt AS (SELECT g, COUNT(*) AS c FROM tri GROUP BY g),
tot AS (SELECT COUNT(*) AS ntot FROM tri),
heavy AS (SELECT g FROM cnt CROSS JOIN tot WHERE 10000 * c > 2 * ntot),
per AS (
  SELECT t2.doc_id, COUNT(*) AS td,
    SUM(CASE WHEN h.g IS NOT NULL THEN 1 ELSE 0 END) AS hd
  FROM tri t2 LEFT JOIN heavy h ON t2.g = h.g GROUP BY t2.doc_id
),
drop3 AS (SELECT doc_id FROM per WHERE 50 * hd > td),
surv3 AS MATERIALIZED (
  SELECT s.* FROM surv2 s LEFT JOIN drop3 x USING (doc_id)
  WHERE x.doc_id IS NULL
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_input,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM surv1) AS n_after_url_dedup,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM surv2) AS n_after_flood,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM surv3) AS n_final,
  (SELECT CAST(SUM((doc_id * {_V4_K}) % {_V4_M}) % {_V4_M} AS BIGINT)
   FROM surv3) AS survivors_fp
"""


@register(
    "docs_prep_pipeline_v4",
    oracle=_v4_oracle(),
    doc="Curation composite v4 — the ROUND-10 operators chained into "
    "one plan, full-chain oracle-checked: (1) crawl-frontier URL "
    "canonicalization dedup (keep the min-doc_id per canonical URL "
    "over the messy fixture pairs), (2) DBSCAN template-flood "
    "control over the LSH-fed Jaccard >= 0.8 relation of the "
    "SURVIVORS — dense near-dup regions (cores + their borders) "
    "collapse to one min-id representative per cluster, noise "
    "passes untouched, (3) phi-heavy trigram boilerplate gate: drop "
    "survivors whose heavy-trigram occupancy exceeds 2% (exact "
    "integers, 50*hits > total) with the heavy set computed by the "
    "MG-candidates + exact-recount pass ON the stage-2 survivors.  "
    "Output is the per-stage census plus an ORDER-INDEPENDENT "
    "survivor-id fingerprint (sum of Knuth-mixed ids mod 2^61-1 — "
    "no corpus-sized array, unlike an ordered fold), so a drift "
    "ANYWHERE in the chain — a canonicalization miss, one wrong "
    "cluster representative, an off-by-one threshold — changes the "
    "row.  The oracle replays all three stages re-rooted on each "
    "other's CTEs (the v3 precedent), with exact all-pairs Jaccard "
    "as the near-dup ground truth.  Scale: each stage is the "
    "individually-probed operator; no new shuffle shapes.",
    tags=("docsprep", "composite", "dedup", "extension"),
)
def docs_prep_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.clustering import dbscan_labels
    from diabetes_etl_spark.operators.sketch import misra_gries_candidates
    from diabetes_etl_spark.operators.urls import canonical_url
    from diabetes_etl_spark.plans.urlplans import _messy_urls

    docs = load_table(spark, sf_dir, "documents")
    # stage 1: URL canonical dedup
    keep1 = (
        _messy_urls(spark, sf_dir)
        .select("doc_id", canonical_url(F.col("url")).alias("canon"))
        .groupBy("canon")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv1 = docs.join(keep1, "doc_id", "left_semi")
    # stage 2: DBSCAN flood control (same edge relation as
    # cluster_dbscan_docs, computed on the survivors)
    pairs = DD.near_dup_edges(surv1)
    roles = dbscan_labels(pairs, "doc_a", "doc_b", min_pts=3)
    reps = roles.groupBy("component").agg(F.min("id").alias("rep"))
    drop2 = (
        roles.join(reps, "component")
        .where(F.col("id") != F.col("rep"))
        .select(F.col("id").alias("doc_id"))
    )
    surv2 = surv1.join(drop2, "doc_id", "left_anti")
    # stage 3: phi-heavy trigram boilerplate gate on the survivors
    toks = surv2.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("a")
    )
    tri = toks.where(F.size("a") >= 3).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(a) - 3),"
                " i -> concat_ws(' ', a[i], a[i+1], a[i+2]))"
            )
        ).alias("g"),
    )
    cand = misra_gries_candidates(tri.select("g"), "g", k=5000)
    counts = (
        tri.join(F.broadcast(cand), "g", "left_semi")
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ntot = tri.agg(F.count(F.lit(1)).alias("ntot"))
    heavy = (
        counts.crossJoin(F.broadcast(ntot))
        .where(10000 * F.col("c") > 2 * F.col("ntot"))
        .select("g")
    )
    per = (
        tri.join(
            F.broadcast(heavy.withColumn("_h", F.lit(1))), "g", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("td"),
            F.sum(F.coalesce(F.col("_h"), F.lit(0))).alias("hd"),
        )
    )
    drop3 = per.where(50 * F.col("hd") > F.col("td")).select("doc_id")
    surv3 = surv2.join(drop3, "doc_id", "left_anti")
    fp = F.sum(
        ((F.col("doc_id") * _V4_K) % _V4_M).cast("decimal(38,0)")
    ) % _V4_M
    return (
        docs.agg(F.count(F.lit(1)).alias("n_input"))
        .crossJoin(
            F.broadcast(
                surv1.agg(
                    F.count(F.lit(1)).alias("n_after_url_dedup")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                surv2.agg(F.count(F.lit(1)).alias("n_after_flood"))
            )
        )
        .crossJoin(
            F.broadcast(
                surv3.agg(
                    F.count(F.lit(1)).cast("long").alias("n_final"),
                    fp.cast("long").alias("survivors_fp"),
                )
            )
        )
        .select(
            F.col("n_input").cast("long").alias("n_input"),
            F.col("n_after_url_dedup").cast("long").alias(
                "n_after_url_dedup"
            ),
            F.col("n_after_flood").cast("long").alias("n_after_flood"),
            "n_final",
            "survivors_fp",
        )
    )

