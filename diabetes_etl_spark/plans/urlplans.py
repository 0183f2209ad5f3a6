"""Registered URL-analytics query: deterministic per-doc URLs built
from doc_id/source/lang arithmetic (the fixture corpus carries no
organic URLs), parsed back apart with Spark's native ``parse_url`` and
the public-suffix-aware registrable-domain rule
(operators/urls.py), then aggregated per domain.

Oracle design: DuckDB has no parse_url, so the oracle derives the
expected host/domain/ref DIRECTLY from the same doc_id arithmetic that
built the URL string — an independent path to the same answer, which
is exactly what makes it a real check on the parser (a parse_url
misread of host or query param would hash-mismatch).

The URL shape varies by doc_id so the parser faces real variety:
- tld cycles com / org / co.uk (the last exercising the multi-label
  public-suffix rule);
- every third doc gains a subdomain (www. / cdn.);
- every fifth doc gains a port (:8080) — which HOST must strip;
- ref query param present on even doc_ids only (NULL otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.urls import with_url_parts
from diabetes_etl_spark.plans.registry import register
from diabetes_etl_spark.sources.tables import load_table


def _urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    tld = (
        F.when(did % 3 == 0, ".com")
        .when(did % 3 == 1, ".org")
        .otherwise(".co.uk")
    )
    sub = (
        F.when(did % 3 == 0, "www.")
        .when(did % 3 == 1, "cdn.")
        .otherwise("")
    )
    port = F.when(did % 5 == 0, ":8080").otherwise("")
    ref = F.when(did % 2 == 0, F.concat(F.lit("?ref="), F.col("lang"))).otherwise(
        F.lit("")
    )
    url = F.concat(
        F.lit("https://"),
        sub,
        F.col("source"),
        tld,
        port,
        F.lit("/docs/"),
        did.cast("string"),
        ref,
    )
    return docs.select("doc_id", "lang", "source", url.alias("url"))


@register(
    "url_domain_stats",
    oracle="""
WITH parts AS (
  SELECT doc_id, lang,
    source || CASE WHEN doc_id % 3 = 0 THEN '.com'
                   WHEN doc_id % 3 = 1 THEN '.org'
                   ELSE '.co.uk' END AS domain,
    CASE WHEN doc_id % 2 = 0 THEN lang ELSE NULL END AS ref
  FROM documents
)
SELECT domain,
  COUNT(*) AS n_urls,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN ref IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_with_ref,
  COUNT(DISTINCT ref) AS n_ref_values
FROM parts GROUP BY domain ORDER BY domain
""",
    doc="Per-registrable-domain URL stats: URLs synthesized from "
    "doc_id arithmetic (subdomains, ports, co.uk suffixes, optional "
    "query params), parsed with native parse_url + the multi-label "
    "public-suffix rule, aggregated per domain.  The oracle derives "
    "the expected parts from the generator arithmetic — an "
    "independent path that catches parser misreads.  Scan-local "
    "projection + one aggregate shuffle on domain.",
    tags=("url", "text", "extension"),
    extended=True,
)
def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = with_url_parts(_urls(spark, sf_dir))
    return (
        parts.groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(F.col("ref").isNotNull().cast("int")).alias("n_with_ref"),
            F.countDistinct("ref").alias("n_ref_values"),
        )
        .orderBy("domain")
    )


# -- URL canonicalization dedup (round 10) -------------------------------------

# canonical form of the messy fixture URLs, derived from doc_id
# arithmetic alone (shared with docsprep v4's full-chain oracle)
_CANON_ARITH = """'https://'
    || CASE WHEN (doc_id // 2) % 3 = 0 THEN 'www.'
            WHEN (doc_id // 2) % 3 = 1 THEN 'cdn.' ELSE '' END
    || 'site' || ((doc_id // 2) % 7)
    || CASE WHEN (doc_id // 2) % 3 = 0 THEN '.com'
            WHEN (doc_id // 2) % 3 = 1 THEN '.org' ELSE '.co.uk' END
    || '/docs/' || (doc_id // 2)
    || '?a=' || ((doc_id // 2) % 5) || '&b=1'
    || CASE WHEN doc_id % 10 = 9 THEN '&u=' || doc_id ELSE '' END"""



def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MESSY URLs: consecutive doc pairs (2k, 2k+1) point
    at the same resource through different surface noise — case, the
    default :443 port, a trailing slash, param order, tracking params,
    a fragment — so canonicalization must collapse exactly the pairs
    the gid arithmetic says it should (did % 10 == 9 docs carry a
    real &u= param and stay unique)."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    gid = F.floor(did / 2)
    sub = (
        F.when(gid % 3 == 0, "www.")
        .when(gid % 3 == 1, "cdn.")
        .otherwise("")
    )
    tld = (
        F.when(gid % 3 == 0, ".com")
        .when(gid % 3 == 1, ".org")
        .otherwise(".co.uk")
    )
    host = F.concat(sub, F.lit("site"), (gid % 7).cast("string"), tld)
    auth = F.concat(
        host, F.when(gid % 5 == 0, ":443").otherwise(F.lit(""))
    )
    auth = F.when(did % 2 == 1, F.upper(auth)).otherwise(auth)
    a_par = F.concat(F.lit("a="), (gid % 5).cast("string"))
    uniq = F.when(
        did % 10 == 9, F.concat(F.lit("&u="), did.cast("string"))
    ).otherwise(F.lit(""))
    # odd rows carry three tracking-param shapes: lowercase valued
    # (utm_source=feed), UPPERCASE valued (UTM_Medium=em — the query
    # string is never lowercased, only the authority), and valueless
    # (gclid with no '=') — canonicalization must strip all three or
    # the oracle's doc_id-arithmetic canon hash-fails
    q = F.when(
        did % 2 == 0, F.concat(F.lit("?"), a_par, F.lit("&b=1"), uniq)
    ).otherwise(
        F.concat(
            F.lit("?b=1&utm_source=feed&gclid&UTM_Medium=em&"),
            a_par,
            uniq,
            F.lit("#frag"),
        )
    )
    url = F.concat(
        F.lit("https://"),
        auth,
        F.lit("/docs/"),
        gid.cast("string"),
        F.when(did % 2 == 0, "/").otherwise(F.lit("")),
        q,
    )
    return docs.select("doc_id", url.alias("url"))


def _url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diabetes_etl_spark.operators.urls import canonical_url

    urls = _messy_urls(spark, sf_dir)
    return (
        urls.select("doc_id", canonical_url(F.col("url")).alias("canon"))
        .groupBy("canon")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
    )


register(
    "url_canonical_dedup",
    oracle=f"""
WITH c AS (
  SELECT doc_id, {_CANON_ARITH} AS canon
  FROM documents
)
SELECT canon, CAST(COUNT(*) AS BIGINT) AS n_urls,
  CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM c GROUP BY canon
""",
    doc="URL canonicalization dedup — the crawl-frontier operator that "
    "collapses surface-noise variants of one resource before any "
    "content fetch: authority lowercased, default :443 stripped, "
    "fragment dropped, utm_*/gclid/fbclid tracking params removed, "
    "surviving params SORTED, trailing slash stripped "
    "(operators/urls.py:canonical_url, pure native expressions — a "
    "narrow per-row projection).  The fixture generator builds messy "
    "pairs (case, port, slash, param order, tracking, fragment) from "
    "doc_id arithmetic and the oracle derives each row's canonical "
    "form INDEPENDENTLY from that same arithmetic (the "
    "url_domain_stats pattern) — so any canonicalization misstep "
    "(param kept, port left, case missed) hash-fails; docs with a "
    "real &u= param must stay singletons, proving the filter removes "
    "ONLY tracking params.  Scale: projection + one groupBy on the "
    "canonical string.",
    tags=("url", "dedup", "extension"),
    extended=True,
)(_url_canonical_dedup)
