"""Inverted-index construction and boolean retrieval — the indexing
slice of the text stack (BM25 in operators/ranking.py scores against
term statistics; this materializes the postings themselves, the
structure a search/dedup/audit pipeline stores).

Scale shape (100 TB lens): the only shuffle carries (term, doc_id)
pairs for DISTINCT terms per document — text never moves.  Postings
aggregate per term with map-side combine; a hot term's full posting
list is the one per-group structure that grows with corpus size, so
``max_postings_per_row`` SHARDS a term's postings into bounded chunks
keyed (term, chunk_idx) — the row-group-sized posting segments a real
index stores (readers merge chunks by doc-id order; chunk boundaries
are deterministic, assigned by ascending doc id).  Conjunctive
retrieval never materializes postings at all: it filters the exploded
pairs to the query terms (a broadcast-size isin) and keeps documents
whose matched-term count equals the query length — one shuffle of
query-matching pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from diabetes_etl_spark.operators.text import tokens
from diabetes_etl_spark.operators.util import widen

_MOD = 1_000_000_007


def _doc_terms(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, term) pairs, distinct per document, lowercased
    whitespace tokens — the exploded index input."""
    return widen(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(tokens(F.lower(F.col(text_col))))
        ).alias("term"),
    ).filter(F.length("term") > 0)


def postings_checksum(sorted_ids: Column) -> Column:
    """Order-sensitive rolling hash of a sorted posting array —
    pins the EXACT posting list content through a scalar (no
    cross-engine array-serialization ambiguity)."""
    return F.aggregate(
        sorted_ids,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(131) + x) % F.lit(_MOD),
    )


def inverted_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings_per_row: int | None = None,
) -> DataFrame:
    """The inverted index: per term, document frequency and the
    doc-id-sorted posting list with its checksum.

    ``max_postings_per_row=None`` emits one row per term (term, df,
    doc_lo, doc_hi, postings, postings_checksum).  With a bound, a
    term's postings shard into ceil(df/bound)-many (term, chunk_idx)
    rows of at most ``bound`` ids each, chunked by ascending doc id —
    bounded per-row state no matter how hot the term."""
    pairs = _doc_terms(docs, id_col, text_col)
    if max_postings_per_row is None:
        return (
            pairs.groupBy("term")
            .agg(
                F.count("*").alias("df"),
                F.min("doc_id").alias("doc_lo"),
                F.max("doc_id").alias("doc_hi"),
                F.sort_array(F.collect_list("doc_id")).alias("postings"),
            )
            .withColumn("postings_checksum", postings_checksum(F.col("postings")))
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy("term").orderBy("doc_id")
    chunked = pairs.withColumn(
        "chunk_idx",
        ((F.row_number().over(w) - 1) / max_postings_per_row).cast("int"),
    )
    return (
        chunked.groupBy("term", "chunk_idx")
        .agg(
            F.count("*").alias("df"),
            F.min("doc_id").alias("doc_lo"),
            F.max("doc_id").alias("doc_hi"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
        )
        .withColumn("postings_checksum", postings_checksum(F.col("postings")))
    )


def conjunctive_search(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents containing ALL query terms (boolean AND): the
    posting-intersection result computed without materializing
    postings — filter the (doc, distinct-term) pairs to the query set,
    count matches per doc, keep count == |terms|.  Returns doc_id
    rows."""
    if not terms:
        raise ValueError("conjunctive_search needs at least one term")
    pairs = _doc_terms(docs, id_col, text_col)
    return (
        pairs.filter(F.col("term").isin([t.lower() for t in terms]))
        .groupBy("doc_id")
        .agg(F.count("*").alias("__hits"))
        .filter(F.col("__hits") == len(set(t.lower() for t in terms)))
        .select("doc_id")
    )


# -- positional index + phrase retrieval -------------------------------------


def _doc_positions(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, term, pos) rows — one per TOKEN OCCURRENCE (0-based
    token position), the positional-index input.  Unlike _doc_terms
    this keeps duplicates: phrase matching needs every occurrence."""
    return widen(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos", "term"),
    ).filter(F.length("term") > 0)


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents containing the EXACT consecutive token sequence
    ``phrase`` — the positional-postings intersection, computed
    without materializing position lists: occurrences of each phrase
    term filter from the (doc, term, pos) stream (broadcast-size
    isin, so only phrase-term occurrences shuffle), each occurrence
    of term j re-keys to its would-be phrase START (pos - j), and a
    start position where ALL |phrase| terms land is a match.  Repeated
    terms in the phrase are handled by keying on the term's INDEX in
    the phrase, not its text.  Returns (doc_id, n_matches) — match
    count per document, one row per matching doc.

    Scale shape: one shuffle of phrase-term occurrences keyed
    (doc, start); cost ∝ occurrences of the phrase's terms, never the
    corpus's full position lists."""
    if len(phrase) < 2:
        raise ValueError("phrase_search needs at least 2 tokens")
    terms = [t.lower() for t in phrase]
    occ = _doc_positions(docs, id_col, text_col).filter(
        F.col("term").isin(list(set(terms)))
    )
    # each occurrence votes once per phrase slot its term fills
    slots = F.array(
        *[
            F.when(F.col("term") == F.lit(t), F.lit(j)).otherwise(F.lit(-1))
            for j, t in enumerate(terms)
        ]
    )
    votes = occ.select(
        "doc_id",
        "pos",
        F.explode(F.filter(slots, lambda s: s >= 0)).alias("slot"),
    ).select(
        "doc_id", (F.col("pos") - F.col("slot")).alias("start"), "slot"
    ).filter(F.col("start") >= 0)
    return (
        votes.groupBy("doc_id", "start")
        .agg(F.count_distinct("slot").alias("__filled"))
        .filter(F.col("__filled") == len(terms))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_matches"))
    )


def proximity_search(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents where ``term_a`` and ``term_b`` co-occur within
    ``window`` token positions (unordered) — the proximity operator
    of a boolean retrieval stack (NEAR/k).  Returns (doc_id, n_pairs,
    min_dist): the number of qualifying occurrence pairs and the
    closest distance.

    Scale shape: occurrences of the two terms filter from the token
    stream (cost ∝ those occurrences, never full position lists);
    the pair join is BUCKETED — a's occurrences key to bucket
    pos div window, b's to its bucket and both neighbours, so each
    qualifying pair meets in EXACTLY ONE (doc, bucket) cell and the
    join never forms a per-document cross product beyond the
    3-bucket neighbourhood.  A hot document costs occ_a x occ_b only
    within +-window, which is the output size itself."""
    if term_a.lower() == term_b.lower():
        raise ValueError("proximity_search needs two distinct terms")
    occ = _doc_positions(docs, id_col, text_col).filter(
        F.col("term").isin([term_a.lower(), term_b.lower()])
    )
    a = occ.filter(F.col("term") == term_a.lower()).select(
        "doc_id",
        F.col("pos").alias("a_pos"),
        F.expr(f"pos div {window}").alias("bucket"),
    )
    b = (
        occ.filter(F.col("term") == term_b.lower())
        .select(
            "doc_id",
            F.col("pos").alias("b_pos"),
            F.explode(
                F.expr(
                    f"array(pos div {window} - 1, pos div {window}, "
                    f"pos div {window} + 1)"
                )
            ).alias("bucket"),
        )
    )
    pairs = a.join(b, ["doc_id", "bucket"]).filter(
        F.abs(F.col("a_pos") - F.col("b_pos")) <= window
    )
    return pairs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.min(F.abs(F.col("a_pos") - F.col("b_pos")))
        .cast("int")
        .alias("min_dist"),
    )
