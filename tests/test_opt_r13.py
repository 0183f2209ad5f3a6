"""Round-13 optimization-round guards: the refactors must be
performance-only — the vectorized CDC kernel stays pinned to the
pure-Python reference on non-ASCII input, the Arrow shingle kernel
matches the Column form, and the streaming versioned source
parallelizes by FILE."""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: F401


def test_cdc_kernel_handles_non_ascii_codepoints(spark):
    """The Arrow kernel hashes UNICODE CODEPOINTS (utf-32 decode), the
    same values Spark's ascii()/DuckDB's ascii() produce — pinned on a
    text with multi-byte characters."""
    from diabetes_etl_spark.operators.dedup import cdc_chunks

    text = "héllo wörld ünïcode çhünks " * 8 + "日本語テキスト断片 " * 4
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    base, mod = 131, 1_000_000_007

    def fp(s):
        h = 0
        for ch in s:
            h = (h * base + ord(ch)) % mod
        return h

    n, w, mask = len(text), 8, 64
    bounds = []
    for p in range(w, n + 1):
        h = 0
        for ch in text[p - w : p]:
            h = (h * base + ord(ch)) % mod
        if h % mask == 0:
            bounds.append(p)
    starts = [1] + [b + 1 for b in bounds]
    ends = bounds + [n]
    want = [
        (k + 1, e - s + 1, fp(text[s - 1 : e]))
        for k, (s, e) in enumerate(
            (s, e) for s, e in zip(starts, ends) if e >= s
        )
    ]
    got = sorted(
        (r.chunk_idx, r.chunk_len, r.chunk_fp)
        for r in cdc_chunks(df).collect()
    )
    assert got == want


def test_versioned_stream_partitions_per_file(spark, tmp_path):
    """One InputPartition per ADDED FILE: a commit written as multiple
    parquet files must not collapse into a single sequential Python
    read task (the round-13 straggler fix)."""
    from diabetes_etl_spark.sources.versioned import VersionedTable
    from diabetes_etl_spark.sources.vds import VersionedStreamReader

    vt = VersionedTable(spark, str(tmp_path / "tbl"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    vt.overwrite(df.repartition(4))
    rdr = VersionedStreamReader(str(tmp_path / "tbl"), {})
    parts = rdr.partitions({"version": 0}, {"version": 1})
    assert len(parts) == 4
    assert all(len(p.paths) == 1 for p in parts)


def test_shingle_frame_matches_column_form(spark):
    """The Arrow shingle kernel must produce EXACTLY the Column form's
    arrays on every tokenization corner: space-only trim, ASCII \\s+
    split semantics (leading empty token after a non-space leading
    whitespace), empty text -> [""] single empty token, short docs,
    duplicate shingles deduped keeping first occurrence."""
    from diabetes_etl_spark.operators.dedup import shingle_frame
    from diabetes_etl_spark.operators.text import word_shingles

    rows = [
        (0, "a b c d e f g h a b c d e f g h"),
        (1, ""),
        (2, "   "),
        (3, "one"),
        (4, "x\ty  z\n w p q r s t u v"),
        (5, " lead trail "),
        (6, "a a a a a a a a"),
        (7, "tok1 tok2 tok3 tok4 tok5"),
        # NULL text (round-14, verdict-r13 #9 / ADVICE): the Column
        # form's size(split(NULL)) = -1 under the session's legacy
        # sizeOfNull makes word_shingles(NULL) yield [""], and the
        # kernel special-cases None -> [""] to match — this row pins
        # that parity against future session SQL-conf changes.
        (8, None),
        # astral-plane (non-BMP) code points: one token each, same
        # shingles from the Python kernel and the JVM split
        (9, "clef 𝄞 music 😀 note one two three"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    col_form = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", word_shingles(F.col("text"), 5).alias("sh")
        ).collect()
    }
    kernel = {
        r.doc_id: r.sh
        for r in shingle_frame(df, "doc_id", "text", 5).collect()
    }
    assert kernel == col_form
