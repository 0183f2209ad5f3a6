"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``seed`` and a size:

- ``write_tables``: the ten fixture tables the registered queries read
  (TPC-H-shaped star schema, an ``events`` stream, a ``documents``
  corpus with near-duplicates and an ``embeddings`` table), one parquet
  file each, with the column names, types and value domains of the
  fixture tables the queries were written against.
- ``write_pima_csv``: Pima-shaped diabetes CSV files with the 9-column
  ``DIABETES_SCHEMA`` header and Pima's zeros-as-missing pattern.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at sf = 1.  region/nation are fixed-size dimensions;
# documents and embeddings are sized separately (``corpus_docs``).
_SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
_PART_NOUN = ["ring", "widget", "bolt", "rod", "gear", "anvil", "plate", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "the a stream query row fast small spark group customer line sort hash "
    "batch data filter value big key order table scan merge part window "
    "join slow agg column vector"
).split()
_EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _days_since_epoch(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH).days


def _ts_from_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _streams(seed: int, names: list[str]) -> dict[str, np.random.Generator]:
    """One independent generator per table, so tables do not depend on
    the order they are generated in."""
    children = np.random.SeedSequence(seed).spawn(len(names))
    return {n: np.random.default_rng(s) for n, s in zip(names, children)}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; about one in eight is a near-duplicate of
    an earlier one (the earlier text with ' dup' appended once or
    twice), so shingle-Jaccard dedup finds non-trivial components."""
    texts: list[str] = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.125:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    langs = rng.choice(_LANGS, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm 64-d float32 vectors around ten weak label centres."""
    centres = rng.normal(0.0, 1.0, (10, _EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = rng.normal(0.0, 1.0, (n, _EMBED_DIM)) + 0.15 * centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    offsets = np.arange(0, (n + 1) * _EMBED_DIM, _EMBED_DIM, dtype="int32")
    emb = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(vecs.reshape(-1), pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels.astype("int32"), pa.int32()),
        }
    )


def build_tables(seed: int, sf: float, corpus_docs: int) -> dict[str, pa.Table]:
    names = ["customer", "supplier", "part", "orders", "lineitem", "events",
             "documents", "embeddings"]
    r = _streams(seed, names)
    n = {t: max(10, int(round(rows * sf))) for t, rows in _SF1_ROWS.items()}
    nc, ns, np_, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"],
        n["events"],
    )
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    g = r["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(g.integers(0, 25, nc).astype("int32")),
            "c_acctbal": _money(g, -999.99, 9999.99, nc),
            "c_mktsegment": pa.array(g.choice(_SEGMENTS, nc), pa.string()),
        }
    )

    g = r["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(g.integers(0, 25, ns).astype("int32")),
            "s_acctbal": _money(g, -999.99, 9999.99, ns),
        }
    )

    g = r["part"]
    adj, noun = g.integers(0, 8, np_), g.integers(0, 8, np_)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, np_)],
            "p_type": pa.array(g.choice(_PART_TYPES, np_), pa.string()),
            "p_size": pa.array(g.integers(1, 51, np_).astype("int32")),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1),
        }
    )

    g = r["orders"]
    d0, d1 = _days_since_epoch(1995, 1, 1), _days_since_epoch(2001, 8, 1)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(g.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(g.choice(["F", "O", "P"], no), pa.string()),
            "o_totalprice": _money(g, 1000.0, 500000.0, no),
            "o_orderdate": _ts_from_days(g.integers(d0, d1 + 1, no)),
            "o_orderpriority": pa.array(g.choice(_PRIORITIES, no), pa.string()),
        }
    )

    g = r["lineitem"]
    s0, s1 = _days_since_epoch(1995, 1, 2), _days_since_epoch(2001, 11, 4)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(g.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(g.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(g.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(g.integers(1, 8, nl).astype("int32")),
            "l_quantity": g.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(g, 900.0, 105000.0, nl),
            "l_discount": g.integers(0, 11, nl) / 100.0,
            "l_tax": g.integers(0, 9, nl) / 100.0,
            "l_returnflag": pa.array(g.choice(["A", "N", "R"], nl), pa.string()),
            "l_linestatus": pa.array(g.choice(["F", "O"], nl), pa.string()),
            "l_shipdate": _ts_from_days(g.integers(s0, s1 + 1, nl)),
        }
    )

    g = r["events"]
    start_us = (dt.datetime(2024, 1, 1) - _EPOCH).days * 86_400_000_000
    ts = np.sort(g.integers(0, 30 * 86_400_000_000, ne)) + start_us
    users = max(5, ne // 66)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(g.integers(0, users, ne), pa.int64()),
            "event_type": pa.array(g.choice(_EVENT_TYPES, ne), pa.string()),
            "value": np.round(np.clip(g.exponential(25.0, ne), 0.01, 490.0), 2),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, ne)],
        }
    )

    tables["documents"] = _documents(r["documents"], corpus_docs)
    tables["embeddings"] = _embeddings(r["embeddings"], corpus_docs)
    return tables


def write_tables(out_dir: str, seed: int, sf: float, corpus_docs: int) -> dict[str, int]:
    """Write ``<table>.parquet`` for every fixture table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf, corpus_docs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# -- Pima-shaped diabetes CSVs -----------------------------------------------

PIMA_HEADER = (
    "Pregnancies,Glucose,BloodPressure,SkinThickness,Insulin,BMI,"
    "DiabetesPedigreeFunction,Age,Outcome"
)

# Share of rows whose measure is recorded as 0 (= missing) in the Pima
# data set; the pipeline imputes these with the non-zero median.
PIMA_ZERO_RATES = {
    "Insulin": 0.49,
    "SkinThickness": 0.30,
    "BloodPressure": 0.05,
    "BMI": 0.014,
    "Glucose": 0.007,
}


# Age-group and BMI-category bounds of the pipeline's feature buckets.
_AGE_BANDS = [(21, 29), (30, 39), (40, 49), (50, 59), (60, 81)]
_BMI_BANDS = [(15.0, 18.4), (18.5, 24.9), (25.0, 29.9), (30.0, 50.0)]
# Share of rows drawn uniformly over the (age group, BMI category) cells
# instead of from the Pima-like marginals.  It keeps every cell populated,
# so no cell has a constant feature: with Spark's ANSI mode a constant
# feature in a cell of two or more rows makes ``corr`` in
# diabetes_feature_correlation raise DIVIDE_BY_ZERO (see NOTES.md).
_CELL_COVER = 0.25


def _banded(rng: np.random.Generator, bands, n: int, decimals: int) -> np.ndarray:
    lo_hi = np.array(bands)[rng.integers(0, len(bands), n)]
    return np.round(rng.uniform(lo_hi[:, 0], lo_hi[:, 1]), decimals)


def pima_rows(rng: np.random.Generator, n: int) -> list[str]:
    def zeroed(col: str, values: np.ndarray) -> np.ndarray:
        values[rng.random(n) < PIMA_ZERO_RATES[col]] = 0
        return values

    cover = rng.random(n) < _CELL_COVER
    preg = np.clip(rng.poisson(3.8, n), 0, 17)
    glucose = zeroed("Glucose", np.clip(np.round(rng.normal(121, 30, n)), 44, 199))
    bp = zeroed("BloodPressure", np.clip(np.round(rng.normal(72, 12, n)), 24, 122))
    skin = zeroed("SkinThickness", np.clip(np.round(rng.normal(29, 10, n)), 7, 99))
    insulin = zeroed(
        "Insulin", np.clip(np.round(rng.lognormal(4.8, 0.6, n)), 14, 846)
    )
    bmi = np.clip(np.round(rng.normal(32.4, 7.0, n), 1), 15.0, 67.1)
    bmi = zeroed("BMI", np.where(cover, _banded(rng, _BMI_BANDS, n, 1), bmi))
    dpf = np.clip(np.round(rng.gamma(2.0, 0.24, n), 3), 0.078, 2.42)
    age = np.clip(21 + rng.gamma(1.6, 7.5, n), 21, 81).astype(int)
    age = np.where(cover, _banded(rng, _AGE_BANDS, n, 0).astype(int), age)
    outcome = (rng.random(n) < 0.35).astype(int)
    return [
        f"{p},{int(g)},{int(b)},{int(s)},{int(i)},{m},{d},{a},{o}"
        for p, g, b, s, i, m, d, a, o in zip(
            preg, glucose, bp, skin, insulin, bmi, dpf, age, outcome
        )
    ]


def write_pima_csv(path: str, seed: int, file_index: int, rows: int) -> int:
    """Write one Pima-shaped CSV file; file ``k`` of a seed is always the
    same bytes, whichever other files were written before it."""
    rng = np.random.default_rng([seed, file_index])
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(PIMA_HEADER + "\n")
        fh.write("\n".join(pima_rows(rng, rows)) + "\n")
    return rows
