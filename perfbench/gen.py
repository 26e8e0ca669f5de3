"""Seeded input generation for the benchmark.

Every table is a pure function of its arguments: the same seed and
size give byte-identical parquet files, because values come from
numpy's PCG64 generator and pyarrow writes them without timestamps or
host-specific metadata.

Two families of tables are written, each with the column names and
value domains of the engine's star-schema test tables:

* the star schema plus ``events`` (``region nation customer supplier
  part orders lineitem events``), sized by a scale factor;
* the text/vector corpus (``documents`` and ``embeddings``) with the
  sf0.1 profile: a 31-word vocabulary, 8-95 words per document, about
  8% mutated near-duplicates of an earlier document, 5 languages and
  20 sources; 64-dimensional gaussian embeddings with 10 labels.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector join shard page index".split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([41, 15, 15, 15, 14]) / 100.0
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10
NEAR_DUP_RATE = 0.08

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = np.array(["large", "hot", "blue", "old", "small", "red", "new",
                     "cold"])
PART_NOUN = np.array(["ring", "bolt", "plate", "gear", "pipe", "nut",
                      "valve", "spring"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

_US_PER_DAY = 86_400_000_000


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    """``n`` midnight timestamps (microseconds) drawn from [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _US_PER_DAY


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path, compression="snappy")
    return path


def star_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the star schema plus ``events`` at scale factor ``sf``
    (sf 1 = 6,000,000 lineitem rows); returns rows per table."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(10, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)},
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)])},
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))},
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(
                PART_ADJ[rng.integers(0, 8, n_part)], " "),
                PART_NOUN[rng.integers(0, 8, n_part)])),
            "p_brand": pa.array(np.char.add(
                "Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(PART_TYPES[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part, np.int32)),
            "p_retailprice": pa.array(
                900.0 + (np.arange(n_part) % 1000) / 10.0)},
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, np.int64)),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord,
                                          rng), pa.timestamp("us")),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)])},
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, np.int32)),
            "l_quantity": pa.array(
                rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_line,
                                         rng), pa.timestamp("us"))},
    }
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n_evt))
    tables["events"] = {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt, np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.minimum(
            np.round(rng.exponential(50.0, n_evt), 2), 560.21)),
        "props": pa.array(np.char.add(np.char.add(
            '{"k": ', rng.integers(0, 100, n_evt).astype(str)), "}")),
    }
    rows = {}
    for name, cols in tables.items():
        _write(out_dir, name, cols)
        rows[name] = len(next(iter(cols.values())))
    return rows


def corpus_tables(out_dir: str, seed: int, n_docs: int,
                  n_vecs: int) -> dict[str, int]:
    """Write ``documents`` and ``embeddings`` with the sf0.1 profile;
    returns rows per table."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < NEAR_DUP_RATE:
            # near-duplicate: copy a recent document, replace ~10% of words
            words = texts[int(rng.integers(max(1, i - 500), i))].split()
            for _ in range(max(1, len(words) // 10)):
                words[int(rng.integers(len(words)))] = \
                    VOCAB[rng.integers(len(VOCAB))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 96))
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array(np.char.add(
            "src", rng.integers(0, N_SOURCES, n_docs).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })
    vecs = (rng.standard_normal((n_vecs, EMBED_DIM)) / 8.0).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), EMBED_DIM).cast(
                pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n_vecs, np.int32)),
    })
    return {"documents": n_docs, "embeddings": n_vecs}
