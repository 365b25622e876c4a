"""Seeded generator of the TPC-H-ish catalog tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
types and value ranges the catalog queries are written against (the layout
documented in the repository's TESTDATA.md). Row counts scale with ``sf``
(lineitem is ~6M x sf rows). The same ``(seed, sf)`` writes identical data.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the spark line column order small sort fast value scan hash slow group "
         "batch agg filter query big key window row part table stream merge data "
         "vector join customer").split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
LANGS = ("en", "en", "en", "fr", "de", "es", "zh")
PART_ADJ = ("blue", "old", "small", "new", "red", "large", "hot", "cold")
PART_NOUN = ("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def write_tables(root: str, seed: int, sf: float) -> int:
    """Write every table under ``root``; return the bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = max(15, int(15_000 * sf)), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    pick = lambda vals, n: pa.array(np.asarray(vals)[rng.integers(0, len(vals), n)])  # noqa: E731

    tables = {
        "region": {"r_regionkey": pa.array(range(5), i32),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])},
        "nation": {"n_nationkey": pa.array(range(25), i32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)},
        "customer": {"c_custkey": pa.array(np.arange(n_cust), i64),
                     "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": pick(SEGMENTS, n_cust)},
        "supplier": {"s_suppkey": pa.array(np.arange(n_supp), i64),
                     "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        "part": {"p_partkey": pa.array(np.arange(n_part), i64),
                 "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                     rng.integers(0, 8, (n_part, 2))]),
                 "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                 "p_type": pick(PART_TYPES, n_part),
                 "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)},
        "orders": {"o_orderkey": pa.array(np.arange(n_ord), i64),
                   "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                   "o_orderstatus": pick(("F", "O", "P"), n_ord),
                   "o_totalprice": _money(rng, 1000, 500000, n_ord),
                   "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
                   "o_orderpriority": pick(PRIORITIES, n_ord)},
        "lineitem": {"l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
                     "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": _money(rng, 900, 105000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100,
                     "l_tax": rng.integers(0, 9, n_line) / 100,
                     "l_returnflag": pick(("A", "N", "R"), n_line),
                     "l_linestatus": pick(("O", "F"), n_line),
                     "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_line)},
    }
    # events: ids in time order over January 2024, exponential values
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    # documents: bag-of-words text; 5% near-duplicates of an earlier doc
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_docs), i64), "text": pa.array(texts),
        "lang": pick(LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }
    # embeddings: unit vectors around one of ten label centres
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0, 0.01, (10, 64))
    vecs = rng.normal(0, 1, (n_emb, 64)) / 8 + centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    }
    total = 0
    for name, cols in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        total += os.path.getsize(path)
    return total
