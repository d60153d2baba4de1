"""Seeded synthetic tables for the query-suite workload.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, in the shape and value ranges of the TPC-H-style star schema plus
the ``events`` stream, a document corpus and an embedding table. Row counts
scale with ``sf`` like TPC-H (sf 0.01 gives 60,000 line items); the corpus
and the embedding table are fixed at 500 rows. The same ``(sf, seed)`` gives
byte-identical values.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLOURS = ["red", "blue", "green", "small", "large", "black"]
THINGS = ["widget", "bolt", "ring", "gear", "nut", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window sort join order data line column query stream group "
    "filter customer small big vector"
).split()
EMBED_DIM = 64
N_DOCS = 500


def _day(start: str, n: int, rng: np.random.Generator, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = max(int(6_000_000 * sf), 800)
    n_ev = max(int(1_000_000 * sf), 200)
    n_users = max(int(15_000 * sf), 10)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{COLOURS[c]} {THINGS[t]}"
                for c, t in zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[s] for s in rng.integers(0, 5, n_cust)],
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 900.0, 500_000.0, n_ord),
            "o_orderdate": _day("1995-01-01", n_ord, rng, 2404),
            "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
            "l_shipdate": _day("1995-01-02", n_line, rng, 2498),
        }
    )
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64(
        datetime(2024, 1, 1), "us"
    ).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(60.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for _ in range(N_DOCS):
        words = rng.choice(WORDS, size=int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    # A tenth of the corpus are near-duplicates of earlier documents (one
    # word changed), so the dedup family has pairs to find.
    for i in range(N_DOCS // 10, N_DOCS, 10):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        texts[i] = " ".join(words)
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[x] for x in rng.integers(0, len(LANGS), N_DOCS)],
            "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = (rng.standard_normal((N_DOCS, EMBED_DIM)) * 0.125).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(N_DOCS, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, N_DOCS).astype(np.int32),
        }
    )
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
