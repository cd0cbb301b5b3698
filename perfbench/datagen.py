"""Deterministic input tables for the benchmark.

Writes the ten tables the engine's catalog reads (`catalog.TABLES`) as one
parquet file each. Their schemas and row counts are the fixed seed-42 test
tables' (TESTDATA.md, FIXTURES.md): a TPC-H-like star schema, a 30-day
`events` stream, a text corpus with 5% near-duplicates (a copied document
plus one marker word) and unit-norm 64-d embeddings. The value
distributions (vocabulary, words per document, near-duplicate rate, key
ranges, event types) were fitted to those tables; `shape()` measures
them, and `python3 perfbench/datagen.py --shape DIR...` prints them side by
side for any directories of tables, so the fit can be re-checked against
the test tables. perfbench/README.md records one such comparison.

Every value comes from one numpy generator seeded by the caller, so the
same (seed, scale) gives byte-identical files. `scale` follows the
engine's scale-factor convention: lineitem holds 6_000_000 * scale rows
(60,000 at scale 0.01).
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "red", "green", "small", "big", "hot", "cold", "old"]
NOUNS = ["bolt", "widget", "gear", "ring", "anvil", "nut", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
EVENT_DAYS = 30
EVENT_START = datetime(2024, 1, 1)
_US_PER_DAY = 86_400 * 1_000_000


def _ts_us(day0: datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(day0.timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(day0: datetime, offsets: np.ndarray) -> pa.Array:
    return _ts_us(day0, offsets.astype(np.int64) * _US_PER_DAY)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Build every table in memory (a few MB at the scales the benchmark uses)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_li = max(400, int(6_000_000 * scale))
    n_ev = max(100, int(1_000_000 * scale))
    n_users = max(5, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{COLORS[c]} {NOUNS[w]}"
            for c, w in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(datetime(1995, 1, 1), rng.integers(0, 2404, n_ord)),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(datetime(1995, 1, 2), rng.integers(0, 2499, n_li)),
    })
    ev_off = np.sort(rng.integers(0, EVENT_DAYS * _US_PER_DAY, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us(EVENT_START, ev_off),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n_words)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vec, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return out


def write(directory: str, seed: int, scale: float) -> int:
    """Write every table under `directory` as `<name>.parquet`; returns the
    total bytes written (the workloads' source bytes)."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for name, table in tables(seed, scale).items():
        path = os.path.join(directory, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# name -> DuckDB query over the table directory `@`; each returns one row.
SHAPE_QUERIES = {
    "documents: rows, distinct texts, sources, langs": "SELECT count(*), count(DISTINCT text), count(DISTINCT source), count(DISTINCT lang) FROM '@/documents.parquet'",
    "documents: words per doc min/mean/max": "SELECT min(n), round(avg(n), 1), max(n) FROM (SELECT len(string_split(text, ' ')) n FROM '@/documents.parquet')",
    "documents: vocabulary": "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM '@/documents.parquet')",
    "documents: near-duplicates (marker word)": "SELECT count(*) FROM '@/documents.parquet' WHERE text LIKE '% dup'",
    "documents: share in 'en'": "SELECT round(avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 2) FROM '@/documents.parquet'",
    "embeddings: rows, dim, mean squared norm, labels": "SELECT count(*), min(len(embedding)), round(avg(list_sum(list_transform(embedding, x -> x * x))), 4), count(DISTINCT label) FROM '@/embeddings.parquet'",
    "events: rows, users, days, props values": "SELECT count(*), count(DISTINCT user_id), count(DISTINCT CAST(ts AS DATE)), count(DISTINCT props) FROM '@/events.parquet'",
    "events: event types, mean value": "SELECT count(DISTINCT event_type), round(avg(value), 0) FROM '@/events.parquet'",
    "lineitem: rows, mean qty, mean price": "SELECT count(*), round(avg(l_quantity), 0), round(avg(l_extendedprice), -3) FROM '@/lineitem.parquet'",
    "lineitem: ship dates": "SELECT CAST(min(l_shipdate) AS DATE), CAST(max(l_shipdate) AS DATE) FROM '@/lineitem.parquet'",
    "orders: rows, customers, mean total": "SELECT count(*), count(DISTINCT o_custkey), round(avg(o_totalprice), -4) FROM '@/orders.parquet'",
    "part: rows, brands, types, names": "SELECT count(*), count(DISTINCT p_brand), count(DISTINCT p_type), count(DISTINCT p_name) FROM '@/part.parquet'",
    "customer, supplier: rows": "SELECT (SELECT count(*) FROM '@/customer.parquet'), (SELECT count(*) FROM '@/supplier.parquet')",
}


def shape(directory: str) -> dict[str, tuple]:
    """The figures of SHAPE_QUERIES for one directory of tables."""
    import duckdb

    con = duckdb.connect()
    try:
        return {k: con.sql(q.replace("@", directory)).fetchone() for k, q in SHAPE_QUERIES.items()}
    finally:
        con.close()


def _main(argv: list[str]) -> int:
    if not argv or argv[0] != "--shape" or len(argv) < 2:
        print("usage: python3 perfbench/datagen.py --shape DIR [DIR...]", file=sys.stderr)
        return 2
    shapes = [shape(d) for d in argv[1:]]
    print(" | ".join(["figure", *argv[1:]]))
    for k in SHAPE_QUERIES:
        print(" | ".join([k, *(", ".join(str(v) for v in s[k]) for s in shapes)]))
    return 0


if __name__ == "__main__":
    raise SystemExit(_main(sys.argv[1:]))
