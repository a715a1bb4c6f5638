"""Seeded parquet tables for the query-mix workload.

Writes the ten tables the program's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names and types the queries and their DuckDB
oracle SQL expect, at a scale factor `sf` (sf 1 is 6 million lineitems).
The shapes the queries depend on:

- documents: 10-99 words drawn uniformly from a 30-word vocabulary, so
  unrelated documents share shingles only by chance; 5 % are a copy of
  another document with " dup" appended, the near-duplicates the dedup
  queries find; source `src<doc_id mod 20>`, five languages.
- events: time-ordered by event_id with exponential gaps over 30 days,
  so sessions split on the gaps; 5 event types.
- embeddings: random unit vectors in 64 dimensions with 10 labels.

The same seed always gives the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US_PER_DAY = 86_400_000_000


def _days(rng, n, first, last):
    """n midnight timestamps (numpy datetime64[us]) uniform over [first, last]."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * US_PER_DAY).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    n_words = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in n_words]
    dup = rng.random(n) < 0.05
    base = rng.integers(0, n, n)
    for i in np.flatnonzero(dup):
        if base[i] != i:
            texts[i] = texts[base[i]] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _events(rng, n, users):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(30 * US_PER_DAY / n, n)
    ts = start + np.cumsum(gaps).astype(np.int64)
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim), pa.int32()),
                                              flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


def generate(root, seed, sf):
    """Writes the ten tables under root; returns their row counts."""
    os.makedirs(root)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": pa.array(REGIONS, pa.string())},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string())},
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), pa.float64())},
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
                                      pa.float64())},
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(STATUSES, n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500000), pa.float64()),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"),
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string())},
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2),
                                    pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04"),
                               pa.timestamp("us"))}
    tables["events"] = _events(rng, int(1_000_000 * sf), max(1, int(15_000 * sf)))
    tables["documents"] = _documents(rng, int(50_000 * sf))
    tables["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    for name, columns in tables.items():
        pq.write_table(pa.table(columns), os.path.join(root, f"{name}.parquet"))
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}
