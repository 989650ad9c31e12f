"""Seeded star-schema, event and document tables for the `catalog` and
`stream` workloads.

Same table names, column names and parquet types as the fixed test data
the catalog's oracle SQL is written against (see TESTDATA.md), with row
counts scaled by `sf` the same way. Each table is a directory holding one
parquet file: the streaming gates watch `events.parquet` and
`documents.parquet` as file-stream source directories.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "lineitem": 6_000_000,
               "events": 1_000_000, "documents": 50_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "red", "small", "big", "hot", "cold", "old", "new"]
NOUNS = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big filter group stream vector").split()
DAY_1995 = np.datetime64("1995-01-01", "us")


def _days(rng, n, lo, hi):
    return DAY_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, p), rng.choice(NOUNS, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": rng.integers(1, 51, p).astype("int32"),
        "p_retailprice": np.round(rng.uniform(900, 1000, p), 1)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype="int64"),
        "o_custkey": rng.integers(0, c, o).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
        "o_orderdate": pa.array(_days(rng, o, 0, 2404), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype("int64"),
        "l_partkey": rng.integers(0, p, li).astype("int64"),
        "l_suppkey": rng.integers(0, s, li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, li).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": pa.array(_days(rng, li, 1, 2499), pa.timestamp("us"))})
    e = n["events"]
    ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86400 * 10**6, e).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(e * 0.015)), e).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.uniform(0.01, 490.02, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    lengths = rng.integers(8, 100, d)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    for i in np.nonzero(rng.random(d) < 0.002)[0]:   # a few exact re-crawls
        texts[i] = texts[int(rng.integers(0, d))]
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype="int64"), "text": texts,
        "lang": rng.choice(LANGS, d, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    return out


def generate(out_dir, seed, sf):
    for name, table in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))
