"""Seeded generator of the suite tables `suite_heads` reads.

Same ten tables, column names and parquet physical types as the engine's
synthetic test data (a TPC-H-like star schema plus `events`, `documents`
and `embeddings`), written with pandas/pyarrow. Row counts are fixed for
every seed; the seed decides the values.

    python3 perfbench/gen_suite.py OUT_DIR SEED
"""
import os
import sys

import numpy as np
import pandas as pd

# rows per table: the size of the engine's sf0.01 test set
ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
USERS = 150
VOCAB = ("a the data spark table query join filter group agg sort merge hash scan "
         "stream batch window row column key value order line part customer vector "
         "fast slow big small index cache shuffle plan task stage job node").split()


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us")
    off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return base + off


def tables(seed):
    rng = np.random.default_rng(seed)
    n = ROWS
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    c = n["customer"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], c)})
    s = n["supplier"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    adj = np.array(["small", "red", "blue", "green", "large", "steel", "brass", "tiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "spring", "valve", "nut", "pipe"])
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, p), " "), rng.choice(noun, p)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
        "o_orderdate": _ts(rng, o, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], o)})
    li = n["lineitem"]
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(rng, li, "1995-01-02", 2498)})
    e = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, e))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, USERS, e).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    words = np.array(VOCAB)
    lens = rng.integers(8, 90, d)
    text = [" ".join(rng.choice(words, k)) for k in lens]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": text,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in text], dtype=np.int64)})
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centres = rng.normal(0, 1, (10, 64))
    vec = centres[labels] + rng.normal(0, 0.8, (v, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": [row.astype(np.float32) for row in vec],
        "label": labels.astype(np.int32)})
    return t


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
