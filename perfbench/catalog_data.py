"""Seeded generator for the query-catalog tables.

Writes the ten tables the query catalog reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet file
each): a TPC-H-ish star schema plus the event, document and embedding
tables, at about the 0.01 scale factor. The same seed always gives the same
files. `run.py` calls `write()` for `query_catalog` runs.
"""
import os

import duckdb
import numpy as np
import pandas as pd

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000, events=10000,
             documents=500, embeddings=500, users=150)


def _days(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def tables(seed: int) -> dict:
    rng = np.random.default_rng(seed)
    n = SIZES
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"])})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)})
    adj = ["blue", "hot", "small", "old", "red", "new", "cold"]
    noun = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n["part"]), rng.choice(noun, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"])})
    lines = rng.integers(1, 8, n["orders"])
    m = int(lines.sum())
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": np.repeat(np.arange(n["orders"], dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], m),
        "l_linestatus": rng.choice(["O", "F"], m),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04")})
    # events: distinct microsecond timestamps over 30 days, in event_id order
    ne = n["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.choice(span_us, ne, replace=False))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.uniform(0.01, 490.02, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    # documents: random word streams; about 5% repeat an earlier one + " dup"
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    # embeddings: unit vectors around one of ten label centres
    nv = n["embeddings"]
    label = rng.integers(0, 10, nv)
    centres = rng.normal(size=(10, 64))
    v = centres[label] + rng.normal(scale=1.5, size=(nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(v),
        "label": label.astype(np.int32)})
    return t


def write(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name, df in tables(seed).items():
        con.register("df", df)
        select = "SELECT * REPLACE (CAST(embedding AS FLOAT[]) AS embedding) FROM df" \
            if name == "embeddings" else "SELECT * FROM df"
        con.execute(f"COPY ({select}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
        con.unregister("df")
    con.close()

