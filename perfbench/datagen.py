"""Seeded batch tables in the shape of the repository's test data.

Same column names and parquet types as the repository's test tables
(FIXTURES.md section B), drawn from `--seed` so the benchmark needs nothing
outside its checkout: uniform foreign keys, `l_linenumber` in 1..7, and
documents of 10-99 words over a small vocabulary, with 20 sources, a tenth
of them near-duplicates of another document. `sf`
scales the relational tables as the test data does (orders = 1.5M x sf);
`docs` sets the document count.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the fast slow big small key order sort table scan merge part window "
         "hash join batch stream spark dup group query row data filter customer "
         "line value agg column vector").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.39, 0.16, 0.16, 0.15, 0.14]
NEAR_DUP_SHARE = 0.1
EPOCH = datetime.datetime(1995, 1, 1)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents"]


def _ts(rng, n, days):
    us = rng.integers(0, days, n).astype("int64") * 86_400_000_000
    base = int((EPOCH - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(us + base, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float, docs: int) -> dict:
    rng = np.random.default_rng(seed)
    n_part = max(20, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(15, int(150_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_li = 4 * n_ord
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999, 9999),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999, 9999)})
    adjectives = ["small", "red", "green", "large", "steel", "brass"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 1100, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _ts(rng, n_ord, 2400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, 2600)})
    lengths = rng.integers(10, 100, docs)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, at = [], 0
    for n in lengths:
        texts.append(" ".join(WORDS[w] for w in words[at:at + n]))
        at += n
    # near-duplicates: a copy of another document with a tenth of its words
    # replaced, so the MinHash/shingle queries find pairs to verify
    near = np.flatnonzero(rng.random(docs) < NEAR_DUP_SHARE)
    for i, j in zip(near, rng.integers(0, docs, len(near))):
        w = texts[j].split(" ")
        for k in rng.integers(0, len(w), len(w) // 10):
            w[k] = WORDS[rng.integers(0, len(WORDS))]
        texts[i] = " ".join(w)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return out


def write(dir_: str, seed: int, sf: float, docs: int) -> None:
    os.makedirs(dir_, exist_ok=True)
    for name, table in tables(seed, sf, docs).items():
        pq.write_table(table, os.path.join(dir_, f"{name}.parquet"))
