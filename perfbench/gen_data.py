"""Deterministic synthetic star schema + corpus tables for the benchmark.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each,
the shape `graft.Tables.load` expects) at scale 0.01, with the same column
names, types and value distributions as the engine's test data. Everything derives from
one fixed data seed, so every benchmark run sees byte-identical tables and
the pinned goldens (goldens.json) stay valid; the workload seed only picks
run dates and query order.

    python3 perfbench/gen_data.py <outDir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "red old cold hot new large small blue".split()
NOUN = "bolt anvil plate widget gear ring rod gizmo".split()


def _days(start, end):
    return np.datetime64(start, "D"), (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)


def _dates(rng, n, start, end):
    d0, span = _days(start, end)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, n, values):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = 1_500, 100, 2_000
    n_ord, n_li, n_ev, n_users = 15_000, 60_000, 10_000, 150
    n_docs, n_emb = 500, 500
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())

    _write(out, "region", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5)})
    _write(out, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, n_cust, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])})
    _write(out, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    keys = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": i64(keys),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, n_part, ADJ), _pick(rng, n_part, NOUN))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, n_part, ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})
    _write(out, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, n_ord, ["P", "O", "F"]),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, n_ord, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])})
    _write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, n_li, ["A", "N", "R"]),
        "l_linestatus": _pick(rng, n_li, ["F", "O"]),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04")})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    _write(out, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": np.sort(t0 + rng.integers(0, month_us, n_ev).astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, n_ev, ["click", "signup", "error", "view", "purchase"]),
        "value": _money(rng, n_ev, 0.01, 490.02),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # 5% planted near-duplicates: an earlier document plus a " dup" token
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, int(rng.integers(10, 101)), VOCAB)))
    langs = np.asarray(["en", "de", "es", "fr", "zh"], dtype=object)
    _write(out, "documents", {
        "doc_id": i64(np.arange(n_docs)),
        "text": texts,
        "lang": langs[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": i64([len(t) for t in texts])})
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = 0.5 * centroids[labels] + rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels)})


if __name__ == "__main__":
    generate(sys.argv[1])
