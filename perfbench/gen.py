"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (region nation customer supplier
part orders lineitem events documents embeddings), one parquet file each,
with the column names and physical types of the project's testdata
(TESTDATA.md). Row counts follow the sf0.01 shape by default. The same
seed always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
ADJ = "blue hot small old red new cold large".split()
NOUN = "bolt gear anvil ring rod widget plate gizmo".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000


def _us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents(rng, n_docs):
    """Word-salad documents over a 30-word vocabulary; 5% are
    near-duplicates: another document's text with ' dup' appended."""
    texts = []
    for _ in range(n_docs):
        n = int(rng.integers(10, 100))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n)))
    # exactly 5% near-duplicates, each copying a document that is not one
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        j = (int(i) + int(rng.integers(1, n_docs))) % n_docs
        texts[i] = texts[j] + " dup"
    return texts


def generate(out_dir, seed):
    """Write all tables for `seed` into `out_dir`, at the sf0.01 shape."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_line, n_evt = 15000, 60000, 10000
    n_docs, n_vec = 500, 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    o_lo, o_hi = _us(1995, 1, 1) // US_PER_DAY, _us(2001, 8, 1) // US_PER_DAY
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(o_lo, o_hi + 1, n_ord) * US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    s_lo, s_hi = _us(1995, 1, 2) // US_PER_DAY, _us(2001, 11, 4) // US_PER_DAY
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": _ts(rng.integers(s_lo, s_hi + 1, n_line) * US_PER_DAY)})

    t0 = _us(2024, 1, 1)
    ts = np.sort(t0 + rng.integers(0, 30 * US_PER_DAY, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(1, n_evt // 66), n_evt), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt).tolist(),
        "value": np.round(rng.exponential(60.0, n_evt).clip(0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    texts = documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (n_vec, 64))
    for i in rng.choice(n_vec, n_vec // 20, replace=False):
        j = (int(i) + int(rng.integers(1, n_vec))) % n_vec
        vecs[i] = vecs[j] + rng.normal(0.0, 0.01, 64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
