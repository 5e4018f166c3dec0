"""Seeded generator for the operator workload's tables.

Writes the ten tables graft's operators read (`graft.Tables.names`) as
single parquet files, with the schemas and value distributions of the
TPC-H-ish test data described in TESTDATA.md. Row counts scale with
`sf` the way that data does (lineitem = 6 M x sf). The same (sf, seed)
always gives byte-identical tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
NOUNS = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64


def _ts(rng, n, start, end, micros=False):
    """n timestamps uniform in [start, end] (datetimes), as numpy datetime64[us]."""
    epoch = dt.datetime(1970, 1, 1)
    lo = int((start - epoch).total_seconds() * 1e6)
    hi = int((end - epoch).total_seconds() * 1e6)
    v = rng.integers(lo, hi + 1, n)
    if not micros:
        v = v - v % 86_400_000_000
    return v.astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part), rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": _money(rng, 0, 0.1, n_li),
        "l_tax": _money(rng, 0, 0.08, n_li),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))})
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(_ts(rng, n_ev, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 30, 23, 59, 59), micros=True)),
        "user_id": rng.integers(0, max(100, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # Documents: word salad over a small vocabulary, with about 5% near
    # duplicates of earlier documents (one word appended or dropped) so
    # the dedup operators find candidate groups.
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            base = texts[rng.integers(0, i)].split()
            words = base + ["dup"] if rng.random() < 0.5 else base[:-1]
        else:
            words = list(rng.choice(WORDS, rng.integers(10, 101)))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.6, (10, EMB_DIM))
    vecs = rng.normal(0, 1, (n_emb, EMB_DIM)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return out


def generate(directory, sf, seed):
    """Write the tables under `directory` unless a finished copy is there."""
    done = os.path.join(directory, "_DONE")
    if os.path.exists(done):
        return directory
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    open(done, "w").close()
    return directory
