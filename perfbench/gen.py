"""Seeded generator for the benchmark's input tables.

Writes the ten tables the declared queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the same columns and value
shapes as the engine's reference test data. Every value is a function of
(seed, scale): the same seed gives byte-identical tables. run.py sets
the sizes (its INPUTS table).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = ["small", "red", "blue", "green", "large", "shiny", "rusty"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "spring", "valve", "panel"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "filter group big vector stream").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def sizes(sf, docs, vecs):
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "users": max(20, int(15_000 * sf)),
        "documents": docs,
        "embeddings": vecs,
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    """Bag-of-words documents with planted exact and near duplicates, so
    the dedup and similarity operators find real pairs."""
    lengths = rng.integers(8, 96, n)
    texts = [" ".join(rng.choice(VOCAB, size=k)) for k in lengths]
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.03:  # exact copy of an earlier document
            texts[i] = texts[int(rng.integers(0, i))]
        elif i > 0 and r < 0.10:  # near copy: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 12)):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts[i] = " ".join(words)
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(scale=1.2, size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    vec_type = pa.list_(pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(v.astype(np.float32).tolist(), type=vec_type),
        "label": label.astype(np.int32),
    })


def generate(seed, sf, docs, vecs):
    rng = np.random.default_rng(seed)
    n = sizes(sf, docs, vecs)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c).tolist()})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    words = rng.choice(PART_WORDS, p)
    nouns = rng.choice(PART_NOUNS, p)
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(words, nouns)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p).tolist(),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    odate = EPOCH_1995 + rng.integers(0, 2404, o) * np.timedelta64(DAY_US, "us")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], o).tolist(),
        "o_totalprice": money(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, o).tolist()})
    lines = rng.integers(1, 8, o)
    lk = np.repeat(np.arange(o, dtype=np.int64), lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    m = len(lk)
    qty = rng.integers(1, 51, m).astype(np.float64)
    ship = EPOCH_1995 + rng.integers(1, 2499, m) * np.timedelta64(DAY_US, "us")
    out["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, p, m).astype(np.int64),
        "l_suppkey": rng.integers(0, s, m).astype(np.int64),
        "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m).tolist(),
        "l_linestatus": rng.choice(["F", "O"], m).tolist(),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us"))})
    e = n["events"]
    offs = np.sort(rng.integers(0, 30 * DAY_US, e))
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + offs.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, e).tolist(),
        "value": np.round(rng.exponential(40.0, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    out["documents"] = documents(rng, n["documents"])
    out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))

