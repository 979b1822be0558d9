"""Seeded generator for the catalogue tables.

Writes the ten parquet tables the query catalogue reads (`region nation
customer supplier part orders lineitem events documents embeddings`),
with the row counts, columns and types of the repository's shared
TPC-H-ish test tables at sf0.001, and value ranges like theirs. The seed
changes values only, so runs on different seeds do the same amount of
work.

    python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14]
N_SOURCES = 20
EMBED_DIM = 64


# rows per table (and distinct event users), as in the shared sf0.001 set
COUNTS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500, "lineitem": 6000,
          "events": 1000, "users": 15, "documents": 500, "embeddings": 500}


def _days(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    c = COUNTS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": list(rng.choice(SEGMENTS, n))})
    n = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = c["part"]
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n), rng.choice(noun, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": list(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n)),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)})
    n = c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, c["customer"], n).astype(np.int64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
        "o_orderdate": pa.array(_days(rng, n, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": list(rng.choice(PRIORITIES, n))})
    n = c["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, c["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, c["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, c["supplier"], n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": list(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", "2001-11-30"), pa.timestamp("us"))})
    n = c["events"]
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n)) + np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, c["users"], n).astype(np.int64),
        "event_type": list(rng.choice(EVENT_TYPES, n)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = c["documents"]
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document's leading words plus a marker
            src = texts[int(rng.integers(0, i))].split()
            keep = max(2, int(len(src) * rng.uniform(0.8, 1.0)))
            texts.append(" ".join(src[:keep] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n = c["embeddings"]
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})
    return out


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
