#!/usr/bin/env python3
"""Generate the query-suite tables: a TPC-H-like star schema plus the
`events`, `documents` and `embeddings` tables every registered query reads.

The tables follow the engine's sf0.1 test-data layout (lineitem 600k rows,
orders 150k, events 100k, ...) and draw from the same random stream: every
column of the star schema and of `events` equals the sf0.1 test tables value
for value. `documents` and `embeddings` match them in shape (vocabulary,
document lengths, 5% near-duplicates, language mix, 64-dim clustered unit
vectors) but not row for row. The data is a pure function of `SEED`, so the
expected row counts recorded in `queries.json` stay valid for every run.

Usage: gen_tables.py <out_dir>
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
SIZES = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# value lists in the order the test-data generator indexes them
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
ADJS = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUNS = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables():
    rng = np.random.default_rng(SEED)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5})
    ck = np.arange(SIZES["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": pick(rng, SEGMENTS, len(ck))})
    sk = np.arange(SIZES["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, len(sk))})
    pk = np.arange(SIZES["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, len(pk)), rng.integers(0, 8, len(pk)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
        "p_type": pick(rng, PTYPES, len(pk)),
        "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2)})
    ok = np.arange(SIZES["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, SIZES["customer"], len(ok)),
        "o_orderstatus": pick(rng, ["O", "F", "P"], len(ok)),
        "o_totalprice": money(rng, 1000, 500000, len(ok)),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", len(ok)),
        "o_orderpriority": pick(rng, PRIORITIES, len(ok))})
    nl = SIZES["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, SIZES["orders"], nl),
        "l_partkey": rng.integers(0, SIZES["part"], nl),
        "l_suppkey": rng.integers(0, SIZES["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, nl),
        "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": pick(rng, ["R", "A", "N"], nl),
        "l_linestatus": pick(rng, ["O", "F"], nl),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", nl)})
    ne = SIZES["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = SIZES["documents"]
    texts = []
    lengths = rng.integers(10, 101, nd)
    dup = rng.random(nd) < 0.05
    for i in range(nd):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(rng, VOCAB, int(lengths[i]))))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": pick(rng, LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = SIZES["embeddings"]
    labels = rng.integers(0, 10, nv).astype(np.int32)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] + rng.normal(0, 0.8, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    a = ap.parse_args()
    tmp = a.out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, a.out_dir)


if __name__ == "__main__":
    main()
