"""Seeded generator for the parquet tables the query suite reads.

The tables have the schemas and value ranges of the repository's test data
(TESTDATA.md: a TPC-H-like star schema plus `events`, `documents` and
`embeddings`), at a scale of about 1/100 of TPC-H SF1. The same seed always gives byte-identical
files. Usage: python3 perfbench/tables.py <out_dir> <seed>
"""
import datetime
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# rows per table at the benchmark's scale (lineitem ~ TPC-H SF 0.01)
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500, "event_users": 150}

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DIM = 64
LABELS = 10


def _days(rng, start, end):
    span = (end - start).days
    return start + datetime.timedelta(days=rng.randrange(span + 1))


def build(seed):
    """All tables as {name: pyarrow.Table}, fully determined by `seed`."""
    rng = random.Random(seed)
    n = SIZES
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n["customer"])], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["customer"])],
        "c_mktsegment": [rng.choice(segments) for _ in range(n["customer"])]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n["supplier"])], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["supplier"])]})
    adjectives = ["red", "old", "cold", "hot", "new", "small", "large", "blue"]
    nouns = ["bolt", "anvil", "plate", "widget", "gear", "ring", "nut", "spring"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n["part"])],
        "p_type": [rng.choice(types) for _ in range(n["part"])],
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n["part"])], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n["part"])]})
    d0, d1 = datetime.datetime(1995, 1, 1), datetime.datetime(2001, 8, 1)
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n["customer"]) for _ in range(n["orders"])], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n["orders"])],
        "o_orderdate": pa.array([_days(rng, d0, d1) for _ in range(n["orders"])], pa.timestamp("us")),
        "o_orderpriority": [rng.choice(priorities) for _ in range(n["orders"])]})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array([rng.randrange(n["orders"]) for _ in range(m)], pa.int64()),
        "l_partkey": pa.array([rng.randrange(n["part"]) for _ in range(m)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(n["supplier"]) for _ in range(m)], pa.int64()),
        "l_linenumber": pa.array([rng.randrange(1, 8) for _ in range(m)], pa.int32()),
        "l_quantity": [float(rng.randrange(1, 51)) for _ in range(m)],
        "l_extendedprice": [round(rng.uniform(900, 105000), 2) for _ in range(m)],
        "l_discount": [rng.randrange(11) / 100 for _ in range(m)],
        "l_tax": [rng.randrange(9) / 100 for _ in range(m)],
        "l_returnflag": [rng.choice("RAN") for _ in range(m)],
        "l_linestatus": [rng.choice("FO") for _ in range(m)],
        "l_shipdate": pa.array([_days(rng, d0, datetime.datetime(2001, 11, 4)) for _ in range(m)],
                               pa.timestamp("us"))})
    e0 = datetime.datetime(2024, 1, 1)
    offsets = sorted(rng.randrange(30 * 86400 * 10**6) for _ in range(n["events"]))
    etypes = ["signup", "click", "view", "purchase", "error"]
    t["events"] = pa.table({
        "event_id": pa.array(range(n["events"]), pa.int64()),
        "ts": pa.array([e0 + datetime.timedelta(microseconds=o) for o in offsets], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n["event_users"]) for _ in range(n["events"])], pa.int64()),
        "event_type": [rng.choice(etypes) for _ in range(n["events"])],
        "value": [round(rng.uniform(0.01, 490.0), 2) for _ in range(n["events"])],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n["events"])]})
    texts = []
    for _ in range(n["documents"]):
        words = [rng.choice(WORDS) for _ in range(rng.randrange(8, 90))]
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n["documents"])],
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centroids = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(LABELS)]
    vecs, labels = [], []
    for _ in range(n["embeddings"]):
        label = rng.randrange(LABELS)
        v = [c + rng.gauss(0, 0.6) for c in centroids[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
