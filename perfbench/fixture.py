"""Seeded generator for the `suite` workload's parquet fixture.

It writes the ten tables `graft.Tables` loads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
column names, physical types and value distributions of the project's
sf0.001 test fixture: TPC-H-like star schema rows, an events stream over
January 2024, a 31-word synthetic document corpus in which about 5% of the
documents are near-duplicates (another document plus " dup"), and unit
64-dim float embeddings with labels 0..9. The same seed gives the same
tables.
"""
import datetime as dt
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The suite's fixture is the same for every run, like the project's own
# test fixtures (seed 42): its oracle row counts are then computed once.
SEED = 42
ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}
EVENT_USERS = 15
DIM = 64
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]


def _ts(base, seconds):
    return pa.array([base + dt.timedelta(seconds=float(s)) for s in seconds],
                    type=pa.timestamp("us"))


def tables(seed):
    r = random.Random(seed)
    np_r = np.random.default_rng(seed)
    n = ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n["customer"])], pa.int32()),
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n["customer"])],
        "c_mktsegment": [r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
                         for _ in range(n["customer"])]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n["supplier"])], pa.int32()),
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n["supplier"])]})
    adjs = "small red blue hot cold large new old".split()
    nouns = "ring widget bolt gear anvil plate rod gizmo".split()
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{r.choice(adjs)} {r.choice(nouns)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": [r.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"])
                   for _ in range(n["part"])],
        "p_size": pa.array([r.randint(1, 50) for _ in range(n["part"])], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n["part"])]})
    day0 = dt.datetime(1995, 1, 1)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array([r.randrange(n["customer"]) for _ in range(n["orders"])], pa.int64()),
        "o_orderstatus": [r.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [round(r.uniform(1000, 500000), 2) for _ in range(n["orders"])],
        "o_orderdate": _ts(day0, [86400 * r.randrange(2404) for _ in range(n["orders"])]),
        "o_orderpriority": [r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n["orders"])]})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array([r.randrange(n["orders"]) for _ in range(nl)], pa.int64()),
        "l_partkey": pa.array([r.randrange(n["part"]) for _ in range(nl)], pa.int64()),
        "l_suppkey": pa.array([r.randrange(n["supplier"]) for _ in range(nl)], pa.int64()),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(nl)], pa.int32()),
        "l_quantity": [float(r.randint(1, 50)) for _ in range(nl)],
        "l_extendedprice": [round(r.uniform(900, 105000), 2) for _ in range(nl)],
        "l_discount": [r.randint(0, 10) / 100 for _ in range(nl)],
        "l_tax": [r.randint(0, 8) / 100 for _ in range(nl)],
        "l_returnflag": [r.choice("ANR") for _ in range(nl)],
        "l_linestatus": [r.choice("OF") for _ in range(nl)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), [86400 * r.randrange(2499) for _ in range(nl)])})
    ne = n["events"]
    gaps = np_r.exponential(30 * 86400 / ne, ne)
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.round(np.cumsum(gaps), 6)),
        "user_id": pa.array([r.randrange(EVENT_USERS) for _ in range(ne)], pa.int64()),
        "event_type": [r.choice(["view", "click", "purchase", "signup", "error"]) for _ in range(ne)],
        "value": [max(0.01, round(r.expovariate(1 / 50), 2)) for _ in range(ne)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(ne)]})
    nd = n["documents"]
    texts = [" ".join(r.choice(WORDS) for _ in range(r.randint(10, 99))) for _ in range(nd)]
    for i in r.sample(range(nd), nd // 20):
        texts[i] = texts[r.randrange(nd)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": r.choices(LANGS, LANG_WEIGHTS, k=nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    v = np_r.standard_normal((nv, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(np_r.integers(0, 10, nv), pa.int32())})
    return out


def ensure(seed, out_dir):
    """Write the fixture for `seed` into `out_dir` unless it is already there."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)
    return out_dir
