"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine's registry reads (schemas as in
FIXTURES.md, row counts at scale factor 0.1) and, per workload, the
request sequence the benchmark drives. Everything is a pure
function of the seed: numpy's PCG64 generator, no wall clock, no
hashing of Python objects.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
USERS = 1500
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "hot", "blue", "new", "large", "small", "green", "old"]
PART_NOUN = ["bolt", "ring", "anvil", "rod", "plate", "nut", "gear", "pin"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(x):
    return np.round(x, 2)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def events_table(seed, n=int(1_000_000 * SF)):
    r = _rng(seed, 1)
    gaps = r.integers(1, 2 * 30 * DAY_US // n, size=n)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": r.integers(0, USERS, size=n, dtype=np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, size=n)]),
        "value": _money(r.exponential(50.0, size=n)),
        "props": pa.array(['{"k": %d}' % k for k in r.integers(0, 100, size=n)]),
    }


def write_fixture(seed, out):
    """The sf0.1 fixture directory: the same ten tables, with the same
    column names, types and value domains, as the repo's test fixtures."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 0)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li = int(1_500_000 * SF), int(6_000_000 * SF)
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)])})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r.uniform(-999.99, 9999.99, n_supp))})
    adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": _money(r.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_ord)])})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": r.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": r.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r.uniform(900.0, 105000.0, n_li)),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
        "l_shipdate": _ts(EPOCH_1995 + r.integers(1, 2499, n_li) * DAY_US)})
    _write(f"{out}/events.parquet", events_table(seed))
    n_doc = int(50_000 * SF)
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), k)])
             for k in r.integers(10, 101, n_doc)]
    # a few exact duplicates, as in the original corpus
    for i in range(8):
        a, b = (int(x) for x in r.choice(n_doc, 2, replace=False))
        texts[a] = texts[b] = texts[a] + " dup"
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)]),
        "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_vec, dim = int(20_000 * SF), 64
    vecs = r.normal(0.0, 0.1, (n_vec, dim)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32())})


def webhook_requests(seed, n):
    """The closed-loop client's request bodies: one event per request,
    a user out of the fixture's USERS and an integer value."""
    r = _rng(seed, 2)
    users = r.integers(0, USERS, n)
    values = r.integers(1, 1000, n)
    return [{"user_id": int(u), "value": int(v)} for u, v in zip(users, values)]


def permutation(seed, names):
    """The order a pass runs `names` in."""
    return [names[i] for i in _rng(seed, 4).permutation(len(names))]


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)
