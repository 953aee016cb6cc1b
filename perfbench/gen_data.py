"""Deterministic input tables for the benchmark, at TPC-H scale factor 0.1.

The tables follow the schemas the program's `SchemaGuard` pins: a trimmed
TPC-H star schema (money as 2-decimal doubles, dates as timestamps), an
`events` stream table, and the `documents`/`embeddings` corpus the
operator library reads. Values are drawn from numpy's PCG64 under a fixed
seed, so every checkout generates byte-identical parquet. The workload
seed does not change these tables; it picks query parameters, DML slices
and operation order (see README.md).

Dates follow the TPC-H generator's shape (orders 1992-01-01 .. 1998-08-02,
ship date 1..121 days after the order, return flag and line status keyed
to 1995-06-17), so the specification's substitution-parameter ranges all
select rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
N_LINEITEM = int(6_000_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_CUSTOMER = int(150_000 * SF)
N_PART = int(200_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_EVENTS = 100_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD"]
PART_WORDS = ["large", "hot", "blue", "old", "red", "small", "green", "bright"]
PART_NOUNS = ["ring", "bolt", "plate", "gear", "pipe", "nut", "spring", "valve"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()

DAY_US = 86_400_000_000
EPOCH = np.datetime64("1970-01-01", "D")


def _days(d):
    return int((np.datetime64(d, "D") - EPOCH).astype(np.int64))


def _ts(days):
    return pa.array(np.asarray(days, dtype=np.int64) * DAY_US, pa.timestamp("us"))


def _money(x):
    return np.round(x, 2)


def _strs(values, idx):
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def tables():
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, N_CUSTOMER))),
        "c_mktsegment": _strs(SEGMENTS, rng.integers(0, 5, N_CUSTOMER))})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, N_SUPPLIER)))})
    names = [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in
             zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)], pa.string()),
        "p_type": _strs(PART_TYPES, rng.integers(0, 6, N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": pa.array(_money(900 + (np.arange(N_PART) % 1000) / 10.0))})

    odate = rng.integers(_days("1992-01-01"), _days("1998-08-02") + 1, N_ORDERS)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": _strs(["F", "O", "P"], rng.integers(0, 3, N_ORDERS)),
        "o_totalprice": pa.array(_money(rng.uniform(1000, 500000, N_ORDERS))),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _strs(PRIORITIES, rng.integers(0, 5, N_ORDERS))})

    lo = rng.integers(0, N_ORDERS, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    ship = odate[lo] + rng.integers(1, 122, N_LINEITEM)
    cutoff = _days("1995-06-17")
    flag = np.where(ship > cutoff, 1, np.where(rng.integers(0, 2, N_LINEITEM) == 0, 0, 2))
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(qty * rng.uniform(900, 2100, N_LINEITEM))),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": _strs(["A", "N", "R"], flag),
        "l_linestatus": _strs(["F", "O"], (ship > cutoff).astype(np.int64)),
        "l_shipdate": _ts(ship)})

    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, N_EVENTS))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": _strs(EVENT_TYPES, rng.integers(0, 5, N_EVENTS)),
        "value": pa.array(_money(rng.exponential(80, N_EVENTS))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
                          pa.string())})

    texts = []
    for _ in range(N_DOCS):
        n = int(rng.integers(8, 90))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n)))
    # near duplicates: a copy of an earlier document with one token appended
    for i in rng.choice(np.arange(100, N_DOCS), 250, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    # exact duplicates
    for i in rng.choice(np.arange(100, N_DOCS), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _strs(LANGS, rng.integers(0, len(LANGS), N_DOCS)),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def generate(out_dir):
    """Write every table as `<out_dir>/<name>.parquet` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
