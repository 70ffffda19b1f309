"""Deterministic generator for the benchmark's input tables.

Writes the ten parquet tables the graft query registry reads (a TPC-H-like
star schema plus `events`, `documents` and `embeddings`) at a scale factor.
Row counts, key domains and value distributions follow the graft test data:
sf0.1 has 600,000 lineitem rows, 150,000 orders, 100,000 events,
5,000 documents and 2,000 64-d embeddings. As there, embeddings are unit
vectors in random directions with independent labels, and one document in
twenty copies another with a word appended (README.md, "Inputs").

Every table draws from its own numpy stream seeded by (seed, table index),
so a table's bytes depend only on the seed, the scale factor and the
numpy/pyarrow versions.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _ids(n):
    return pa.array(np.arange(n, dtype=np.int64))


def build(name, sf, rng):
    """One table at scale factor `sf` as a pyarrow Table."""
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    if name == "nation":
        k = np.arange(25, dtype=np.int32)
        return pa.table({
            "n_nationkey": pa.array(k),
            "n_name": pa.array([f"NATION_{i}" for i in k]),
            "n_regionkey": pa.array(k % 5)})
    if name == "customer":
        return pa.table({
            "c_custkey": _ids(n_cust),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    if name == "supplier":
        return pa.table({
            "s_suppkey": _ids(n_supp),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    if name == "part":
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return pa.table({
            "p_partkey": _ids(n_part),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0)})
    if name == "orders":
        return pa.table({
            "o_orderkey": _ids(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    if name == "lineitem":
        n = int(6_000_000 * sf)
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n)),
            "l_partkey": pa.array(rng.integers(0, n_part, n)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n)) * DAY_US)})
    if name == "events":
        n = int(1_000_000 * sf)
        return pa.table({
            "event_id": _ids(n),
            "ts": _ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n))),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    if name == "documents":
        n = max(500, int(50_000 * sf))
        vocab = np.asarray(VOCAB, dtype=object)
        texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
                 for k in rng.integers(10, 101, n)]
        # one doc in twenty repeats another doc's text with a marker word:
        # planted near-duplicates, and exact ones where two copy one source
        for i in rng.choice(n, n // 20, replace=False):
            texts[i] = texts[rng.integers(0, n)] + " dup"
        return pa.table({
            "doc_id": _ids(n),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    if name == "embeddings":
        n = max(500, int(20_000 * sf))
        v = rng.standard_normal((n, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": _ids(n),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32))})
    raise ValueError(name)


def generate(dest, sf, seed):
    """Write every table as `<dest>/<table>.parquet`."""
    os.makedirs(dest, exist_ok=True)
    for i, t in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        pq.write_table(build(t, sf, rng), os.path.join(dest, f"{t}.parquet"),
                       compression="snappy")
