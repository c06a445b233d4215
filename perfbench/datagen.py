"""Deterministic synthetic input tables for the benchmark.

Writes one parquet file per table (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) with the schemas, row counts
and value domains the registry builders read: a TPC-H-like star schema, a
time-ordered event stream, a word-salad document corpus with planted exact and
near duplicates, and unit-norm 64-dim embeddings. The tables depend only on
the scale factor and DATA_SEED, so a stored result fingerprint stays valid for
every benchmark seed.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
ADJECTIVES = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUNS = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["error", "signup", "purchase", "view", "click"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def row_counts(sf):
    return {
        "supplier": round(10_000 * sf),
        "customer": round(150_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values)[rng.choice(len(values), size=n, p=p)])


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _days(start, rng, span, n):
    d = np.datetime64(start, "us") + rng.integers(0, span + 1, n) * np.timedelta64(1, "D")
    return pa.array(d, type=pa.timestamp("us"))


def _keys(n):
    return pa.array(np.arange(n, dtype=np.int64))


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB)
    text = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # 5% near duplicates (another document plus one marker word) and 8
    # exact-duplicate pairs, so the dedup operators have real positives
    near = rng.choice(n, size=n // 20, replace=False)
    near_set = set(near.tolist())
    originals = np.array([i for i in range(n) if i not in near_set])
    for i in near:
        text[i] = text[rng.choice(originals)] + " dup"
    for a, b in rng.choice(originals, size=(8, 2), replace=False):
        text[b] = text[a]
    return pa.table({
        "doc_id": _keys(n),
        "text": pa.array(text),
        "lang": _pick(rng, LANGS, n, LANG_WEIGHTS),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": _keys(n),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
    })


def tables(sf):
    """Yield (name, pyarrow.Table) for every input table at scale factor sf."""
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    n = row_counts(sf)
    i32 = pa.int32()
    yield "region", pa.table({"r_regionkey": pa.array(range(5), type=i32),
                              "r_name": pa.array(REGIONS)})
    yield "nation", pa.table({"n_nationkey": pa.array(range(25), type=i32),
                              "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                              "n_regionkey": pa.array([i % 5 for i in range(25)], type=i32)})
    k = n["supplier"]
    yield "supplier", pa.table({
        "s_suppkey": _keys(k),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(rng.integers(0, 25, k), type=i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, k)})
    k = n["customer"]
    yield "customer", pa.table({
        "c_custkey": _keys(k),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(rng.integers(0, 25, k), type=i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": _pick(rng, SEGMENTS, k)})
    k = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    yield "part", pa.table({
        "p_partkey": _keys(k),
        "p_name": _pick(rng, names, k),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
        "p_type": _pick(rng, PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k), type=i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) / 10, 1))})
    k = n["orders"]
    yield "orders", pa.table({
        "o_orderkey": _keys(k),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000, 500000, k),
        "o_orderdate": _days("1995-01-01", rng, 2404, k),
        "o_orderpriority": _pick(rng, PRIORITIES, k)})
    k = n["lineitem"]
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k)),
        "l_partkey": pa.array(rng.integers(0, n["part"], k)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k)),
        "l_linenumber": pa.array(rng.integers(1, 8, k), type=i32),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": _money(rng, 900, 105000, k),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["O", "F"], k),
        "l_shipdate": _days("1995-01-02", rng, 2498, k)})
    k = n["events"]
    start = np.datetime64(datetime.datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, k))
    yield "events", pa.table({
        "event_id": _keys(k),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, round(15_000 * sf)), k)),
        "event_type": _pick(rng, EVENT_TYPES, k),
        "value": pa.array(np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)])})
    yield "documents", _documents(rng, n["documents"])
    yield "embeddings", _embeddings(rng, n["embeddings"])


def write(sf, out_dir):
    """Write every table at scale factor sf as out_dir/<table>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
