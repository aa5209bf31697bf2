"""Seeded input generator for the benchmark.

Writes the ten graft tables (the TPC-H-like star schema, an `events`
stream, a `documents` corpus and an `embeddings` table) with the same
column names, parquet types and value domains as the repository's
fixtures, scaled by `sf`. Every column that is not a key or a fixed
label is drawn from `numpy.random.default_rng(seed)`, so another seed
gives other content, not just another row order.

Two layouts:
  single  one parquet file per table, one row group (`<t>.parquet`)
  split   a directory of part files per table (`<t>.parquet/part-NNNNN.parquet`)
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "data", "table", "agg", "value", "key", "stream", "window",
         "spark", "a", "group", "part", "big", "sort", "query", "fast",
         "the"]

DAY_US = 86_400_000_000
ORDER_EPOCH_US = 788_918_400_000_000   # 1995-01-01
ORDER_DAYS = 2404                      # .. 2001-08-01
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01
EVENT_SPAN_US = 30 * DAY_US


def counts(sf):
    """Row count per table at scale factor `sf` (the fixtures' ratios)."""
    n = lambda base, lo=1: max(lo, int(round(base * sf)))
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": n(15_000),
        "documents": n(50_000, 500), "embeddings": n(20_000, 500),
    }


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng, values, size, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)]


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def build(seed, sf):
    """Return {table: pyarrow.Table} for (seed, sf)."""
    rng = np.random.default_rng(seed)
    c = counts(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})

    n = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})

    n = c["part"]
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, adjs, n),
                                              _pick(rng, nouns, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)})

    n_ord = c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(ORDER_EPOCH_US +
                           rng.integers(0, ORDER_DAYS + 1, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    n = c["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(ORDER_EPOCH_US +
                          rng.integers(0, ORDER_DAYS + 1, n) * DAY_US)})

    n = c["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(EVENT_EPOCH_US + np.sort(rng.integers(0, EVENT_SPAN_US, n))),
        "user_id": pa.array(rng.integers(0, c["users"], n), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": np.round(0.01 + rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    # documents: 10-99 vocabulary words each; about 5% are near-duplicates,
    # an earlier document's text with " dup" appended
    n = c["documents"]
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = _pick(rng, VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    langs = _pick(rng, ["en", "de", "es", "fr", "zh"], n,
                  p=[0.41, 0.15, 0.15, 0.15, 0.14])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: 64-d unit vectors, ten weakly separated labelled clusters
    n = c["embeddings"]
    labels = rng.integers(0, 10, n)
    centroids = rng.standard_normal((10, 64))
    v = 0.2 * centroids[labels] + rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype("float32").ravel(), pa.float32())
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * 64 + 1, 64), pa.int32()), flat),
        "label": pa.array(labels, pa.int32())})
    return out


def write(tables, out_dir, layout, files_per_table=16):
    """Write `tables` under `out_dir` in the given layout."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables.items():
        if layout == "single":
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"),
                           row_group_size=max(1, t.num_rows))
        else:
            d = os.path.join(tmp, f"{name}.parquet")
            os.makedirs(d)
            k = max(1, min(files_per_table, t.num_rows // 64))
            bounds = np.linspace(0, t.num_rows, k + 1).astype(int)
            for i in range(k):
                part = t.slice(bounds[i], bounds[i + 1] - bounds[i])
                pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def size_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
