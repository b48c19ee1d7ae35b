"""Seeded generator for the benchmark's input tables.

Writes the ten tables `graft.SparkEntry` queries read (`<dir>/<table>.parquet`)
with the column names, parquet types and value domains of the project's
fixture tables (FIXTURES.md). Row counts follow a scale factor: sf=0.1 gives
600,000 lineitem rows. The same (seed, sf) always writes the same rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

# Rows per table at sf=1 (nation and region do not scale).
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000,
             "events": 1_000_000, "documents": 50_000, "embeddings": 20_000}

DAY_US = 86_400 * 1_000_000


def _days(lo, hi):
    return (np.datetime64(lo, "D").astype(np.int64),
            np.datetime64(hi, "D").astype(np.int64))


def _ts_days(rng, n, lo, hi):
    a, b = _days(lo, hi)
    return pa.array(rng.integers(a, b + 1, n) * DAY_US, pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _text(rng, n):
    """Space-separated words; 5% are near-copies of another document
    (one word changed, `dup` appended) and a few are exact copies."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    docs = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in rng.choice(n, max(1, n // 20), replace=False):
        src = docs[int(rng.integers(0, n))].split(" ")
        src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        docs[i] = " ".join(src + ["dup"])
    for i in rng.choice(n, max(1, n // 600), replace=False):
        docs[i] = docs[int(rng.integers(0, n))]
    return docs


def tables(seed, sf):
    """Return {table: pyarrow.Table} for one seed and scale factor."""
    rng = np.random.default_rng(seed)
    rows = {t: max(10, int(round(r * sf))) for t, r in BASE_ROWS.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = rows["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": _names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})
    n = rows["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": _names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = rows["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)})
    n = rows["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts_days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})
    n = rows["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts_days(rng, n, "1995-01-02", "2001-11-04")})
    n = rows["events"]
    a, b = _days("2024-01-01", "2024-01-31")
    ts = np.sort(rng.integers(a * DAY_US, b * DAY_US, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(n * 0.015)), n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})
    n = rows["documents"]
    text = _text(rng, n)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    n = rows["embeddings"]
    vec = rng.standard_normal((n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.reshape(-1), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return out


def write(dir_, seed, sf):
    """Write every table as `<dir_>/<table>.parquet`, one file each."""
    os.makedirs(dir_, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(dir_, f"{name}.parquet"))
