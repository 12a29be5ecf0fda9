"""Generator for the benchmark's input tables.

Writes the ten tables the engine reads (one parquet file each, the same
schemas, physical types and row counts as the sf0.1 tier described in
FIXTURES.md), so a run needs nothing outside its checkout. The content
comes from the fixed CONTENT_SEED; a run's seed fixes the row order of
every table, so runs with different seeds do the same work on inputs
that differ only in order. Every column is drawn independently and
uniformly over the ranges the sf0.1 tier has, plus the two structural
properties queries depend on: 5% of documents are a copy of an earlier
document's text with a trailing " dup" token, and event timestamps rise
with event_id.

`replica_tables(base, copies)` builds the 10x tier from a base tier: the
six keyed tables are copied `copies` times with every id and foreign-key
column offset by k * 10**7; nation, region, documents and embeddings are
copied unchanged.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change meaning, so cached tiers rebuild.
VERSION = "3"
CONTENT_SEED = 42
ID_OFFSET = 10 ** 7

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["old", "blue", "hot", "cold", "new", "small", "large", "red"]
NOUNS = ["bolt", "rod", "gizmo", "ring", "widget", "anvil", "plate", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]

# sf0.1 row counts (FIXTURES.md).
ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000}

# id and foreign-key columns of the six keyed tables.
ID_COLUMNS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cents(rng, lo, hi, n):
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _days(rng, first, last, n):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def base_tables(seed):
    """The sf0.1-sized tables for `seed`, as pyarrow Tables by name."""
    rng = np.random.default_rng(seed)
    r = ROWS
    t = {}
    t["region"] = pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    n = r["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": _names("Customer", n),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})
    n = r["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": _names("Supplier", n),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n)})
    n = r["part"]
    keys = np.arange(n, dtype=np.int64)
    pnames = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, pnames, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})
    n = r["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, r["customer"], n).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})
    n = r["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, r["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, r["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, r["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})
    n = r["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10 ** 6
    ts = np.sort(rng.integers(0, span, n)) + t0
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string())})
    t["documents"] = _documents(rng, r["documents"])
    n = r["embeddings"]
    x = rng.standard_normal((n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})
    return t


def replica_tables(base, copies):
    """`copies` id-offset copies of the keyed tables of `base`, in copy
    order."""
    out = {}
    for name, tbl in base.items():
        if name not in ID_COLUMNS:
            out[name] = tbl
            continue
        parts = []
        for k in range(copies):
            cols = {}
            for c in tbl.column_names:
                col = tbl.column(c)
                if c in ID_COLUMNS[name]:
                    col = pa.array(col.to_numpy() + k * ID_OFFSET, col.type)
                cols[c] = col
            parts.append(pa.table(cols))
        out[name] = pa.concat_tables(parts)
    return out


def write_tier(tables, out_dir):
    """Writes the tables as `<out_dir>/<name>.parquet`, atomically."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)


def shuffled(tables, seed):
    """Every table with its rows in the order `seed` fixes."""
    rng = np.random.default_rng(seed)
    return {n: t.take(rng.permutation(t.num_rows)) for n, t in tables.items()}


def ensure_tier(cache_dir, tier, seed):
    """Path of the generated tier (`sf01` or `x10`) in the row order of
    `seed`, building and caching it under `cache_dir` on first use."""
    out = os.path.join(cache_dir, f"{tier}-s{seed}-v{VERSION}")
    if os.path.isdir(out):
        return out
    base = base_tables(CONTENT_SEED)
    tables = base if tier == "sf01" else replica_tables(base, 10)
    write_tier(shuffled(tables, seed), out)
    return out
