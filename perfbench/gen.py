"""Seeded input generator for the graft benchmark.

Writes the ten tables graft's catalog expects (`graft.sources.Tables.All`)
as single-row-group parquet files with the schemas of the repository's
test tables and the value statistics measured on them (perfbench/README.md
lists both): a TPC-H-like star schema, a 30-day event stream, a corpus over
a 30-word vocabulary with 10-99 words per document and 5 % near-duplicates,
and unit-norm 64-d embeddings.

Every value is drawn from one numpy Generator seeded by (seed, scale), and
foreign keys are drawn from the generated key ranges, so every table is
consistent with the others. The same seed writes byte-identical files; a
different seed writes different rows of the same counts.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Bumped whenever the generated bytes change, so cached inputs are rebuilt.
VERSION = 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_DAY0).days
SHIP_DAY0 = dt.date(1995, 1, 2)
SHIP_DAYS = (dt.date(2001, 11, 4) - SHIP_DAY0).days
EVENT_T0_US = 1704067200 * 10**6  # 2024-01-01T00:00:00
EVENT_SPAN_US = 30 * 86400 * 10**6


def counts(sf, docs):
    """Row counts per table at scale factor `sf` (sf 0.001 = 6,000 lineitems)."""
    k = sf / 0.001
    return {
        "region": 5, "nation": 25,
        "customer": int(150 * k), "supplier": max(10, int(10 * k)),
        "part": int(200 * k), "orders": int(1500 * k),
        "lineitem": int(6000 * k), "events": int(1000 * k),
        "users": max(15, int(15 * k)),
        "documents": docs, "embeddings": docs,
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, day0, span, n):
    d = rng.integers(0, span + 1, n).astype("int64")
    base = np.datetime64(day0.isoformat(), "us")
    return base + (d * 86400 * 10**6).astype("timedelta64[us]")


def _text(rng, n):
    lengths = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), m)]) for m in lengths]
    # 5 % of documents are near-duplicates: another document plus " dup".
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def tables(seed, sf=0.001, docs=500):
    """All ten tables as pyarrow Tables, drawn from one seeded Generator."""
    c = counts(sf, docs)
    rng = np.random.default_rng([seed, int(round(sf * 1e6)), docs, VERSION])
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    n = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    n = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = c["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2)})
    n = c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": pa.array(_days(rng, ORDER_DAY0, ORDER_DAYS, n),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})
    n = c["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_days(rng, SHIP_DAY0, SHIP_DAYS, n),
                               pa.timestamp("us"))})
    n = c["events"]
    gaps = rng.exponential(EVENT_SPAN_US / n, n)
    ts = EVENT_T0_US + np.minimum(np.cumsum(gaps), EVENT_SPAN_US - 1)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("int64"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, c["users"], n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = c["documents"]
    text = _text(rng, n)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    n = c["embeddings"]
    v = rng.standard_normal((n, EMB_DIM)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return out


def stage_streams(out_dir, t, files):
    """Stage the events as a backlog of `files` day-range files under
    stream/events, for the streaming twin to drain one file per
    micro-batch. Files carry UTC timestamps and strictly increasing
    modification times, so the stream source reads them in day order."""
    ev = t["events"]
    ev = ev.set_column(1, "ts", ev.column("ts").cast(pa.timestamp("us", tz="UTC")))
    day = (ev.column("ts").cast(pa.int64()).to_numpy() - EVENT_T0_US) // (86400 * 10**6)
    os.makedirs(os.path.join(out_dir, "stream", "events"), exist_ok=True)
    bounds = np.linspace(0, 30, files + 1)
    for k in range(files):
        mask = (day >= bounds[k]) & (day < bounds[k + 1])
        path = os.path.join(out_dir, "stream", "events", f"events-{k:02d}.parquet")
        pq.write_table(ev.filter(pa.array(mask)), path)
        os.utime(path, (1700000000 + k, 1700000000 + k))


def write(out_dir, seed, sf=0.001, docs=500, stream_files=4):
    """Write the tables (and the staged stream backlog) to `out_dir`,
    skipped when a matching manifest is there already, and return the
    manifest: rows and bytes per table."""
    key = {"seed": seed, "sf": sf, "docs": docs, "stream_files": stream_files,
           "version": VERSION}
    mpath = os.path.join(out_dir, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            m = json.load(f)
        if m.get("key") == key:
            return m
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    t_all = tables(seed, sf, docs)
    stage_streams(out_dir, t_all, stream_files)
    for name, t in t_all.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows))
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()[:16]
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path),
                       "sha256_16": digest}
    m = {"key": key, "tables": sizes}
    with open(mpath, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m
