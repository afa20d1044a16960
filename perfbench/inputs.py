"""Seeded fixture generator for the benchmark.

Writes the ten graft fixture tables (the TPC-H-like star schema plus
`events`, `documents` and `embeddings`) as parquet, with the same column
names, types and value domains as the engine's test fixtures, so every
query in `graft.Queries` runs unchanged over them. Everything is a pure
function of (seed, sizes): numpy's PCG64 stream is stable across
platforms, so the same seed gives byte-identical tables.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "fast", "value", "scan", "a", "hash", "slow", "group", "agg",
         "filter", "query", "big", "key", "window", "row", "table", "stream",
         "merge", "data", "customer", "vector", "join", "the"]
LANGS = np.array(["en", "fr", "de", "es", "zh"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PWORDS = np.array(["blue", "hot", "large", "small", "red", "green"])
PNOUNS = np.array(["ring", "bolt", "nut", "gear", "pipe"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
DAY_US = 86_400_000_000


def _ts(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype=np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def _day(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") - np.datetime64("1970-01-01"))
               .astype(np.int64))


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def documents(rng, n, start_id=0, planted=8, near=0):
    """`n` docs of 10-100 vocabulary words; the last `planted` ids are
    exact copies of earlier docs and the `near` ids before them are
    one-word edits of earlier docs (both end in the marker word `dup`,
    as in the engine's fixtures)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    base = max(1, n - planted - near)
    for j in range(n - planted - near, n - planted):
        src = texts[int(rng.integers(0, base))].split(" ")
        src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[j] = " ".join(src + ["dup"])
    for j in range(n - planted, n):
        src = int(rng.integers(0, base))
        texts[src] = texts[src] + " dup"
        texts[j] = texts[src]
    ids = np.arange(start_id, start_id + n, dtype=np.int64)
    lang = LANGS[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n, dim=64, clusters=10, noise=0.35):
    centers = rng.normal(size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    pts = centers[label] + rng.normal(scale=noise / np.sqrt(dim), size=(n, dim))
    pts = (pts / np.linalg.norm(pts, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(pts), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def generate(out_dir, seed, sf, n_docs, n_emb):
    """Write all ten tables at scale `sf` (TPC-H row ratios) into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)

    _write(out_dir, "region", pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    _write(out_dir, "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(PWORDS[rng.integers(0, 6, n_part)],
                                              PNOUNS[rng.integers(0, 5, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PTYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}))

    d0, d1 = _day(1995, 1, 1), _day(2001, 8, 1)
    odate = rng.integers(d0, d1 + 1, n_ord)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]}))

    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, per) + rng.integers(1, 122, n_li))}))

    t0 = _day(2024, 1, 1) * DAY_US
    ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, n_ev))
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(2, n_ev // 66), n_ev).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))

    _write(out_dir, "documents", documents(rng, n_docs))
    _write(out_dir, "embeddings", embeddings(rng, n_emb))


def digest(out_dir):
    """sha-256 over every file's name and bytes, in name order."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]
