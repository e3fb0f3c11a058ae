"""Seeded generator for the tables graft's queries read.

The tables have the schemas and value ranges of graft's synthetic test
data (a TPC-H-like star schema plus `events`, `documents` and
`embeddings`), scaled by `sf` (the document count can be set on its own). The same seed and scale give the same
parquet bytes.
"""
import datetime
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
ADJECTIVES = "large hot red new small cold old blue".split()
NOUNS = "ring bolt anvil rod plate gear widget spring".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n, start, end):
    """Midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _cents(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"), compression="snappy")


def generate(out, seed, sf, docs=None):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(1, int(15_000 * sf))
    n_docs, n_vecs = docs or max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_cents(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_cents(rng, n_supp, -999.99, 9999.99), f64)}))
    keys = np.arange(n_part)
    _write(out, "part", pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part),
                                                     rng.choice(NOUNS, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1), f64)}))
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_cents(rng, n_ord, 1000.0, 500000.0), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, datetime.date(1995, 1, 1),
                                      datetime.date(2001, 8, 1)), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)}))
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(_cents(rng, n_line, 900.0, 105000.0), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(_days(rng, n_line, datetime.date(1995, 1, 2),
                                     datetime.date(2001, 11, 4)), ts)}))
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s)}))

    # one document in twenty is an earlier document plus a " dup" suffix
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)}))
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32)}))


def split_stream(out, seed, n_files):
    """Splits lineitem's rows into n_files parquet files under
    out/stream_input, one micro-batch each; the seed decides which rows
    share a file. Modification times follow the file order, which is the
    order a file stream source reads them in."""
    rows = pq.read_table(os.path.join(out, "lineitem.parquet"))
    order = np.random.default_rng([seed, 1]).permutation(rows.num_rows)
    target = os.path.join(out, "stream_input")
    os.makedirs(target)
    t0 = time.time() - n_files
    for i, idx in enumerate(np.array_split(order, n_files)):
        path = os.path.join(target, f"part-{i:05d}.parquet")
        pq.write_table(rows.take(np.sort(idx)), path, compression="snappy")
        os.utime(path, (t0 + i, t0 + i))

