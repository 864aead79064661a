"""Synthetic input tables for the benchmark.

Writes the ten tables the engine reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings), one parquet file
each, with the schemas, physical types and value shapes the engine's
queries are written against (see FIXTURES.md / TESTDATA.md at the repo
root): TPC-H-like keys and domains, an `events` table whose `ts` rises with
`event_id`, a 31-word corpus in five languages and twenty sources where 5%
of documents are another document's text plus " dup", and 64-d unit
embeddings with ten labels.

The tables depend only on `scale` and the fixed generator seed, never on
the benchmark's `--seed` (that sets the query order), so one expected
result record serves every run.

    python3 perfbench/datagen.py <out_dir> <scale> [docs] [embeddings]
"""

import datetime as dt
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20261017
VOCAB = ("a the data query table row column key value join group sort "
         "filter scan hash merge agg window stream batch spark order part "
         "customer line big small fast slow vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def days(rng, n, start, end):
    """`n` midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n).astype("int64")
    base = np.datetime64(start.isoformat(), "us")
    return base + (d * 86_400_000_000).astype("timedelta64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def relational(out, rng, scale):
    n_cust = int(150_000 * scale)
    n_supp = max(int(10_000 * scale), 10)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    i32 = lambda a: pa.array(a, pa.int32())
    write(out, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    adj = pick(rng, PART_ADJ, n_part)
    noun = pick(rng, PART_NOUN, n_part)
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, n_ord, 1000, 500_000),
        "o_orderdate": days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": pick(rng, ["O", "F"], n_li),
        "l_shipdate": days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})


def events(out, rng, scale):
    n = int(1_000_000 * scale)
    users = max(int(n * 0.015), 1)
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n))
    base = np.datetime64("2024-01-01T00:00:00", "us")
    write(out, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(base + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(out, rng, n):
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 101, n)]
    dups = rng.choice(n, n // 20, replace=False)
    srcs = rng.integers(0, n, len(dups))
    base = list(texts)
    for i, j in zip(dups, srcs):
        texts[i] = base[j if j != i else (j + 1) % n] + " dup"
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(out, rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def main(out, scale, n_docs, n_emb):
    rng = np.random.Generator(np.random.PCG64(GEN_SEED))
    relational(out, rng, scale)
    events(out, rng, scale)
    documents(out, rng, n_docs)
    embeddings(out, rng, n_emb)


if __name__ == "__main__":
    a = sys.argv[1:]
    if len(a) not in (2, 3, 4):
        sys.exit(__doc__)
    main(a[0], float(a[1]), int(a[2]) if len(a) > 2 else 500,
         int(a[3]) if len(a) > 3 else 500)
