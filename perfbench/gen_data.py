"""Deterministic sf0.1 tables for the benchmark.

The registry queries read ten parquet tables (`graft.Tables.names`): a
TPC-H-shaped star schema, an `events` stream table, a `documents` text
corpus and an `embeddings` vector table. This module writes them from
a fixed seed with the same schemas, row counts and value domains the
engine's query registry is written against, so `battery` results can be
hashed once and checked on every run.

The repo's own sf0.1 test tables (TESTDATA.md) cannot be used: the
benchmark reads and writes only inside its checkout, and they are not
part of it. These match them column by column: the same types (events
`ts` is TIMESTAMP(MICROS), not adjusted to UTC, as there, so
`graft.Tables.events` reads it without its nanosecond conversion), the
same row counts, min, max and distinct counts within a few values, the
same 31-word text vocabulary with 10-100 words per original
document, and the same near- and exact-duplicate counts.

The data never depends on the benchmark's `--seed`: the seed draws the
workload's inputs (literals, arrival times, upsert records), while the
tables stay fixed so expected results stay valid.

Usage: python3 perfbench/gen_data.py <outdir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SCALE = 0.1

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH = np.datetime64("1970-01-01", "D")


def days_since_epoch(iso):
    return int((np.datetime64(iso, "D") - EPOCH).astype(np.int64))


def ts_us_from_days(days):
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng):
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_line = int(1_500_000 * SCALE), int(6_000_000 * SCALE)
    n_events, n_docs, n_vecs = 100_000, 5_000, 2_000
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})

    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})

    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})

    ok = np.arange(n_ord, dtype=np.int64)
    d0 = days_since_epoch("1995-01-01")
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_us_from_days(d0 + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    d1 = days_since_epoch("1995-01-02")
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": ts_us_from_days(d1 + rng.integers(0, 2498, n_line))})

    t0 = days_since_epoch("2024-01-01") * 86_400_000_000
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_events), 560.21), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    # documents: random vocabulary text; 250 near-duplicates (a copy of
    # an earlier doc plus " dup") and 8 exact duplicates, the shapes the
    # dedup operators look for. Each copies a distinct original, so
    # there are exactly 8 groups of identical texts, as in the repo's
    # own sf0.1 documents table.
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)]) for n in lens]
    near = rng.choice(np.arange(1, n_docs), 250 + 8, replace=False)
    taken = set(int(j) for j in near)
    for i, j in enumerate(near):
        src = int(rng.integers(0, j))
        while src in taken:
            src = int(rng.integers(0, j))
        taken.add(src)
        texts[j] = texts[src] + " dup" if i < 250 else texts[src]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: unit-norm 64-dim vectors clustered around one centre
    # per label, so nearest-neighbour queries have structure to find
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] * 0.6 + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def generate(outdir):
    """Write every table into `outdir` unless a complete copy is there."""
    done = os.path.join(outdir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(outdir, exist_ok=True)
    for name, table in tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write("ok\n")


if __name__ == "__main__":
    generate(sys.argv[1])
