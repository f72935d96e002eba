#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the star schema the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
single-row-group parquet file per table, with the same column names,
types and value shapes as the engine's gate data. Row counts follow the
scale factor `sf` (lineitem = 6 M x sf). The same (sf, seed) always
gives byte-identical tables.

Usage: python3 perfbench/gen.py <out_dir> <sf> <seed>
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64


def _days(rng, n, lo, hi):
    """n midnight timestamps drawn uniformly from [lo, hi] (ISO dates)."""
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo_d + rng.integers(0, (hi_d - lo_d).astype(np.int64) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    """Yields (name, pyarrow.Table) for every table at scale `sf`."""
    root = np.random.SeedSequence([seed, int(round(sf * 1e6))])
    rngs = dict(zip(["customer", "supplier", "part", "orders", "lineitem",
                     "events", "documents", "embeddings"], root.spawn(8)))
    rng = lambda name: np.random.default_rng(rngs[name])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(15, n_cust // 10)

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng("customer")
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})

    r = rng("supplier")
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)})

    r = rng("part")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    keys = np.arange(n_part, dtype=np.int64)
    yield "part", pa.table({
        "p_partkey": keys,
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    r = rng("orders")
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})

    r = rng("lineitem")
    qty = r.integers(1, 51, n_li).astype(np.float64)
    yield "lineitem", pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _days(r, n_li, "1995-01-02", "2001-11-04")})

    r = rng("events")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        r.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    yield "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    # Documents: random 10-100 token texts over a 30-word vocabulary;
    # 5 % are near-duplicates (an original text plus one token) and 0.2 %
    # exact copies, so the dedup chain has true positives to find. Copies
    # are only ever made of originals, so every duplicate cluster is a
    # star of diameter 2 whatever the seed: the dedup chain's
    # connected-components rounds do not vary from seed to seed.
    r = rng("documents")
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[r.integers(0, len(vocab), r.integers(10, 101))])
             for _ in range(n_doc)]
    kind = r.random(n_doc)
    originals = [0]
    for i in range(1, n_doc):
        if kind[i] < 0.05:
            texts[i] = texts[originals[r.integers(0, len(originals))]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[originals[r.integers(0, len(originals))]]
        else:
            originals.append(i)
    yield "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[r.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r = rng("embeddings")
    v = r.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.reshape(-1)), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32)})


def generate(out_dir, sf, seed):
    """Writes every table into `out_dir` (atomically: a finished dir is
    renamed into place) unless it already exists. Returns out_dir."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        for name, t in tables(sf, seed):
            pq.write_table(t, f"{tmp}/{name}.parquet", row_group_size=max(1, t.num_rows))
        os.rename(tmp, out_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
