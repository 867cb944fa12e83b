"""Seeded generator for the batch workload's tables.

Writes the ten parquet tables the headline queries read (a TPC-H-like star
schema, an `events` table, `documents` and `embeddings`) at a given scale
factor. Same seed and scale give byte-identical inputs. Shapes follow the
program's test tables: row counts scale with `sf`, timestamps are naive
microseconds, about 5% of documents are near-duplicates (a copy of an
earlier document plus one token) and 0.2% exact duplicates, and the
embeddings are unit vectors around ten cluster centres.

Usage: python3 datagen.py <outDir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_ev, n_users = int(1500000 * sf), int(1000000 * sf), int(15000 * sf)
    n_docs, n_emb = int(50000 * sf), int(20000 * sf)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adjectives = np.array(["large", "small", "hot", "cold", "bright", "dark", "smooth", "rough"])
    nouns = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 20000) * 0.1, 2)})

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": EPOCH_1995 + order_day.astype("timedelta64[D]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    starts = np.cumsum(lines) - lines
    linenumber = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32)
    ship = np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
    perm = rng.permutation(n_li)
    write(out, "lineitem", {
        "l_orderkey": okey[perm],
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": linenumber[perm],
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": EPOCH_1995 + ship[perm].astype("timedelta64[D]")})

    month_us = 30 * 86400 * 10**6
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": EPOCH_2024 + np.sort(rng.integers(0, month_us, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n_docs)]
    for i in range(1, n_docs):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif r < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "es", "fr", "zh"])[
            rng.choice(5, n_docs, p=[0.41, 0.145, 0.15, 0.15, 0.145])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centres[label] + rng.normal(scale=0.8, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
