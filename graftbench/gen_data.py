#!/usr/bin/env python3
"""Deterministic input tables for the graft benchmark.

Writes the eight tables the engine's queries read (a TPC-H-like star
schema plus the `events`, `documents` and `embeddings` tables), one
single-row-group parquet file each, with the schema and value
distributions of the engine's standard test data. Row counts are
linear in the scale factor (lineitem = 6,000,000 x sf), with at least
500 documents and 500 embeddings, as in the standard data.

The tables depend only on the scale factor: every column is drawn from
a PCG64 stream keyed by (table, sf), so the expected query outputs the
benchmark checks against stay fixed. The workload seed varies the
arrival order and redelivery of the stream replay and the query order,
never the tables.

    python3 graftbench/gen_data.py <sf> <out_dir>
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000


def rng(name, sf):
    digest = hashlib.md5(f"graftbench|{name}|{sf!r}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "big")))


def pick(g, values, n, p=None):
    return pa.array(np.array(values)[g.choice(len(values), n, p=p)])


def tables(sf):
    n_line, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_evt = int(1_000_000 * sf)
    # the standard test data keeps at least 500 documents and embeddings
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}
    out["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    out["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    g = rng("customer", sf)
    out["customer"] = {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pick(g, ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], n_cust),
    }
    g = rng("supplier", sf)
    out["supplier"] = {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-1000, 10000, n_supp), 2),
    }
    g = rng("part", sf)
    adjs = ["large", "hot", "blue", "old", "small", "red", "new", "cold", "green", "dim"]
    nouns = ["ring", "bolt", "plate", "case", "gear", "disk", "tube", "rod", "cap", "pin"]
    out["part"] = {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adjs[i % 10]} {nouns[(i // 10) % 10]}" for i in range(n_part)],
        "p_brand": pa.array([f"Brand#{1 + i % 25}" for i in range(n_part)]),
        "p_type": pick(g, ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"], n_part),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    }
    base = np.datetime64("1995-01-01", "us").astype("int64")
    g = rng("orders", sf)
    out["orders"] = {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(g, ["O", "P", "F"], n_ord),
        "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(base + g.integers(0, 2404, n_ord) * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pick(g, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }
    g = rng("lineitem", sf)
    okey = g.integers(0, n_ord, n_line)
    order = np.argsort(okey, kind="stable")
    sorted_keys = okey[order]
    idx = np.arange(n_line)
    starts = np.where(np.concatenate(([True], sorted_keys[1:] != sorted_keys[:-1])), idx, 0)
    np.maximum.accumulate(starts, out=starts)
    linenumber = np.empty(n_line, np.int32)
    linenumber[order] = np.minimum(idx - starts + 1, 7)
    out["lineitem"] = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(g.uniform(900, 105000, n_line), 2),
        "l_discount": np.round(g.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(g.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": pick(g, ["A", "N", "R"], n_line),
        "l_linestatus": pick(g, ["F", "O"], n_line),
        "l_shipdate": pa.array(base + DAY_US + g.integers(0, 2500, n_line) * DAY_US, pa.timestamp("us")),
    }
    g = rng("events", sf)
    start = np.datetime64("2024-01-01", "us").astype("int64")
    out["events"] = {
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": pa.array(np.sort(start + g.integers(0, 30 * DAY_US, n_evt)), pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, max(1, n_cust // 10), n_evt), pa.int64()),
        "event_type": pick(g, ["view", "click", "purchase", "signup", "error"], n_evt),
        "value": np.round(g.uniform(0, 600, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_evt)],
    }
    # a small, repetitive vocabulary: near-duplicate detection is hard on it
    g = rng("documents", sf)
    vocab = np.array(
        "spark window merge table column vector stream value data small join filter big group hash "
        "customer sort order slow line part fast row the agg key query a scan batch so".split()
    )
    texts = [" ".join(vocab[g.integers(0, len(vocab), n)]) for n in g.integers(8, 100, n_doc)]
    # exact duplicates (0.16% of documents) and truncation families (1%)
    for _ in range(max(1, int(n_doc * 0.0016))):
        a, b = g.integers(0, n_doc, 2)
        texts[b] = texts[a]
    for _ in range(max(2, int(n_doc * 0.01))):
        a, b = g.integers(0, n_doc, 2)
        words = texts[a].split(" ")
        if len(words) > 20:
            texts[b] = " ".join(words[: g.integers(15, len(words))])
    out["documents"] = {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(g, ["en", "es", "fr", "de", "zh"], n_doc, p=[0.41, 0.15, 0.15, 0.14, 0.15]),
        "source": pa.array([f"src{i}" for i in g.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    # near-isotropic unit vectors with a weak pull towards ten label centres
    g = rng("embeddings", sf)
    labels = g.integers(0, 10, n_emb).astype(np.int32)
    centres = g.standard_normal((10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    vecs = g.standard_normal((n_emb, 64)) / 8.0 + 0.063 * centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: gen_data.py <sf> <out_dir>")
    sf, out_dir = float(sys.argv[1]), sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(sf).items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
