"""Seeded generator for the query workloads' input tables.

Writes the subset of the fixture schemas (FIXTURES.md) that the benchmark's
query keys read -- customer, supplier, orders, lineitem, events, documents,
embeddings -- one parquet file per table, at a given scale factor. Row
counts follow the fixture scaling; values follow the fixture value domains
(two-decimal money and event values, minute-scale event gaps over 30 days,
a 31-word document vocabulary with a few near-duplicate documents, random
64-dimension unit embeddings with ten labels), so every key's plan and domain
assumptions hold. The same seed gives byte-identical tables.

    python3 perfbench/gen_tables.py <out_dir> <seed> [sf]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "filter big group stream vector").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.13, 0.15, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * DAY_US


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.array(values)[rng.choice(len(values), n, p=p)])


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = 500 if sf <= 0.01 else 5000
    n_emb = 500 if sf <= 0.01 else 2000
    out = {}

    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _ts(_days(rng, n_li, "1995-01-02", "2001-11-04")),
    })
    # events: exponential gaps spreading the stream over 30 days, so
    # windows, sessions and watermarks see minute-scale structure
    gaps = rng.exponential(30 * DAY_US / n_ev, n_ev).astype(np.int64) + 1
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(start + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev,
                                         dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(60.0, n_ev), 499.99)
                          + 0.01, 2),
        "props": _pick(rng, [f'{{"k": {k}}}' for k in range(100)], n_ev),
    })
    # documents: about 5 % are near-duplicates of an earlier fresh text (one
    # to three words replaced), so dedup and clustering find small clusters
    texts = []
    fresh = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            words = texts[fresh[rng.integers(0, len(fresh))]].split(" ")
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(8, 91))]
            fresh.append(i)
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    vecs = rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return out


def write(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
