#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Usage: gen_inputs.py --seed N --out DIR

Writes, under DIR, everything the workloads read and nothing else:

  orders.parquet/, lineitem.parquet/   graph_iter: the customer-supplier trade
                                       graph and the part co-purchase graph
  embeddings.parquet/                  graph_iter: kNN corpus
  text/part-XXXX.txt                   mr_text: whole-text files for the
                                       MapReduce (filename, contents) contract
  _properties.json                     the input properties a run depends on

Every table is a directory of one Parquet part file per usable core, so
scans parallelise. The same seed on the same core count gives byte-identical
files. Schemas follow the engine's fixture tables (see FIXTURES.md).
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. graph_iter's tables are far below sf0.1 (6,000 orders, not 150,000;
# 1,000 vectors, not 50,000), so that one run fits the benchmark's time
# budget; README.md gives the census measured at these sizes. mr_text is
# sized so that shuffle and task CPU dominate its ops.
N_ORDERS = 6000
N_CUSTOMERS = 600
N_SUPPLIERS = 60
N_PARTS = 800
SUPPLIER_ZIPF = 1.1      # supplier-degree skew in the trade graph
PART_ZIPF = 0.7          # part popularity skew in the co-purchase graph
N_VECTORS = 1000
DIM = 64
N_LABELS = 10
N_TEXT_FILES_PER_CORE = 4
TEXT_WORDS_PER_FILE = 120000
TEXT_VOCAB = 40000
TEXT_ZIPF = 1.07


def n_parts():
    """Part files per table: one per usable core."""
    return len(os.sched_getaffinity(0))


def zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def write_table(out, name, table, parts):
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(d, f"part-{i:05d}.parquet"))
    return {"rows": n, "bytes": dir_bytes(d), "files": parts}


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def top1pct_share(keys):
    """Share of rows held by the most frequent 1% of distinct keys."""
    _, counts = np.unique(keys, return_counts=True)
    counts = np.sort(counts)[::-1]
    k = max(1, int(np.ceil(len(counts) * 0.01)))
    return float(counts[:k].sum() / counts.sum())


def gen_orders_lineitem(rng):
    ok = np.arange(N_ORDERS, dtype=np.int64)
    cust = rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64)
    day0 = np.datetime64("1995-01-01", "ms")
    odate = day0 + rng.integers(0, 2000, N_ORDERS).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": cust,
        "o_orderstatus": rng.choice(["O", "F", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 400000, N_ORDERS), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            N_ORDERS),
    })
    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    supp_rank = rng.choice(N_SUPPLIERS, n, p=zipf_weights(N_SUPPLIERS, SUPPLIER_ZIPF))
    supp = rng.permutation(N_SUPPLIERS)[supp_rank].astype(np.int64)
    part_rank = rng.choice(N_PARTS, n, p=zipf_weights(N_PARTS, PART_ZIPF))
    part = rng.permutation(N_PARTS)[part_rank].astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": part,
        "l_suppkey": supp,
        "l_linenumber": l_no,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 120, n).astype("timedelta64[D]"),
                               pa.timestamp("ms")),
    })
    # graph properties the graph ops depend on
    pairs = np.unique(np.stack([cust[l_ok], supp], axis=1), axis=0)
    supp_deg = np.bincount(pairs[:, 1], minlength=N_SUPPLIERS)
    op = np.unique(np.stack([l_ok, part], axis=1), axis=0)
    part_deg = np.zeros(N_PARTS, dtype=np.int64)
    starts = np.flatnonzero(np.r_[True, op[1:, 0] != op[:-1, 0]])
    ends = np.r_[starts[1:], len(op)]
    nbrs = [set() for _ in range(N_PARTS)]
    for s, e in zip(starts, ends):
        ps = op[s:e, 1]
        for p in ps:
            nbrs[p].update(ps)
    for p in range(N_PARTS):
        part_deg[p] = len(nbrs[p] - {p})
    props = {
        "lineitem_top1pct_suppkey_share": top1pct_share(supp),
        "lineitem_top1pct_partkey_share": top1pct_share(part),
        "trade_graph_max_degree": int(supp_deg.max()),
        "trade_graph_edges": int(len(pairs)),
        "copurchase_max_degree": int(part_deg.max()),
        "copurchase_edges": int(part_deg.sum() // 2),
    }
    return orders, lineitem, props


def gen_embeddings(rng):
    centers = rng.normal(0, 1, (N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, N_VECTORS).astype(np.int32)
    vec = (centers[label] * 0.6 + rng.normal(0, 0.12, (N_VECTORS, DIM))).astype(np.float32)
    table = pa.table({
        "vec_id": np.arange(N_VECTORS, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label,
    })
    return table, {"top1pct_label_share": top1pct_share(label)}


def gen_text(rng, out, n_files):
    """Whole-text files whose words follow a Zipf law over a synthetic
    vocabulary; tokens are letter runs, separated by spaces, punctuation and
    newlines as RefApps.tokenize expects."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    # word length is a function of Zipf rank (3..11, cycling), so every seed
    # has the same length profile and nearly the same corpus bytes
    lens = np.resize(np.arange(3, 12), TEXT_VOCAB)
    words = ["".join(letters[rng.integers(0, len(letters), k)]) for k in lens]
    vocab = np.array(list(dict.fromkeys(words)))  # drop collisions, keep rank order
    p = zipf_weights(len(vocab), TEXT_ZIPF)
    seps = np.array([" "] * 12 + [", ", ". ", "\n", "; ", " -- "])
    d = os.path.join(out, "text")
    os.makedirs(d, exist_ok=True)
    all_ids = []
    for f in range(n_files):
        ids = rng.choice(len(vocab), TEXT_WORDS_PER_FILE, p=p)
        all_ids.append(ids)
        sep = seps[rng.integers(0, len(seps), TEXT_WORDS_PER_FILE)]
        body = "".join(np.char.add(vocab[ids], sep))
        with open(os.path.join(d, f"part-{f:04d}.txt"), "w") as fh:
            fh.write(body)
    ids = np.concatenate(all_ids)
    return {"files": n_files, "bytes": dir_bytes(d), "words": int(len(ids)),
            "distinct_words": int(len(np.unique(ids))),
            "top1pct_word_share": top1pct_share(ids)}


def generate(seed, out, text=True):
    """Writes the seed's inputs; text=False skips the text files, which
    come last, so the tables are the same bytes either way."""
    parts = n_parts()
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    props = {"seed": seed, "parts": parts, "tables": {}}
    orders, lineitem, gprops = gen_orders_lineitem(rng)
    props["tables"]["orders"] = write_table(out, "orders", orders, parts)
    props["tables"]["lineitem"] = write_table(out, "lineitem", lineitem, parts)
    props["graph"] = gprops
    emb, eprops = gen_embeddings(rng)
    props["tables"]["embeddings"] = write_table(out, "embeddings", emb, parts)
    props["embeddings"] = eprops
    if text:
        props["text"] = gen_text(rng, out, N_TEXT_FILES_PER_CORE * parts)
    with open(os.path.join(out, "_properties.json"), "w") as fh:
        json.dump(props, fh, indent=1, sort_keys=True)
    return props


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
