#!/usr/bin/env python3
"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables graft reads (`region nation customer supplier part
orders lineitem events documents embeddings`, one parquet file each) in
the schema and value ranges of graft's reference star schema plus event
stream. The generator seed is fixed, so two checkouts get identical
files and the committed reference hashes (refs.json) stay valid; the
benchmark's own `--seed` only orders the work.

`cdc_log` turns the `events` and `orders` tables into the cdc_tail
workload's mutation log, interleaved and cut into segments by the
benchmark seed.

Usage: python3 perfbench/gen_data.py <out_dir> <scale>
"""
import datetime as dt
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["red", "blue", "old", "new", "hot", "cold", "small", "large"]
NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("row the query stream value hash batch sort data big filter dup fast "
         "spark line small customer group key agg scan slow table part a merge "
         "window order column join vector").split()
LANGS = ["en", "en", "en", "fr", "zh", "de", "es"]


def ts_array(micros):
    return pa.array(np.asarray(micros, dtype="int64"), type=pa.timestamp("us"))


def epoch_us(y, m, d):
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)


def days_us(base_us, days):
    return base_us + days.astype("int64") * 86_400_000_000


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, scale):
    rng = np.random.default_rng(GEN_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = [f"{a} {n}" for a in ADJ for n in NOUN]
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})

    o_date = days_us(epoch_us(1995, 1, 1), rng.integers(0, 2404, n_ord))
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts_array(o_date),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    l_line = (np.arange(len(l_order)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype("float64")
    write(out, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ts_array(o_date[l_order] + rng.integers(1, 122, n_li) * 86_400_000_000)})

    # strictly increasing event time over 30 days, in event_id order
    gaps = rng.exponential(1.0, n_ev)
    ev_ts = epoch_us(2024, 1, 1) + np.floor(
        np.cumsum(gaps) / gaps.sum() * (30 * 86_400_000_000 - 60_000_000)).astype("int64")
    ev_ts = np.maximum.accumulate(ev_ts + np.arange(n_ev))
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts_array(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.03:
            # near-duplicate of an earlier document: one word changed
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def cdc_log(data_dir, out_dir, n_events, n_orders, mean_segment, seed):
    """Writes the mutation log as JSONL segments `seg-<n>.jsonl`, in WAL
    order, and returns the number of mutations per segment.

    Events become mutations of rowkey `user_id` with one cell per event
    type plus `props`; `error` events are row tombstones. Orders become
    one insert each. A seeded random merge keeps each table's own order;
    `seq` is the position in the merged log. Segment sizes are drawn
    uniformly from 0.5x..1.5x `mean_segment`."""
    ev = pq.read_table(os.path.join(data_dir, "events.parquet")).sort_by("event_id")
    ev = ev.slice(0, n_events).to_pydict()
    od = pq.read_table(os.path.join(data_dir, "orders.parquet")).sort_by("o_orderkey")
    od = od.slice(0, n_orders).to_pydict()
    epoch = dt.datetime(1970, 1, 1)

    def micros(t):
        return (t - epoch) // dt.timedelta(microseconds=1)

    def cell(family, qualifier, value, ts, kind):
        return {"family": family, "qualifier": qualifier, "value": value, "ts": ts, "kind": kind}

    rnd = random.Random(seed)
    lines = []
    i = j = 0
    while i < n_events or j < n_orders:
        seq = len(lines)
        if j >= n_orders or (i < n_events and rnd.randrange(n_events - i + n_orders - j) < n_events - i):
            ts, etype = micros(ev["ts"][i]), ev["event_type"][i]
            kind = "delete_row" if etype == "error" else "put"
            m = {"seq": seq, "ts": ts, "table": "events", "rowkey": str(ev["user_id"][i]),
                 "cells": [cell("e", etype, repr(ev["value"][i]), ts, kind),
                           cell("e", "props", ev["props"][i], ts, kind)]}
            i += 1
        else:
            ts = micros(od["o_orderdate"][j])
            m = {"seq": seq, "ts": ts, "table": "orders", "rowkey": str(od["o_orderkey"][j]),
                 "cells": [cell("o", "custkey", str(od["o_custkey"][j]), ts, "put"),
                           cell("o", "status", od["o_orderstatus"][j], ts, "put"),
                           cell("o", "totalprice", repr(od["o_totalprice"][j]), ts, "put"),
                           cell("o", "priority", od["o_orderpriority"][j], ts, "put")]}
            j += 1
        lines.append(json.dumps(m, separators=(",", ":")))
    os.makedirs(out_dir, exist_ok=True)
    sizes = []
    at = 0
    while at < len(lines):
        n = mean_segment // 2 + rnd.randrange(mean_segment + 1)
        with open(os.path.join(out_dir, f"seg-{len(sizes):07d}.jsonl"), "w") as f:
            f.write("\n".join(lines[at:at + n]) + "\n")
        sizes.append(len(lines[at:at + n]))
        at += n
    return sizes


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
