"""Writes the benchmark's tables: a small TPC-H-like star schema plus the
events, documents and embeddings tables graft's headline queries read.

The tables are the same on every run (they come from a fixed generator
seed), so the expected query results in `expected/` stay valid; the
benchmark's `--seed` varies the call sequences instead.

Usage: python3 gendata.py <out dir>
"""
import datetime
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
WORDS = ("the a data key value row column table scan filter join hash sort merge "
         "group agg order line part customer query spark stream batch window "
         "vector small big fast slow").split()
LANGS = ("en", "de", "fr", "es")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def day(rnd, start_year=1995, span_days=2500):
    return (datetime.datetime(start_year, 1, 1)
            + datetime.timedelta(days=rnd.randrange(span_days)))


def generate(out):
    n_orders, n_customers, n_parts, n_suppliers = 1500, 150, 200, 10
    n_events, n_users, n_docs, n_vectors, dim = 2000, 20, 500, 500, 64
    rnd = random.Random(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(range(n_customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array([rnd.randrange(25) for _ in range(n_customers)], pa.int32()),
        "c_acctbal": [round(rnd.uniform(-999, 9999), 2) for _ in range(n_customers)],
        "c_mktsegment": [rnd.choice(SEGMENTS) for _ in range(n_customers)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(range(n_suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_suppliers)],
        "s_nationkey": pa.array([rnd.randrange(25) for _ in range(n_suppliers)], pa.int32()),
        "s_acctbal": [round(rnd.uniform(-999, 9999), 2) for _ in range(n_suppliers)]})
    write(out, "part", {
        "p_partkey": pa.array(range(n_parts), pa.int64()),
        "p_name": [f"{rnd.choice(('cold', 'small', 'big'))} widget" for _ in range(n_parts)],
        "p_brand": [f"Brand#{rnd.randrange(1, 30)}" for _ in range(n_parts)],
        "p_type": [rnd.choice(("ECONOMY", "STANDARD", "PROMO")) for _ in range(n_parts)],
        "p_size": pa.array([rnd.randrange(1, 50) for _ in range(n_parts)], pa.int32()),
        "p_retailprice": [round(900 + i * 0.1, 2) for i in range(n_parts)]})

    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                              "o_orderdate", "o_orderpriority")}
    items = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                             "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in range(n_orders):
        date = day(rnd)
        total = 0.0
        for ln in range(1, rnd.randrange(1, 8) + 1):
            qty = float(rnd.randrange(1, 51))
            price = round(qty * rnd.uniform(900, 2000), 2)
            total += price
            items["l_orderkey"].append(o)
            items["l_partkey"].append(rnd.randrange(n_parts))
            items["l_suppkey"].append(rnd.randrange(n_suppliers))
            items["l_linenumber"].append(ln)
            items["l_quantity"].append(qty)
            items["l_extendedprice"].append(price)
            items["l_discount"].append(rnd.randrange(11) / 100)
            items["l_tax"].append(rnd.randrange(9) / 100)
            items["l_returnflag"].append(rnd.choice("ANR"))
            items["l_linestatus"].append(rnd.choice("OF"))
            items["l_shipdate"].append(date + datetime.timedelta(days=rnd.randrange(1, 120)))
        orders["o_orderkey"].append(o)
        orders["o_custkey"].append(rnd.randrange(n_customers))
        orders["o_orderstatus"].append(rnd.choice(STATUSES))
        orders["o_totalprice"].append(round(total, 2))
        orders["o_orderdate"].append(date)
        orders["o_orderpriority"].append(rnd.choice(PRIORITIES))
    ts = pa.timestamp("us")
    write(out, "orders", {
        "o_orderkey": pa.array(orders["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(orders["o_custkey"], pa.int64()),
        "o_orderstatus": orders["o_orderstatus"],
        "o_totalprice": orders["o_totalprice"],
        "o_orderdate": pa.array(orders["o_orderdate"], ts),
        "o_orderpriority": orders["o_orderpriority"]})
    cols = dict(items)
    cols["l_orderkey"] = pa.array(items["l_orderkey"], pa.int64())
    cols["l_partkey"] = pa.array(items["l_partkey"], pa.int64())
    cols["l_suppkey"] = pa.array(items["l_suppkey"], pa.int64())
    cols["l_linenumber"] = pa.array(items["l_linenumber"], pa.int32())
    cols["l_shipdate"] = pa.array(items["l_shipdate"], ts)
    write(out, "lineitem", cols)

    t0 = datetime.datetime(2024, 1, 1)
    write(out, "events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(seconds=rnd.randrange(30 * 86400),
                                                microseconds=rnd.randrange(10 ** 6))
                        for _ in range(n_events)], ts),
        "user_id": pa.array([rnd.randrange(n_users) for _ in range(n_events)], pa.int64()),
        "event_type": [rnd.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rnd.uniform(0, 330), 2) for _ in range(n_events)],
        "props": [json.dumps({"k": rnd.randrange(n_users * 5)}) for _ in range(n_events)]})

    texts = [" ".join(rnd.choice(WORDS) for _ in range(rnd.randrange(20, 80)))
             for _ in range(n_docs)]
    # a few near-copies, so the dedup queries find pairs
    for i in range(0, n_docs, 25):
        texts[i + 1] = texts[i] + " " + rnd.choice(WORDS)
    write(out, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rnd.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{rnd.randrange(20)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    centers = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    labels = [rnd.randrange(10) for _ in range(n_vectors)]
    write(out, "embeddings", {
        "vec_id": pa.array(range(n_vectors), pa.int64()),
        "embedding": pa.array([[c + rnd.gauss(0, 0.3) for c in centers[lab]] for lab in labels],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1])
