"""Seeded generator of the input tables of the `registry_queries` workload.

The tables follow the layout and column types the registry queries read
(`<dir>/<name>.parquet`): the TPC-H-style tables the TPC-H join reads and
the `documents` corpus of the graph loop. Row counts scale with `sf`
the way the reference test data does. Same seed and sf give byte-identical
files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
CHAIN, WINDOW, STEP = 8, 40, 8


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, name + ".parquet"))
    return len(next(iter(cols.values())))


def _ts(base, seconds):
    """Naive microsecond timestamps `base + seconds`."""
    us = np.datetime64(base, "us") + (np.asarray(seconds) * 1e6).astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def generate(d, seed, sf):
    """Write the tables under `d`; returns the total row count."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_part, n_supp = int(150000 * sf), int(200000 * sf), max(10, int(10000 * sf))
    n_ord, n_doc = int(1500000 * sf), max(500, int(50000 * sf))
    rows = 0
    rows += _write(d, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    odate = rng.integers(0, 2404, n_ord) * 86400
    rows += _write(d, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", odate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    per = np.clip(rng.binomial(8, 0.5, n_ord), 0, 13)
    lk = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    ln = np.concatenate([np.arange(1, k + 1) for k in per if k]).astype(np.int32)
    n_li = len(lk)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    part = rng.integers(0, n_part, n_li, dtype=np.int64)
    rows += _write(d, "lineitem", {
        "l_orderkey": lk, "l_partkey": part,
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": ln, "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (part % 1000) * 0.1), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts("1995-01-01", odate[lk] + rng.integers(1, 121, n_li) * 86400)})
    # Every 25th document is a start node of the graph loop's search; the
    # next CHAIN - 1 are a chain of near-duplicates of it (windows of one
    # word stream, each a step further along), so that the search has a
    # frontier in each of its rounds whatever the seed. The rest are random
    # texts and copies of earlier ones.
    texts = []
    for i in range(n_doc):
        k = i % 25
        if k == 0:
            stream = rng.choice(VOCAB, WINDOW + STEP * CHAIN)
        if k < CHAIN:
            texts.append(" ".join(stream[STEP * k:STEP * k + WINDOW]))
        elif rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    rows += _write(d, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc,
                           p=[0.44, 0.15, 0.15, 0.14, 0.12]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    with open(os.path.join(d, "ROWS"), "w") as f:
        f.write(f"{rows}\n")
    return rows
