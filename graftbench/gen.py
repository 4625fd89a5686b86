"""Seeded input generator for the graft benchmark.

Every table is first built from one fixed base seed, so sizes, value
distributions and near-duplicate density are the same for every run.
The run's ``--seed`` then only re-spells and re-orders that base:

* documents: every token gains a 3-letter suffix chosen by the seed (the
  replica-suffix rename of ``graft.Bench.ensureScaled``), rows are shuffled;
* embeddings: a cyclic rotation of the dimensions plus per-dimension sign
  flips (an orthogonal map, so exact neighbours are kept), rows shuffled;
* orders / lineitem: order, customer, supplier and part keys move by
  seed-chosen offsets, rows are shuffled.

Usage: python3 gen.py <out_dir> <workload> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

BASE_SEED = 20260417

# Base sizes per workload. Fixed for every seed.
SIZES = {
    "etl_flow": {"orders": 10_000, "lines_per_order": 4},
    "corpus_graph": {"documents": 400, "embeddings": 400, "orders": 5_000,
                     "lines_per_order": 4},
}

VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data join vector customer the a").split()
LANGS = np.array(["en", "en", "de", "es", "fr", "zh"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
# DuckDB's column types for orders.csv
ORDERS_CSV_COLUMNS = ("{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', "
                      "'o_orderstatus': 'VARCHAR', 'o_totalprice': 'DOUBLE', "
                      "'o_orderdate': 'TIMESTAMP', 'o_orderpriority': 'VARCHAR'}")
EMB_DIM = 64
EMB_CLUSTERS = 10


def _letters(rng, n):
    return "".join(chr(ord("a") + int(c)) for c in rng.integers(0, 26, n))


def documents(n, seed):
    base = np.random.default_rng(BASE_SEED)
    n_words = base.integers(8, 160, n)
    words = [base.integers(0, len(VOCAB), k) for k in n_words]
    # near-duplicate families: a doc copies an earlier one with a few
    # token edits; a few are exact copies up to case and punctuation
    kind = base.random(n)
    for i in range(1, n):
        j = int(base.integers(0, i))
        if kind[i] < 0.12:
            w = words[j].copy()
            edits = base.random(len(w)) < 0.05
            w[edits] = base.integers(0, len(VOCAB), int(edits.sum()))
            words[i] = w
        elif kind[i] < 0.14:
            words[i] = words[j].copy()
    shout = kind >= 0.995  # upper-cased exact copies exercise normText
    suffix = _letters(np.random.default_rng(seed), 3)
    vocab = [w + suffix for w in VOCAB]
    text = []
    for i, w in enumerate(words):
        t = " ".join(vocab[k] for k in w)
        text.append(t.upper() + "!" if shout[i] else t)
    order = np.random.default_rng(seed).permutation(n)
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(LANGS[base.integers(0, len(LANGS), n)]),
        "source": pa.array(["src%d" % s for s in base.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    return tbl.take(pa.array(order))


def embeddings(n, seed):
    base = np.random.default_rng(BASE_SEED + 1)
    centers = base.normal(size=(EMB_CLUSTERS, EMB_DIM))
    label = base.integers(0, EMB_CLUSTERS, n)
    v = centers[label] * 0.35 + base.normal(size=(n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    v = np.roll(v, int(rng.integers(0, EMB_DIM)), axis=1)
    v *= rng.choice([-1.0, 1.0], EMB_DIM)
    order = rng.permutation(n)
    v = v.astype(np.float32)
    tbl = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return tbl.take(pa.array(order))


def trade(n_orders, lines_per_order, seed):
    """orders + lineitem with sf0.1's value ranges, key-offset by seed."""
    base = np.random.default_rng(BASE_SEED + 2)
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 10), n_orders // 7
    day0 = np.datetime64("1995-01-01", "us")
    span_days = 2403  # 1995-01-01 .. 2001-08-01
    o_date = day0 + base.integers(0, span_days, n_orders) * np.timedelta64(86_400_000_000, "us")
    o_cust = base.integers(0, n_cust, n_orders)
    o_status = np.array(["F", "O", "P"])[base.integers(0, 3, n_orders)]
    o_price = np.round(base.uniform(1000, 500_000, n_orders), 2)
    o_prio = PRIORITIES[base.integers(0, 5, n_orders)]
    n_lines = base.integers(1, 2 * lines_per_order, n_orders)
    l_order = np.repeat(np.arange(n_orders), n_lines)
    n_li = len(l_order)
    l_linenumber = (np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1)
    l_part = base.integers(0, n_part, n_li)
    l_supp = base.integers(0, n_supp, n_li)
    l_qty = base.integers(1, 51, n_li).astype(np.float64)
    l_price = np.round(base.uniform(900, 105_000, n_li), 2)
    l_disc = base.integers(0, 11, n_li) / 100.0
    l_tax = base.integers(0, 9, n_li) / 100.0
    l_rflag = np.array(["A", "N", "R"])[base.integers(0, 3, n_li)]
    l_lstatus = np.array(["F", "O"])[base.integers(0, 2, n_li)]
    l_ship = o_date[l_order] + base.integers(1, 122, n_li) * np.timedelta64(86_400_000_000, "us")

    rng = np.random.default_rng(seed)
    off_o, off_c, off_s, off_p = (int(x) for x in rng.integers(0, 1_000_000, 4))
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64) + off_o),
        "o_custkey": pa.array(o_cust.astype(np.int64) + off_c),
        "o_orderstatus": pa.array(o_status),
        "o_totalprice": pa.array(o_price),
        "o_orderdate": pa.array(o_date),
        "o_orderpriority": pa.array(o_prio),
    }).take(pa.array(rng.permutation(n_orders)))
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order.astype(np.int64) + off_o),
        "l_partkey": pa.array(l_part.astype(np.int64) + off_p),
        "l_suppkey": pa.array(l_supp.astype(np.int64) + off_s),
        "l_linenumber": pa.array(l_linenumber.astype(np.int32)),
        "l_quantity": pa.array(l_qty),
        "l_extendedprice": pa.array(l_price),
        "l_discount": pa.array(l_disc),
        "l_tax": pa.array(l_tax),
        "l_returnflag": pa.array(l_rflag),
        "l_linestatus": pa.array(l_lstatus),
        "l_shipdate": pa.array(l_ship),
    }).take(pa.array(rng.permutation(n_li)))
    return orders, lineitem


def generate(out_dir, workload, seed):
    """Write the workload's inputs under out_dir; return {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    size = SIZES[workload]
    tables = {}
    if workload == "corpus_graph":
        tables["documents"] = documents(size["documents"], seed)
        tables["embeddings"] = embeddings(size["embeddings"], seed)
    tables["orders"], tables["lineitem"] = trade(
        size["orders"], size["lines_per_order"], seed)
    for name, tbl in tables.items():
        if workload == "etl_flow" and name == "orders":
            # the reference flow ingests its orders file as CSV
            pacsv.write_csv(tbl, os.path.join(out_dir, "orders.csv"))
        else:
            pq.write_table(tbl, os.path.join(out_dir, name + ".parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


if __name__ == "__main__":
    print(generate(sys.argv[1], sys.argv[2], int(sys.argv[3])))
