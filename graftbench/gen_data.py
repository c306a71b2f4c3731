"""Deterministic synthetic inputs for the benchmark.

Writes the four tables the benchmark's queries read (lineitem, orders,
events, documents) as one parquet file each, with the schemas and value
distributions of graft's TPC-H-ish test tables: uniform keys, two-decimal
prices, a 31-word document vocabulary with planted "dup" near-copies, and
an events table whose timestamps rise with event_id.

    python3 graftbench/gen_data.py OUT_DIR [--sf 0.01] [--seed 42]

The same (sf, seed) always gives byte-identical values.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
FLAGS = np.array(["A", "N", "R"])
STATUS = np.array(["F", "O"])
O_STATUS = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def lineitem(rng, sf):
    n, n_orders = int(6_000_000 * sf), int(1_500_000 * sf)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, int(200_000 * sf), n),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": FLAGS[rng.integers(0, 3, n)],
        "l_linestatus": STATUS[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, "1995-01-02", 2498),
    })


def orders(rng, sf):
    n = int(1_500_000 * sf)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, int(150_000 * sf), n),
        "o_orderstatus": O_STATUS[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n, "1995-01-01", 2404),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    })


def events(rng, sf):
    n = int(1_000_000 * sf)
    month_us = 30 * 24 * 3600 * 1_000_000
    offsets = np.sort(rng.integers(0, month_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets,
        "user_id": rng.integers(0, int(15_000 * sf), n),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def documents(rng, sf):
    n = max(500, int(50_000 * sf))
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus one word
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.array(["src%d" % k for k in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


TABLES = {"lineitem": lineitem, "orders": orders, "events": events, "documents": documents}


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(sorted(TABLES.items())):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng, sf), os.path.join(out_dir, name + ".parquet"),
                       compression="snappy")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.out_dir, a.sf, a.seed)


if __name__ == "__main__":
    main()
