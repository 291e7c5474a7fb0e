"""Seeded generator of the catalog's input tables.

Writes the three tables the catalog-heavy entries read -- lineitem,
orders and documents -- as parquet, with the row counts and value
distributions of the synthetic TPC-H-style corpus at the given scale
factor: a 30-word vocabulary, 10-100 words a document, one document in
twenty a near-duplicate (an earlier document's text plus " dup").
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000
EPOCH_1992_US = 694_224_000_000_000


def documents(rng, n):
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def orders_and_lineitem(rng, scale):
    n_orders = int(1_500_000 * scale)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    okeys = np.arange(n_orders, dtype=np.int64)
    odate = EPOCH_1992_US + rng.integers(0, 2400, size=n_orders) * DAY_US
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, n_cust, size=n_orders, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, size=n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, size=n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, size=n_orders)],
    })
    lines = rng.integers(1, 8, size=n_orders)
    n = int(lines.sum())
    lorder = np.repeat(okeys, lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": lorder,
        "l_partkey": rng.integers(0, n_part, size=n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, size=n, dtype=np.int64),
        "l_linenumber": (np.arange(n) - first + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, size=n), 2),
        "l_discount": np.round(rng.integers(0, 11, size=n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n)],
        "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(1, 122, size=n) * DAY_US,
                               pa.timestamp("us")),
    })
    return orders, lineitem


def generate(out_dir, seed, scale):
    """Writes lineitem, orders and documents for `seed` at `scale` into `out_dir`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    orders, lineitem = orders_and_lineitem(rng, scale)
    docs = documents(rng, max(500, int(50_000 * scale)))
    for name, t in (("orders", orders), ("lineitem", lineitem), ("documents", docs)):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
