"""Seeded input generator for the benchmark workloads.

Writes parquet tables with the schemas of the engine's catalog
(`recommendation_system_big_data_spark.catalog.TABLES`) from seeded
``numpy.random.Generator`` streams, so the same seed always gives the same
inputs. Everything runs in this process; no Spark is involved.

Three table sets:

* ``corpus`` — documents (bag-of-words texts with planted near-duplicates,
  one source in ten missing) and embeddings (64-d unit vectors around 10 class centres).
* ``events`` — the recsys ratings source. ``ratings_from_events`` derives
  item = event_id % 101 and rating = value / 40, so event ids are drawn to
  make item popularity Zipf-skewed, user activity is Zipf-skewed too, and
  ``value`` comes from a non-negative rank-4 user x item model plus noise,
  which gives ALS real structure to recover.
* ``tpch`` — customer, orders and lineitem in the testdata's TPC-H-shaped
  schema (doubles with two decimals, naive timestamps), with the value
  domains the TPC-H queries filter and group on.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per scale. ``bench`` is what the timed runs use; ``tiny`` (a
#: few hundred documents and vectors, 3,000 ratings) is for the self-test.
SIZES = {
    "bench": {"documents": 500, "embeddings": 400, "events": 40000, "users": 5000,
              "customers": 1500, "orders": 15000},
    "tiny": {"documents": 200, "embeddings": 200, "events": 3000, "users": 300,
             "customers": 150, "orders": 1500},
}

N_ITEMS = 101  # fixed by ratings_from_events (event_id % 101)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
N_CLASSES = 10


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _zipf_choice(rng: np.random.Generator, n_keys: int, size: int, s: float) -> np.ndarray:
    """Draw ``size`` keys in [0, n_keys) with P(rank r) ~ 1 / r**s, the
    ranks shuffled so popularity is not correlated with key order."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    perm = rng.permutation(n_keys)
    return perm[rng.choice(n_keys, size=size, p=w / w.sum())]


def corpus_tables(rng: np.random.Generator, n: dict) -> dict[str, pa.Table]:
    nd, nv = n["documents"], n["embeddings"]
    vocab = np.array(VOCAB)
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=nd, p=LANG_P)]
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(nd)]
    # One doc in 20 is a planted near-duplicate: an earlier doc's text plus
    # one marker token. Half keep the original's language, which is what
    # the near-dup jobs block on, so every seed plants same-language pairs.
    for i in rng.choice(np.arange(nd // 2, nd), size=nd // 20, replace=False):
        j = int(rng.integers(0, nd // 2))
        texts[i] = texts[j] + " dup"
        if rng.random() < 0.5:
            langs[i] = langs[j]
    centres = rng.normal(0.0, 0.07, size=(N_CLASSES, EMBED_DIM))
    labels = rng.integers(0, N_CLASSES, nv)
    vecs = centres[labels] + rng.normal(0.0, 0.125, size=(nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    # Missing sources, as null or as a sentinel string, for the quality audit.
    sources = [f"src{i % 20}" for i in range(nd)]
    for i in rng.choice(nd, size=nd // 10, replace=False):
        sources[i] = None if rng.random() < 0.5 else "Unknown"
    documents = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": pa.array(sources, pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"documents": documents, "embeddings": embeddings}


def events_tables(rng: np.random.Generator, n: dict) -> dict[str, pa.Table]:
    ne, nu = n["events"], n["users"]
    users = _zipf_choice(rng, nu, ne, s=0.6)
    # Every user rates at least one item, so the user count is exact.
    users[:nu] = np.arange(nu)
    items = _zipf_choice(rng, N_ITEMS, ne, s=0.9)
    # Non-negative rank-4 factors: the engine's ALS is non-negative, so the
    # signal is one it can represent.
    u_f = rng.uniform(0.0, 1.0, size=(nu, 4))
    i_f = rng.uniform(0.0, 1.0, size=(N_ITEMS, 4))
    rating = 2.5 * np.einsum("ij,ij->i", u_f[users], i_f[items]) + rng.normal(0.0, 0.3, ne)
    value = np.round(np.clip(rating, 0.0, 5.0) * 40.0, 2)
    # event_id % 101 is the item; the quotient keeps ids unique.
    event_id = np.arange(ne, dtype=np.int64) * N_ITEMS + items
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    events = pa.table({
        "event_id": event_id,
        "ts": _ts_us(dt.datetime(2024, 1, 1), offsets),
        "user_id": users.astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    return {"events": events}


SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def tpch_tables(rng: np.random.Generator, n: dict) -> dict[str, pa.Table]:
    nc, no = n["customers"], n["orders"]
    customer = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), nc)],
    })
    # Orders from 1995-01-01 over 6.5 years; 1 to 7 lines each, shipped
    # 1-120 days after the order, so the queries' date cuts split the data.
    order_day = rng.integers(0, 2400, no)
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_order = np.repeat(np.arange(no, dtype=np.int64), lines)
    l_line = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)
    disc = rng.integers(0, 11, nl) / 100.0
    tax = rng.integers(0, 9, nl) / 100.0
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 121, nl)
    day_us = 86_400_000_000
    start = dt.datetime(1995, 1, 1)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, 2000, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, 100, nl, dtype=np.int64),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_us(start, ship_day * day_us),
    })
    # o_totalprice sums the order's discounted, taxed lines, to the cent.
    charge = np.round(price * (1 - disc) * (1 + tax), 2)
    orders = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(np.bincount(l_order, weights=charge, minlength=no), 2),
        "o_orderdate": _ts_us(start, order_day * day_us),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), no)],
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


#: Table set -> (table function, random stream id). The stream ids are fixed so a
#: set's rows depend only on the seed, never on which other sets exist.
TABLE_SETS = {"corpus": (corpus_tables, 1), "events": (events_tables, 2), "tpch": (tpch_tables, 3)}


def generate(out_dir: str, seed: int, table_sets: tuple[str, ...], scale: str = "bench") -> dict[str, int]:
    """Write the requested table sets under ``out_dir`` and return the row
    count of every table written. Each set draws from its own random
    stream ``(seed, stream id)``."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in table_sets:
        build, stream = TABLE_SETS[name]
        rng = np.random.default_rng([seed, stream])
        for table, data in build(rng, SIZES[scale]).items():
            pq.write_table(data, os.path.join(out_dir, f"{table}.parquet"))
            rows[table] = data.num_rows
    return rows
