"""Seeded input generator.

Every input the engine sees in a benchmark run comes from here: the same
``(seed, scale)`` gives byte-identical tables.  The tables follow the
engine's star schema (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings) with the column names, types and
value domains the registered queries expect; row counts scale linearly with
``scale`` (``scale=0.1`` gives 600k lineitems).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "tiny"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "pipe", "nut", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a the data spark query table row column key value join scan filter "
    "sort hash group agg order part line customer window stream batch "
    "merge vector fast slow big small"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64

_EPOCH = dt.datetime(1995, 1, 1)


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale``."""
    n = lambda base, floor: max(floor, int(round(base * scale)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000, 150),
        "supplier": n(10_000, 10),
        "part": n(200_000, 200),
        "orders": n(1_500_000, 1_500),
        "lineitem": n(6_000_000, 6_000),
        "events": n(1_000_000, 1_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span: int) -> pa.Array:
    days = rng.integers(0, span, n)
    ts = np.datetime64(_EPOCH, "us") + days.astype("timedelta64[D]")
    return pa.array(ts, pa.timestamp("us"))


def customers(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def parts(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n) / 10, 2),
    })


def orders(rng: np.random.Generator, keys: np.ndarray, custkeys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.choice(custkeys, n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _days(rng, n, 2405),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(8, 90, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # ~2% exact copies and ~2% one-word edits of earlier documents, so both
    # exact and near-duplicate detection have work to find.
    for i in rng.choice(np.arange(n // 2, n), n // 25, replace=False):
        src = texts[int(rng.integers(0, n // 2))]
        if i % 2:
            texts[i] = src
        else:
            toks = src.split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 1.5, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32()), flat
        ),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": _money(rng, 0, 560, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _lineitem(rng: np.random.Generator, n: int, s: dict) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, 2499),
    })


def star_schema(seed: int, scale: float, tables: list[str]) -> dict[str, pa.Table]:
    """The named tables at ``scale``; each table draws from its own
    seed-derived stream, so asking for a subset changes no values."""
    s = sizes(scale)
    out: dict[str, pa.Table] = {}
    for i, name in enumerate(tables):
        rng = np.random.default_rng([seed, i, sum(map(ord, name))])
        n = s[name]
        if name == "region":
            out[name] = pa.table({
                "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
            })
        elif name == "nation":
            out[name] = pa.table({
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            })
        elif name == "customer":
            out[name] = customers(rng, np.arange(n))
        elif name == "supplier":
            out[name] = pa.table({
                "s_suppkey": pa.array(np.arange(n), pa.int64()),
                "s_name": [f"Supplier#{k:09d}" for k in range(n)],
                "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n),
            })
        elif name == "part":
            out[name] = parts(rng, np.arange(n))
        elif name == "orders":
            out[name] = orders(rng, np.arange(n), np.arange(s["customer"]))
        elif name == "lineitem":
            out[name] = _lineitem(rng, n, s)
        elif name == "events":
            out[name] = _events(rng, n, max(10, s["customer"] // 10))
        elif name == "documents":
            out[name] = _documents(rng, n)
        elif name == "embeddings":
            out[name] = _embeddings(rng, n)
        else:
            raise ValueError(f"unknown table {name!r}")
    return out


def write_tables(tables: dict[str, pa.Table], directory: str) -> dict[str, int]:
    """Write ``<directory>/<name>.parquet`` per table; returns file bytes."""
    os.makedirs(directory, exist_ok=True)
    written = {}
    for name, table in tables.items():
        path = os.path.join(directory, f"{name}.parquet")
        pq.write_table(table, path)
        written[name] = os.path.getsize(path)
    return written
