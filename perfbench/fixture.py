"""Seeded synthetic inputs for the benchmark.

Writes the ten fixture tables the query registry reads (the TPC-H-ish star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet file
each, with the schemas and value distributions of the engine's reference
fixture (see FIXTURES.md at the repo root). Everything comes from one NumPy
generator seeded by the benchmark's ``--seed``: the same seed and scale give
byte-identical inputs, and no Spark job runs while the inputs are made.

Row counts follow the reference fixture: at ``scale=0.001`` lineitem has
about 6,000 rows, at ``0.01`` about 60,000. ``documents`` and
``embeddings`` stay at 500 rows at every scale, as in that fixture.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PWORDS1 = ["blue", "cold", "hot", "large", "new"]
PWORDS2 = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
N_DOCS = 500
N_VECS = 500
DIM = 64
NEAR_DUP_SHARE = 0.05

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])

_DAY_US = 86_400 * 1_000_000


def _epoch_us(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days * _DAY_US


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: dt.date, last: dt.date, n: int):
    """Midnight timestamps (µs) drawn uniformly from [first, last]."""
    span = (last - first).days + 1
    return _epoch_us(first) + rng.integers(0, span, n) * _DAY_US


def lineitem(rng: np.random.Generator, n_rows: int, n_orders: int,
             n_part: int, n_supp: int, first_order: int = 0) -> pa.Table:
    """Lineitem rows over orders [first_order, first_order + n_orders).

    Each line draws its order uniformly, so lines per order are about
    Poisson(n_rows / n_orders); ``l_linenumber`` is the line's rank inside
    its order, so ``(l_orderkey, l_linenumber)`` is unique.
    """
    ok = np.sort(rng.integers(0, n_orders, n_rows)) + first_order
    starts = np.r_[0, np.flatnonzero(np.diff(ok)) + 1]
    sizes = np.diff(np.r_[starts, n_rows])
    rank = np.arange(n_rows) - np.repeat(starts, sizes)
    return pa.table({
        "l_orderkey": ok,
        "l_partkey": rng.integers(0, n_part, n_rows),
        "l_suppkey": rng.integers(0, n_supp, n_rows),
        "l_linenumber": (rank + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_rows).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_rows),
        "l_discount": rng.integers(0, 11, n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_rows),
        "l_linestatus": _pick(rng, ["F", "O"], n_rows),
        "l_shipdate": pa.array(
            _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_rows),
            pa.timestamp("us"),
        ),
    }, schema=LINEITEM_SCHEMA)


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < NEAR_DUP_SHARE:
            # near duplicate: an earlier document plus one or two markers
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    g = rng.standard_normal((N_VECS, DIM))
    unit = (g / np.linalg.norm(g, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(unit), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32),
    })


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All fixture tables for one seed and scale, in memory."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, round(150_000 * scale))
    n_supp = max(5, round(10_000 * scale))
    n_part = max(20, round(200_000 * scale))
    n_ord = max(100, round(1_500_000 * scale))
    n_li = 4 * n_ord
    n_ev = max(500, round(1_000_000 * scale))
    n_users = max(10, round(15_000 * scale))

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9_999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9_999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PWORDS1[a]} {PWORDS2[b]}"
                for a, b in zip(rng.integers(0, len(PWORDS1), n_part),
                                rng.integers(0, len(PWORDS2), n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(
                _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
                pa.timestamp("us"),
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": lineitem(rng, n_li, n_ord, n_part, n_supp),
    }
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _epoch_us(
        dt.date(2024, 1, 1))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def write(seed: int, scale: float, dst: str) -> None:
    """Write every table to ``dst/<name>.parquet``."""
    os.makedirs(dst, exist_ok=True)
    for name, tbl in tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(dst, f"{name}.parquet"))
