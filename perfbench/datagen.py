"""Seeded synthetic tables for the batch catalog, in the layout the
catalog queries read: ``{dir}/{table}.parquet`` for the TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``.

Row counts scale with ``sf`` exactly as the catalog's test data does
(lineitem = 6,000,000 x sf); values follow the same domains. The same
seed gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
COLORS = ("red", "blue", "green", "small", "large", "shiny", "black", "white")
NOUNS = ("widget", "bolt", "ring", "gear", "nut", "panel", "spring", "valve")
TYPES = ("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a the data table row column key value part line join group sort scan "
    "filter merge hash window stream batch query spark fast slow big small "
    "order customer agg vector"
).split()
DIM = 64
LABELS = 10

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _choice(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span_days):
    return pa.array(
        _EPOCH_1995 + rng.integers(0, span_days, n) * _DAY_US, pa.timestamp("us")
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_users = max(int(15_000 * sf), 20)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_supp),
    })
    names = [
        f"{COLORS[a]} {NOUNS[b]}"
        for a, b in zip(rng.integers(0, len(COLORS), n_part), rng.integers(0, len(NOUNS), n_part))
    ]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, 2404),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _choice(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, n_line, 2600),
    })
    gaps = rng.integers(1_000_000, 2 * 259_000_000, n_ev)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.15:
            # near duplicate of an earlier document: one word replaced
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, n_doc),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, LABELS, n_doc)
    centers = rng.normal(0, 0.15, (LABELS, DIM))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_doc, DIM))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
