"""Deterministic generator for the benchmark's data lake.

The lake has the ten tables of the package's catalog
(``sources.catalog.TESTDATA_LAKE_SPEC``): a TPC-H-like star schema
(region, nation, customer, supplier, part, orders, lineitem) plus the
``events``, ``documents`` and ``embeddings`` side tables, with the column
names, types and key properties that catalog relies on (dense 0-based keys
where it records ``row_id_expr``; ``(l_orderkey, l_linenumber)`` unique).

The lake is a fixed input: it depends only on ``scale`` and a fixed
generator seed, never on the workload seed, so every run of every workload
indexes the same cells.  The workload seed only picks probes (probes.py).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_SEED = 20240417

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["blue", "red", "green", "small", "large", "shiny", "matte", "steel"]
_NOUNS = ["anvil", "ring", "widget", "bolt", "gear", "spring", "valve", "lever"]
_PTYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
_EVENT_TYPES = ["click", "view", "purchase", "error", "login"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash join merge batch "
    "spark line sort window column data stream small index"
).split()


def _dates(rng: np.random.Generator, n: int, start: dt.datetime, days: int) -> pa.Array:
    offs = rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(np.datetime64(start, "us") + offs.astype("timedelta64[us]"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def lake_tables(scale: float) -> dict[str, pa.Table]:
    """The lake as Arrow tables; ``scale`` follows TPC-H scale factors
    (orders = 1.5M x scale)."""
    rng = np.random.default_rng(LAKE_SEED)
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 10)
    n_ord = max(int(1_500_000 * scale), 10)
    n_evt = max(int(1_000_000 * scale), 10)
    n_doc = max(int(50_000 * scale), 10)
    n_vec = max(int(20_000 * scale), 10)
    t0 = dt.datetime(1995, 1, 1)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pa.array(pkeys),
        "p_name": [
            f"{_COLORS[c]} {_NOUNS[w]}"
            for c, w in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(_PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pkeys % 1000) * 0.1, 1)),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _dates(rng, n_ord, t0, 2400),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    lines_per_order = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    l_linenumber = (np.arange(len(l_orderkey)) - starts + 1).astype(np.int32)
    n_line = len(l_orderkey)
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_orderkey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(l_linenumber),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(quantity * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _dates(rng, n_line, t0, 2500),
    })
    events = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": _dates(rng, n_evt, dt.datetime(2024, 1, 1), 30),
        "user_id": pa.array(rng.integers(0, max(n_evt // 60, 2), n_evt).astype(np.int64)),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = [
        " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(8, 60))])
        for _ in range(n_doc)
    ]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, 5, n_doc)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    vecs = rng.normal(0.0, 0.1, (n_vec, 16)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_lake(root: str, scale: float) -> dict[str, str]:
    """Write one ``<name>.parquet`` file per table under ``root``; returns
    table name -> file path."""
    os.makedirs(root, exist_ok=True)
    paths = {}
    for name, table in lake_tables(scale).items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path)
        paths[name] = path
    return paths
