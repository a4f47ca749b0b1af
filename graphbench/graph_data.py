"""Deterministic TPC-H-ish graph tables for the benchmark.

The benchmark reads and writes only inside its own checkout, so it builds
its graph from source instead of reading a shared test-data directory. The
tables have the schema and the sizes of the engine's sf0.01 fixture: 1,500
customers, 15,000 orders, 60,000 lineitems, 2,000 parts, 100 suppliers,
25 nations and 5 regions, plus the side tables ``load_tables`` opens.

The graph is the same for every workload seed (``GRAPH_SEED``): the seed a
run takes drives only the statements and their parameters, so the volume
of work does not change with it.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GRAPH_SEED = 42
# Bump when the generated tables change, so a stale cache is not reused.
GRAPH_VERSION = "1"

N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDER = 15_000
N_LINEITEM = 60_000
N_EVENT = 10_000
N_DOC = 500
N_EMBED = 500

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_WORDS = ["small", "red", "green", "steel", "round", "ring", "widget", "bolt", "plate", "gear"]
_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"]


def _days(rng: np.random.Generator, n: int, start: dt.date, span_days: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables() -> dict[str, pa.Table]:
    """All ten tables, generated from ``GRAPH_SEED``."""
    rng = np.random.default_rng(GRAPH_SEED)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": _money(rng, N_SUPPLIER, -999.99, 9999.99),
    })
    w = rng.integers(0, len(_WORDS), (N_PART, 2))
    out["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), i64),
        "p_name": [f"{_WORDS[a]} {_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [_TYPES[i] for i in rng.integers(0, 5, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": _money(rng, N_PART, 900.0, 2100.0),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDER), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDER), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDER)],
        "o_totalprice": _money(rng, N_ORDER, 1_000.0, 500_000.0),
        "o_orderdate": _days(rng, N_ORDER, dt.date(1992, 1, 1), 2_400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDER)],
    })
    qty = rng.integers(1, 51, N_LINEITEM).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDER, N_LINEITEM), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _days(rng, N_LINEITEM, dt.date(1992, 1, 1), 2_500),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ts0 + np.sort(rng.integers(0, 86_400_000_000, N_EVENT)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(range(N_EVENT), i64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 100, N_EVENT), i64),
        "event_type": [("click", "view", "buy", "error")[i] for i in rng.integers(0, 4, N_EVENT)],
        "value": _money(rng, N_EVENT, 0.0, 100.0),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, N_EVENT)],
    })
    texts = [
        " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), int(n)))
        for n in rng.integers(5, 60, N_DOC)
    ]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOC), i64),
        "text": texts,
        "lang": ["en"] * N_DOC,
        "source": [f"src{i % 7}" for i in range(N_DOC)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    emb = rng.normal(0.0, 0.1, (N_EMBED, 64)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_EMBED), i64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, N_EMBED), i32),
    })
    return out


def ensure(work_dir: str) -> str:
    """Write the tables under ``work_dir`` once; returns the table directory.

    The directory is filled under a temporary name and renamed into place,
    so an interrupted run never leaves a half-written graph behind."""
    final = os.path.join(work_dir, f"graph-v{GRAPH_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, final)
    return final
