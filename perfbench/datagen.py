"""Seeded synthetic inputs for the benchmark.

Tables have the schemas and value domains of the engine's fixture
tables (TPC-H-like star schema plus ``events`` and ``documents``), so
every registered query and its DuckDB oracle run on them unchanged.
Everything is drawn from one ``numpy`` generator: the same seed gives
the same tables, byte for byte.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents",
]

LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, first: int, span: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + (first + rng.integers(0, span, n)) * np.timedelta64(
        _DAY_US, "us"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def lineitem(rng: np.random.Generator, first_order: int, n_orders: int,
             n_part: int, n_supp: int) -> pa.Table:
    """Lines of orders ``first_order .. first_order+n_orders-1``: 1 to 7
    lines each (4 on average), so a slice of orders is a slice of rows."""
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(first_order, first_order + n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    cols = [
        orderkey.astype(np.int64),
        rng.integers(0, n_part, n),
        rng.integers(0, n_supp, n),
        linenumber,
        rng.integers(1, 51, n).astype(np.float64),
        # whole hundreds: price * (1 - discount) * (1 + tax) then has at
        # most two decimals, so ROUND(SUM(...), 2) never lands on a
        # half-cent tie that summation order could break either way
        rng.integers(9, 1051, n) * 100.0,
        np.round(rng.uniform(0.0, 0.1, n), 2),
        np.round(rng.uniform(0.0, 0.08, n), 2),
        _pick(rng, ["A", "N", "R"], n),
        _pick(rng, ["F", "O"], n),
        _days(rng, 1, 2499, n),
    ]
    return pa.Table.from_arrays(cols, schema=LINEITEM_SCHEMA)


def sizes(sf: float) -> dict[str, int]:
    return {
        "orders": max(150, int(150_000 * sf)),
        "customer": max(150, int(15_000 * sf)),
        "part": max(200, int(20_000 * sf)),
        "supplier": max(10, int(1_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": 500,
    }


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every fixture table at scale ``sf`` (lineitem ≈ 600k × sf rows)."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, 0, 2400, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    out["lineitem"] = lineitem(rng, 0, no, npart, ns)
    ne = n["events"]
    gaps = rng.uniform(0.0, 2.0, ne)
    span_us = 30 * _DAY_US
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.cumsum(gaps) / gaps.sum() * span_us
    ).astype(np.int64) * np.timedelta64(1, "us")
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n["users"], ne),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = []
    for i in range(nd):
        words = list(_pick(rng, WORDS, int(rng.integers(10, 100))))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(LANGS, dtype=object)[
                rng.choice(5, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14])
            ],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the
    byte size of each file."""
    os.makedirs(out_dir, exist_ok=True)
    written = {}
    for name, table in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        written[name] = os.path.getsize(path)
    return written
