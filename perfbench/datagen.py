"""Seeded input generator for the benchmark.

``write_tables`` writes the star-schema tables the registry queries read
(``region`` .. ``embeddings``, one parquet file each, with the column types
and value domains of the test tables in TESTDATA.md). It uses numpy and
pyarrow only, so generation needs no Spark session, and the same seed gives
the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
_SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
_PTYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENTS = ("signup", "error", "click", "view", "purchase")
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)


def _i32(values) -> pa.Array:
    return pa.array(values, pa.int32())


def _i64(values) -> pa.Array:
    return pa.array(values, pa.int64())


def _days(rng, n: int, start: dt.date, span: int) -> pa.Array:
    base = np.datetime64(start, "D")
    days = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def table_rows(scale: float) -> dict[str, int]:
    """Row counts per table; ``scale`` 0.01 matches the sf0.01 test tables."""
    return {
        "customer": max(int(150_000 * scale), 20),
        "supplier": max(int(10_000 * scale), 5),
        "part": max(int(200_000 * scale), 20),
        "orders": max(int(1_500_000 * scale), 100),
        "lineitem": max(int(6_000_000 * scale), 400),
        "events": max(int(1_000_000 * scale), 100),
        "documents": 500,
        "embeddings": 500,
    }


def write_tables(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the ten query tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    rows = table_rows(scale)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict[str, pa.Array]) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": _i32(range(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    write("nation", {
        "n_nationkey": _i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": _i32([i % 5 for i in range(25)]),
    })
    n = rows["customer"]
    write("customer", {
        "c_custkey": _i64(np.arange(n)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": _i32(rng.integers(0, 25, n)),
        "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n)),
    })
    n = rows["supplier"]
    write("supplier", {
        "s_suppkey": _i64(np.arange(n)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": _i32(rng.integers(0, 25, n)),
        "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
    })
    n = rows["part"]
    keys = np.arange(n)
    write("part", {
        "p_partkey": _i64(keys),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n), rng.choice(_NOUN, n))]
        ),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(_PTYPES, n)),
        "p_size": _i32(rng.integers(1, 51, n)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
    })
    n_orders = rows["orders"]
    write("orders", {
        "o_orderkey": _i64(np.arange(n_orders)),
        "o_custkey": _i64(rng.integers(0, rows["customer"], n_orders)),
        "o_orderstatus": pa.array(rng.choice(("P", "O", "F"), n_orders)),
        "o_totalprice": pa.array(_money(rng, n_orders, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, n_orders, dt.date(1995, 1, 1), 2400),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders)),
    })
    n = rows["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    write("lineitem", {
        "l_orderkey": _i64(rng.integers(0, n_orders, n)),
        "l_partkey": _i64(rng.integers(0, rows["part"], n)),
        "l_suppkey": _i64(rng.integers(0, rows["supplier"], n)),
        "l_linenumber": _i32(rng.integers(1, 8, n)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(("R", "A", "N"), n)),
        "l_linestatus": pa.array(rng.choice(("O", "F"), n)),
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), 2500),
    })
    n = rows["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    write("events", {
        "event_id": _i64(np.arange(n)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]")),
        "user_id": _i64(rng.integers(0, max(n // 67, 2), n)),
        "event_type": pa.array(rng.choice(_EVENTS, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    n = rows["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near duplicate: earlier doc + tag
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    write("documents", {
        "doc_id": _i64(np.arange(n)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": _i64([len(t) for t in texts]),
    })
    n = rows["embeddings"]
    vecs = rng.normal(size=(n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": _i64(np.arange(n)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": _i32(rng.integers(0, 10, n)),
    })
    return {"region": 5, "nation": 25, **rows}
