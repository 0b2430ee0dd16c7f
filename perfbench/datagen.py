"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (the TPC-H-style star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the column names and arrow types of the engine's fixture tables.
Row counts follow the fixture scale factors: ``sf=0.01`` gives 60,000
lineitem rows, 10,000 events over 150 tiles, 500 documents and 500
embeddings. The same ``(sf, seed)`` always gives byte-identical files.

``forecast_series`` derives the storm lifecycle's forecasts from one
events table: each forecast redraws ``value`` on a seeded share of the
previous forecast's rows, so consecutive forecasts share most of their
(tile, member, threshold) hits while their reports still differ.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "plate", "rod", "gizmo"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DIM = 64


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def events_table(sf: float, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 7])
    n = max(1, round(1_000_000 * sf))
    n_tiles = max(1, round(15_000 * sf))
    gaps = rng.exponential(259.0, n) * 1e6
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_tiles, n), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> dict:
    """Random texts; every tenth document (at seeded positions) is a
    near-duplicate of an earlier original, so the duplicate clusters have
    the same count and depth for every seed."""
    dup_at = set(rng.choice(np.arange(10, n), n // 10, replace=False).tolist())
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i in dup_at:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, _DIM))
    x = rng.normal(0.0, 1.0, (n, _DIM)) + 1.2 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def write_tables(out: Path, sf: float, seed: int) -> None:
    """Write every table at scale ``sf`` into ``out``."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = round(150_000 * sf)
    n_supp = round(10_000 * sf)
    n_part = round(200_000 * sf)
    n_ord = round(1_500_000 * sf)
    n_li = round(6_000_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    keys = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    pq.write_table(events_table(sf, seed), out / "events.parquet")
    _write(out, "documents", _documents(rng, max(500, round(50_000 * sf))))
    _write(out, "embeddings", _embeddings(rng, max(500, round(20_000 * sf))))


def forecast_series(
    base: Path, out: Path, forecasts: list[str], seed: int, redraw: float = 0.1
) -> dict[str, Path]:
    """One input directory per forecast, each holding ``events.parquet`` and
    a copy of ``customer.parquet`` (the two tables ``jobs.update`` reads).
    Forecast k redraws ``value`` on a seeded ``redraw`` share of forecast
    k-1's rows; the first forecast starts from ``base``'s events."""
    ev = pq.read_table(base / "events.parquet")
    value = ev.column("value").to_numpy().copy()
    dirs: dict[str, Path] = {}
    for k, ft in enumerate(forecasts):
        rng = np.random.default_rng([seed, 100 + k])
        hit = rng.random(len(value)) < redraw
        value[hit] = np.maximum(np.round(rng.exponential(50.0, int(hit.sum())), 2), 0.01)
        d = out / ft
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(ev.set_column(4, "value", pa.array(value)), d / "events.parquet")
        shutil.copyfile(base / "customer.parquet", d / "customer.parquet")
        dirs[ft] = d
    return dirs
