"""Deterministic input generators for the benchmark.

``write_tables`` writes the ten TPC-H-style tables the query registry
reads (region … embeddings) as parquet, with the same column names,
types and value shapes as the engine's reference test data.
``listings`` makes real-estate listings in ``LISTINGS_SCHEMA`` field
order for the serving workload. Both are pure functions of their seed,
so the same seed always yields the same bytes of input.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "de", "es", "fr", "zh"]

_US_PER_DAY = 86_400_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return int(lo), int(hi)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_users = max(15, int(15_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2), f64),
    })
    lo, hi = _days("1995-01-01", "2001-08-01")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), f64),
        "o_orderdate": _ts(rng.integers(lo, hi + 1, n_ord)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lo, hi = _days("1995-01-02", "2001-11-04")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(rng.integers(lo, hi + 1, n_line)),
    })
    t0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
    ts = np.sort(rng.integers(t0, t0 + 30 * _US_PER_DAY, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_events),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()),
    })
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(k))]) for k in rng.integers(10, 100, n_docs)]
    # one document in twenty is an earlier one's text plus a marker word:
    # the near-duplicates the dedup and LSH queries exist to find
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.02, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


_TYPES = ["apartment", "house", "villa", "land"]
_GRADES = ["A", "B", "C", "D"]
_EXPO = ["north", "south", "east", "west"]


def listings(first_id: int, n: int, seed: int) -> list[dict]:
    """``n`` listings with ids from ``first_id``, in the shape the serving
    tests use, plus a ``price`` label that depends on size, rooms and
    location with log-normal noise."""
    rng = random.Random(seed)
    rows = []
    for i in range(first_id, first_id + n):
        size = 20.0 + 200.0 * rng.random()
        lat = 48.0 + rng.random()
        rec = {
            "id_annonce": i,
            "property_type": _TYPES[i % 4],
            "approximate_latitude": lat,
            "approximate_longitude": 2.0 + rng.random(),
            "city": f"city{i % 10}",
            "postal_code": 75000 + i % 100,
            "size": size,
            "floor": i % 6,
            "land_size": 500.0 * rng.random() if i % 4 in (1, 2) else None,
            "energy_performance_value": 50.0 + 300.0 * rng.random(),
            "energy_performance_category": _GRADES[rng.randrange(4)],
            "ghg_value": 5.0 + 50.0 * rng.random(),
            "ghg_category": _GRADES[rng.randrange(4)],
            "exposition": _EXPO[rng.randrange(4)],
            "nb_rooms": 1 + rng.randrange(7),
            "nb_bedrooms": rng.randrange(4),
            "nb_bathrooms": rng.randrange(3),
            "nb_parking_places": rng.randrange(2),
            "nb_boxes": rng.randrange(2),
            "nb_photos": rng.randrange(12),
            "has_a_balcony": float(rng.randrange(2)),
            "nb_terraces": float(rng.randrange(3)),
            "has_a_cellar": float(rng.randrange(2)),
            "has_a_garage": float(rng.randrange(2)),
            "has_air_conditioning": float(rng.randrange(5) == 0),
            "last_floor": float(i % 6 == 5),
            "upper_floors": float(i % 6),
        }
        base = size * 3000.0 + rec["nb_rooms"] * 20000.0 + (lat - 48.0) * 80000.0 + 50000.0
        rec["price"] = round(base * rng.lognormvariate(0.0, 0.15), 2)
        rows.append(rec)
    return rows
