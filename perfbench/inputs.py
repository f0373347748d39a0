"""Seeded input generation for the benchmark.

Everything the engine sees in a run is made here from ``--seed``: the
ten star-schema tables (the shape and row counts of the engine's sf0.01
test tables), the medallion payloads and each workload's op order. The
same seed gives byte-identical files and payloads; nothing is read from
outside the checkout.
"""

from __future__ import annotations

import json
import os
import random
from datetime import date, datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the engine's sf0.01 tables. Query cost on this engine is
# dominated by fixed per-job work at any size up to sf0.1, so the
# smaller scale buys more ops per second of run without changing which
# layers the time goes to.
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "green", "large", "shiny", "old", "new")
PART_NOUN = ("ring", "widget", "bolt", "anvil", "gear", "valve", "spring", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.42, 0.145, 0.145, 0.145, 0.145)
NEAR_DUP_FRAC = 0.05
EMB_DIM = 64


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    offsets = (seconds * 1e6).astype(np.int64).astype("timedelta64[us]")
    return pa.array(base + offsets, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    span = (date.fromisoformat(end) - date.fromisoformat(start)).days
    return rng.integers(0, span + 1, n) * 86_400.0


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables the engine's query surface reads."""
    rng = np.random.default_rng([seed, 1])
    n = ROWS
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n["part"], 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(("F", "O", "P"), n["orders"]),
            "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
            "o_orderdate": _ts(
                "1995-01-01", _days(rng, "1995-01-01", "2001-08-01", n["orders"])
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n["lineitem"]),
            "l_discount": np.round(rng.uniform(0, 0.1, n["lineitem"]), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n["lineitem"]), 2),
            "l_returnflag": rng.choice(("A", "N", "R"), n["lineitem"]),
            "l_linestatus": rng.choice(("F", "O"), n["lineitem"]),
            "l_shipdate": _ts(
                "1995-01-02", _days(rng, "1995-01-02", "2001-11-04", n["lineitem"])
            ),
        }),
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    return tables


def _events(rng: np.random.Generator) -> pa.Table:
    n = ROWS["events"]
    offsets = np.sort(rng.uniform(0, 30 * 86_400, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts("2024-01-01", offsets),
        "user_id": rng.integers(0, ROWS["users"], n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    """Word-soup documents; a fixed share are near-duplicates (an earlier
    document with a trailing ``dup`` token), which is what the dedup
    and containment queries look for. The share is fixed, not drawn, so
    the dedup queries' work does not swing from seed to seed."""
    n = ROWS["documents"]
    dups = set(rng.choice(np.arange(1, n), round(NEAR_DUP_FRAC * n), replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit vectors with a weak per-label direction."""
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    x = rng.normal(0, 1, (n, EMB_DIM)) + 0.15 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def write_tables(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Medallion payloads (Energy-Charts shapes, as the engine's bronze ingests)
# ---------------------------------------------------------------------------
POWER_TYPES = (
    "Wind offshore", "Wind onshore", "Solar", "Biomass", "Hydro Run-of-River",
    "Fossil gas", "Fossil hard coal", "Fossil brown coal", "Nuclear", "Waste",
)
OFFSHORE_VARIANT = " Wind Offshore "
PRICE_FIELDS = ("price", "prices", "data")
BACKFILL_DAYS = 731


def backfill_days(seed: int) -> list[str]:
    """Two consecutive years of days, starting on a seeded date."""
    rnd = random.Random(f"{seed}:start")
    start = date(2015, 1, 1) + timedelta(days=rnd.randrange(365 * 8))
    return [(start + timedelta(days=i)).isoformat() for i in range(BACKFILL_DAYS)]


def _epochs(day: str, step_s: int) -> list[float]:
    d = date.fromisoformat(day)
    t0 = int(datetime(d.year, d.month, d.day, tzinfo=timezone.utc).timestamp())
    return [float(t) for t in range(t0, t0 + 86_400, step_s)]


def make_payloads(seed: int) -> dict[str, dict[str, dict]]:
    """``{dataset: {day: payload}}`` for both medallion datasets.

    Power days carry 96 quarter-hour slots per production type with
    ~2 % nulls; every 50th day has one value array cut short (the
    misaligned tail the silver null filter drops) and half the days
    spell offshore wind as a whitespace/case variant. Price days carry
    24 hourly values under a rotating field name, negatives included.
    """
    rnd = random.Random(f"{seed}:payloads")
    power: dict[str, dict] = {}
    price: dict[str, dict] = {}
    for i, day in enumerate(backfill_days(seed)):
        ts = _epochs(day, 900)
        types = []
        for j, name in enumerate(POWER_TYPES):
            if j == 0 and rnd.random() < 0.5:
                name = OFFSHORE_VARIANT
            data = [
                None if rnd.random() < 0.02 else round(rnd.uniform(0, 5000), 1)
                for _ in ts
            ]
            if j == 1 and i % 50 == 1:
                data = data[:-5]
            types.append({"name": name, "data": data})
        power[day] = {"unix_seconds": ts, "production_types": types, "deprecated": None}
        hours = _epochs(day, 3600)
        price[day] = {
            "unix_seconds": hours,
            PRICE_FIELDS[i % 3]: [round(rnd.uniform(-20, 180), 2) for _ in hours],
            "unit": "EUR / MWh",
        }
    return {"public_power_de": power, "price_de_lu": price}


def payload_json_bytes(payloads: dict[str, dict[str, dict]]) -> int:
    """Bytes of payload JSON as bronze stores it (``ensure_ascii=False``)."""
    return sum(
        len(json.dumps(p, ensure_ascii=False).encode())
        for by_day in payloads.values()
        for p in by_day.values()
    )


def expected_counts(payloads: dict[str, dict[str, dict]]) -> dict[str, int]:
    """Row counts each medallion table must have, derived from the
    payloads alone: silver keeps a (time, value) pair when both exist
    at the same index; gold groups silver by UTC day."""
    power_rows = 0
    power_groups = 0
    offshore_days = set()
    for day, p in payloads["public_power_de"].items():
        for t in p["production_types"]:
            kept = sum(v is not None for v in t["data"][: len(p["unix_seconds"])])
            power_rows += kept
            if kept:
                power_groups += 1
                if t["name"].strip().lower() == "wind offshore":
                    offshore_days.add(day)
    price_rows = 0
    price_days = set()
    for day, p in payloads["price_de_lu"].items():
        vals = next(p[f] for f in PRICE_FIELDS if p.get(f))
        kept = sum(v is not None for v in vals[: len(p["unix_seconds"])])
        price_rows += kept
        if kept:
            price_days.add(day)
    return {
        "silver/public_power_de": power_rows,
        "silver/price_de_lu": price_rows,
        "gold/power_daily_by_type": power_groups,
        "gold/price_daily": len(price_days),
        "gold/power_price_daily": len(offshore_days & price_days),
    }


def op_order(names: list[str], seed: int) -> list[str]:
    """The seed's pass order over a workload's ops."""
    order = list(names)
    random.Random(f"{seed}:order").shuffle(order)
    return order
