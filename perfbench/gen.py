"""Seeded input generators for the benchmark.

Everything the program receives is made here from ``--seed``: GTFS-RT
VehiclePositions envelopes (JSON strings) for the ``poll`` and
``schedule`` workloads, and the parquet tables the ``lanes`` workload
reads. The same seed gives byte-identical envelopes and tables.

Envelopes cover every branch of the Metlink pipeline at a fixed share
(``ENTITY_SHARES``, ``OCCUPANCY_SHARES``, ``SPEED_SHARES``,
``DUPLICATE_SHARE``); counts are allocated exactly (largest remainder),
so a branch's count in one envelope is a function of the envelope size.
Speeds carry two decimals and are never rounded further.
"""

from __future__ import annotations

import json
import random

VEHICLES = 700
BASE_TS = 1_760_000_000  # 2025-10-09T08:53:20Z

#: How each base entity is built. The ``drop_*`` kinds are filtered by
#: the pipeline (P2 missing struct, P3 (0,0) island, P4 falsy trip_id);
#: the rest classify as Bus, Train or Ship.
ENTITY_SHARES = {
    "bus": 0.68,
    "bus_no_separator": 0.04,
    "train": 0.16,
    "ship_qdf": 0.03,
    "ship_mif": 0.03,
    "drop_zero_island": 0.02,
    "drop_empty_trip": 0.01,
    "drop_null_trip": 0.01,
    "drop_no_vehicle": 0.01,
    "drop_no_position": 0.01,
}
#: Per kept (not dropped) base entity.
OCCUPANCY_SHARES = {"absent": 0.3, "in_range": 0.6, "out_of_range": 0.1}
SPEED_SHARES = {"absent": 0.1, "zero": 0.1, "two_decimals": 0.8}
#: Extra entities, as a share of VEHICLES, that re-report a kept
#: vehicle later in the array (same class, new position): last wins.
DUPLICATE_SHARE = 0.05

TRAIN_PREFIXES = ("HVL", "JVL", "KPL", "MEL", "WRL", "MUL")
BUS_ROUTES = ("1", "2", "3", "7", "14", "24", "83", "110", "220", "AX")


def allocate(shares: dict[str, float], n: int) -> dict[str, int]:
    """Exact integer counts summing to ``n`` (largest remainder)."""
    raw = {k: s * n for k, s in shares.items()}
    counts = {k: int(v) for k, v in raw.items()}
    short = n - sum(counts.values())
    for k in sorted(raw, key=lambda k: (counts[k] - raw[k], k))[:short]:
        counts[k] += 1
    return counts


def _shuffled(rng: random.Random, counts: dict[str, int]) -> list[str]:
    kinds = [k for k, c in counts.items() for _ in range(c)]
    rng.shuffle(kinds)
    return kinds


def _trip_id(rng: random.Random, kind: str, n: int) -> str | None:
    if kind == "train":
        return f"{rng.choice(TRAIN_PREFIXES)}__{n}"
    if kind == "ship_qdf":
        return f"QDF__{n}"
    if kind == "ship_mif":
        return f"MIF__{n}"
    if kind == "bus_no_separator":
        return f"NOSEP{n}"
    if kind == "drop_empty_trip":
        return ""
    if kind == "drop_null_trip":
        return None
    return f"{rng.choice(BUS_ROUTES)}__{n}"


def _vehicle(rng, eid, trip_id, vehicle_id, occupancy, speed, ts, zero=False):
    position = {
        "latitude": 0.0 if zero else round(rng.uniform(-41.35, -40.9), 6),
        "longitude": 0.0 if zero else round(rng.uniform(174.6, 175.2), 6),
        "bearing": rng.randrange(0, 3600) / 10,
    }
    if speed != "absent":
        position["speed"] = 0 if speed == "zero" else rng.randrange(1, 3001) / 100
    v = {
        "trip": {
            "trip_id": trip_id,
            "route_id": rng.randrange(1, 1000),
            "start_time": f"{rng.randrange(5, 24):02d}:{rng.randrange(0, 60):02d}:00",
            "start_date": "20251009",
            "schedule_relationship": 0,
        },
        "position": position,
        "timestamp": ts,
        "vehicle": {"id": vehicle_id},
    }
    direction = rng.choice((0, 1, None))
    if direction is not None:
        v["trip"]["direction_id"] = direction
    if occupancy == "in_range":
        v["occupancy_status"] = rng.randrange(0, 7)
    elif occupancy == "out_of_range":
        v["occupancy_status"] = rng.randrange(7, 10)
    return {"id": f"E{eid}", "vehicle": v}


def entities(seed: int, index: int, vehicles: int = VEHICLES) -> list[dict]:
    """The entity list of envelope ``index`` for ``seed``."""
    rng = random.Random(f"envelope:{seed}:{index}")
    kinds = _shuffled(rng, allocate(ENTITY_SHARES, vehicles))
    n_kept = sum(not k.startswith("drop_") for k in kinds)
    occupancy = iter(_shuffled(rng, allocate(OCCUPANCY_SHARES, n_kept)))
    speed = iter(_shuffled(rng, allocate(SPEED_SHARES, n_kept)))
    vehicle_ids = rng.sample(range(1000, 10000), vehicles)
    ts = BASE_TS + 30 * index
    out, kept = [], []
    for i, kind in enumerate(kinds):
        trip_id = _trip_id(rng, kind, rng.randrange(100000))
        vid = str(vehicle_ids[i])
        if kind.startswith("drop_"):
            ent = _vehicle(rng, i, trip_id, vid, "absent", "two_decimals", ts,
                           zero=kind == "drop_zero_island")
            if kind == "drop_no_vehicle":
                del ent["vehicle"]
            elif kind == "drop_no_position":
                del ent["vehicle"]["position"]
        else:
            ent = _vehicle(rng, i, trip_id, vid, next(occupancy), next(speed), ts)
            kept.append(len(out))
        out.append(ent)
    # Re-reports: same vehicle and trip (so the same dedup key), a later
    # array position, fresh fields. Inserted back to front so earlier
    # insertion points stay valid.
    n_dup = round(DUPLICATE_SHARE * vehicles)
    dups = []
    for j, src in enumerate(sorted(rng.sample(kept, n_dup))):
        v = out[src]["vehicle"]
        ent = _vehicle(
            rng, vehicles + j, v["trip"]["trip_id"], v["vehicle"]["id"],
            rng.choice(tuple(OCCUPANCY_SHARES)), rng.choice(tuple(SPEED_SHARES)),
            ts + 15,
        )
        dups.append((rng.randrange(src + 1, len(out) + 1), ent))
    for at, ent in sorted(dups, key=lambda d: d[0], reverse=True):
        out.insert(at, ent)
    return out


def envelope(ents: list[dict], index: int = 0) -> str:
    """The raw GTFS-RT envelope string the program parses."""
    header = {
        "gtfs_realtime_version": "2.0",
        "incrementality": "FULL_DATASET",
        "timestamp": str(BASE_TS + 30 * index),
    }
    return json.dumps({"header": header, "entity": ents}, separators=(",", ":"))


# -- lanes tables ----------------------------------------------------------

#: Row counts of the generated tables (sf0.01's part/supplier/nation,
#: a quarter of its lineitem and half its events, 300 documents and
#: 200 embeddings): every lane still shuffles and mines, and a cold and
#: a warm pass over the lanes fit one run.
TABLE_ROWS = {
    "documents": 300,
    "embeddings": 200,
    "lineitem": 15_000,
    "part": 2_000,
    "supplier": 100,
    "nation": 25,
    "events": 5_000,
}
DIM = 64
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
DOC_DUP_SHARE = 0.05
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def tables(seed: int) -> dict:
    """Name → ``pyarrow.Table`` for every table the lanes read."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, 0x1A7E5])
    out = {}

    n = TABLE_ROWS["documents"]
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < DOC_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), size=int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n = TABLE_ROWS["embeddings"]
    vecs = rng.normal(size=(n, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })

    n_nation = TABLE_ROWS["nation"]
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(n_nation), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nation)],
        "n_regionkey": pa.array([i % 5 for i in range(n_nation)], pa.int32()),
    })

    n_supp = TABLE_ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, n_nation, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })

    n_part = TABLE_ROWS["part"]
    adjectives = ("small", "large", "red", "blue", "old", "new", "hot", "cold")
    nouns = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [
            ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")[t]
            for t in rng.integers(0, 6, n_part)
        ],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 / 10, 2),
    })

    n = TABLE_ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    day0 = np.datetime64("1995-01-02", "us")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n)],
        "l_shipdate": day0 + rng.integers(0, 2498, n) * np.timedelta64(1, "D"),
    })

    n = TABLE_ROWS["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    out["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": t0 + offsets.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    return out


def write_tables(seed: int, sf_dir: str) -> None:
    """Write ``tables(seed)`` as ``<sf_dir>/<name>.parquet``, one file
    each, the layout ``etl_wlg_metlink_spark.tables.load`` reads."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
