"""Deterministic GTFS-RT VehiclePositions fixture (FIXTURES.md §2) and
a pure-Python mini-oracle of the reference's control() semantics
(/root/reference/task.ts:147-342).

The fixture covers every pipeline branch: all three classifier arms
(incl. both Ship triggers), the no-separator trip_id, every drop
reason (0,0 island / falsy trip_id / missing vehicle / missing
position), the JS `||`-vs-`??` quirks (speed 0, bearing 0, direction
0), occupancy 0 / out-of-range / absent, and a duplicate vehicle id
for last-wins dedup.

The mini-oracle is deliberately implemented in plain Python, not
Spark, so the golden pytest AND the driver's VALUES oracle check the
DataFrame pipeline against an independent encoding of the semantics.
"""

from __future__ import annotations

import json

TS = 1704067200  # 2024-01-01T00:00:00Z

TRAIN_PREFIXES = ("HVL", "JVL", "KPL", "MEL", "WRL", "MUL")
OCCUPANCY = [
    "Empty", "Many seats available", "Few seats available",
    "Standing room only", "Crushed standing room only", "Full",
    "Not accepting passengers",
]
COTS = {"Ship": "a-f-S-E-V", "Train": "a-u-G-E-V", "Bus": "a-f-G-E-V-C"}
COLORS = {"Ship": "#00FFFF", "Train": "#7F007F", "Bus": "#007F00"}


def _entity(eid, trip_id, lat=-41.3, lon=174.8, bearing=90.0, speed=12.34,
            vehicle_id=None, direction=1, occupancy=None, start_time="07:30:00",
            include_vehicle=True, include_position=True, ts=TS):
    v = {
        "trip": {
            "trip_id": trip_id,
            "route_id": 10,
            "direction_id": direction,
            "start_time": start_time,
            "start_date": "20240101",
            "schedule_relationship": 0,
        },
        "timestamp": ts,
        "vehicle": {"id": vehicle_id or f"V{eid}"},
    }
    if include_position:
        v["position"] = {"latitude": lat, "longitude": lon, "bearing": bearing}
        if speed is not None:
            v["position"]["speed"] = speed
    if occupancy is not None:
        v["occupancy_status"] = occupancy
    ent = {"id": f"E{eid}"}
    if include_vehicle:
        ent["vehicle"] = v
    return ent


FIXTURE_ENTITIES = [
    _entity(0, "QDF__FERRY1"),                      # Ship (QDF prefix)
    _entity(1, "MIF__X", occupancy=0),              # Ship (MIF route), occ 0
    _entity(2, "HVL__T1", speed=0.0, bearing=0.0),  # Train; 0s → NaN quirk
    _entity(3, "KPL__T2", direction=0, occupancy=7),  # Train; dir 0; occ OOR
    _entity(4, "220__B1", speed=None),              # Bus; no speed
    _entity(5, "AX__B2", occupancy=6),              # Bus (Airport Express)
    _entity(6, "NOSEP", vehicle_id="B3"),           # Bus; no '__' separator
    _entity(7, "220__B1X", lat=0.0, lon=0.0),       # dropped: (0,0)
    _entity(8, "", vehicle_id="B4"),                # dropped: empty trip_id
    _entity(9, None, vehicle_id="B5"),              # dropped: null trip_id
    _entity(10, "220__B6", include_vehicle=False),  # dropped: no vehicle
    _entity(11, "220__B7", include_position=False),  # dropped: no position
    _entity(12, "HVL__T1", vehicle_id="V2", speed=3.5, ts=TS + 60),  # dup → last wins
]

RAW_JSON = json.dumps(
    {"header": {"gtfs_realtime_version": "2.0"}, "entity": FIXTURE_ENTITIES}
)


def js_tofixed(x: float, digits: int = 1) -> str:
    """JS Number.toFixed semantics (ES §Number.prototype.toFixed): pick
    the closest n/10^digits to the EXACT binary value of x; on a tie
    pick the larger n. That is decimal HALF_UP over the full binary
    expansion. Python's format() rounds exact ties half-even (27.25 →
    '27.2', not '27.3'), and Java's %.1f rounds the shortest decimal
    string instead of the binary value (15.45, binary 15.4499…, →
    '15.5', not '15.4'); neither matches."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return str(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


def _iso(ts: int) -> str:
    from datetime import datetime, timezone

    return (
        datetime.fromtimestamp(ts, tz=timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.000Z")
    )


def _strip_none(obj):
    if isinstance(obj, dict):
        return {k: _strip_none(v) for k, v in obj.items() if v is not None}
    if isinstance(obj, list):
        return [_strip_none(x) for x in obj]
    return obj


def oracle_features(entities=None, enabled=("Bus", "Train", "Ship")):
    """task.ts:191-338 re-encoded in plain Python (the golden truth)."""
    from etl_wlg_metlink_spark.pipelines import metlink

    icons = {
        "Ship": metlink.SHIP_ICON_PATH,
        "Train": metlink.TRAIN_ICON_PATH,
        "Bus": metlink.BUS_ICON_PATH,
    }
    ids = {}
    for ent in entities if entities is not None else FIXTURE_ENTITIES:
        v = ent.get("vehicle")
        if not v or not v.get("position"):
            continue
        p, t = v["position"], v["trip"]
        if p["latitude"] == 0 and p["longitude"] == 0:
            continue
        if not t.get("trip_id"):
            continue
        trip_id = t["trip_id"]
        route_id = trip_id.split("__")[0]
        if trip_id.startswith("QDF") or route_id == "MIF":
            vtype = "Ship"
        elif any(trip_id.startswith(x) for x in TRAIN_PREFIXES):
            vtype = "Train"
        else:
            vtype = "Bus"
        if vtype not in enabled:
            continue
        vid = (v.get("vehicle") or {}).get("id")
        label = "undefined" if vid is None else vid  # JS `${undefined}`
        cot_id = f"WLG-Metlink{vtype}-{label}"
        remarks = [
            f"Vehicle Type: {vtype}",
            f"Vehicle ID: {label}",
            f"Route ID: {route_id}",
            f"Trip ID: {trip_id}",
            "Direction: "
            + (str(t["direction_id"]) if t.get("direction_id") is not None else "Unknown"),
            f"Start Time: {t['start_time']}",
        ]
        occ = v.get("occupancy_status")
        occ_label = (
            (OCCUPANCY[occ] if 0 <= occ < len(OCCUPANCY) else "Unknown")
            if occ is not None
            else None
        )
        if occ_label is not None:
            remarks.append(f"Occupancy: {occ_label}")
        speed = p.get("speed")
        if speed is not None:
            remarks.append(f"Speed: {js_tofixed(speed)} m/s")
        iso = _iso(v["timestamp"])
        props = {
            "type": COTS[vtype],
            "callsign": f"Route {route_id} - {vtype} {label}",
            "time": iso,
            "start": iso,
            "speed": (speed if speed else None),  # JS ||: 0 → NaN → null
            "course": (p["bearing"] if p["bearing"] else None),
            "marker-color": COLORS[vtype],
            "stale": 180000,
            "metadata": {
                **ent,
                "vehicleType": vtype,
                "routeId": route_id,
                "directionId": t.get("direction_id"),
                "vehicleId": vid,
                "occupancy": occ_label if occ_label is not None else "Unknown",
            },
            "remarks": "\n".join(remarks),
            "icon": icons[vtype],
        }
        ids[cot_id] = {
            "id": cot_id,
            "type": "Feature",
            "properties": props,
            "geometry": {
                "type": "Point",
                "coordinates": [p["longitude"], p["latitude"]],
            },
        }
    return [_strip_none(f) for f in ids.values()]
