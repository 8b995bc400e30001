"""Benchmark self-tests: generator determinism and branch shares, the
feature comparator, and BENCHMARK.json against the metrics run.py
reports. No Spark session is started.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from etl_wlg_metlink_spark.pipelines.gtfs_fixture import oracle_features  # noqa: E402
from perfbench import gen, run  # noqa: E402
from perfbench.check import FeatureTally, java_fixed  # noqa: E402


def _kind(ent: dict) -> str:
    """Classify an entity the way the pipeline does, independently of
    the generator's own bookkeeping."""
    v = ent.get("vehicle")
    if v is None:
        return "drop_no_vehicle"
    if "position" not in v:
        return "drop_no_position"
    p, trip_id = v["position"], v["trip"]["trip_id"]
    if p["latitude"] == 0 and p["longitude"] == 0:
        return "drop_zero_island"
    if trip_id is None:
        return "drop_null_trip"
    if trip_id == "":
        return "drop_empty_trip"
    if trip_id.startswith("QDF"):
        return "ship_qdf"
    if trip_id.split("__")[0] == "MIF":
        return "ship_mif"
    if trip_id.startswith(gen.TRAIN_PREFIXES):
        return "train"
    return "bus" if "__" in trip_id else "bus_no_separator"


def _split(ents):
    """Base entities and re-reports (a vehicle id seen earlier)."""
    seen, base, dups = set(), [], []
    for e in ents:
        vid = e.get("vehicle", {}).get("vehicle", {}).get("id")
        (dups if vid is not None and vid in seen else base).append(e)
        seen.add(vid)
    return base, dups


def test_same_seed_gives_identical_envelopes():
    for index in (0, 7):
        a = gen.envelope(gen.entities(42, index), index)
        b = gen.envelope(gen.entities(42, index), index)
        assert a.encode() == b.encode()
    assert gen.envelope(gen.entities(42, 0)) != gen.envelope(gen.entities(43, 0))
    assert gen.entities(42, 0) != gen.entities(42, 1)


def test_same_seed_gives_identical_tables():
    a, b = gen.tables(5), gen.tables(5)
    assert all(a[name].equals(b[name]) for name in a)
    assert not a["documents"].equals(gen.tables(6)["documents"])


def test_each_branch_appears_at_its_share():
    ents = gen.entities(3, 0)
    base, dups = _split(ents)
    assert len(base) == gen.VEHICLES
    assert len(dups) == round(gen.DUPLICATE_SHARE * gen.VEHICLES)

    kinds = {}
    for e in base:
        kinds[_kind(e)] = kinds.get(_kind(e), 0) + 1
    assert kinds == gen.allocate(gen.ENTITY_SHARES, gen.VEHICLES)

    kept = [e["vehicle"] for e in base if not _kind(e).startswith("drop_")]
    occupancy = {"absent": 0, "in_range": 0, "out_of_range": 0}
    speed = {"absent": 0, "zero": 0, "two_decimals": 0}
    for v in kept:
        occ = v.get("occupancy_status")
        occupancy["absent" if occ is None else "in_range" if occ < 7 else "out_of_range"] += 1
        s = v["position"].get("speed")
        speed["absent" if s is None else "zero" if s == 0 else "two_decimals"] += 1
        if s:
            assert round(s, 2) == s
    assert occupancy == gen.allocate(gen.OCCUPANCY_SHARES, len(kept))
    assert speed == gen.allocate(gen.SPEED_SHARES, len(kept))
    # Unrounded: some speeds need the second decimal.
    assert any(round(v["position"].get("speed") or 0, 1) != v["position"].get("speed", 0)
               for v in kept)


def test_duplicates_resolve_last_wins():
    ents = gen.entities(9, 0)
    _, dups = _split(ents)
    features = {f["id"]: f for f in oracle_features(ents)}
    for d in dups:
        v = d["vehicle"]
        if v["trip"]["trip_id"].startswith("QDF") or v["trip"]["trip_id"].startswith("MIF"):
            vtype = "Ship"
        elif v["trip"]["trip_id"].startswith(gen.TRAIN_PREFIXES):
            vtype = "Train"
        else:
            vtype = "Bus"
        f = features[f"WLG-Metlink{vtype}-{v['vehicle']['id']}"]
        assert f["geometry"]["coordinates"] == [v["position"]["longitude"],
                                                v["position"]["latitude"]]


def test_comparator_flags_a_single_field_change():
    ents = gen.entities(1, 0)
    expected = oracle_features(ents)
    fc = {"type": "FeatureCollection", "features": copy.deepcopy(expected)}
    tally = FeatureTally()
    tally.add(fc, ents)
    assert (tally.wrong, tally.unexplained, tally.match_share()) == (0, 0, 1.0)

    fc["features"][17]["properties"]["metadata"]["vehicle"]["trip"]["start_time"] = "x"
    tally = FeatureTally()
    tally.add(fc, ents)
    assert (tally.wrong, tally.unexplained) == (1, 1)
    assert "metadata.vehicle.trip.start_time" in tally.first_diff
    assert tally.match_share() == 1 - 1 / len(expected)


def test_comparator_names_the_speed_rounding_divergence():
    ents = gen.entities(1, 0)
    expected = oracle_features(ents)
    i, f = next((i, f) for i, f in enumerate(expected)
                if "Speed:" in f["properties"]["remarks"])
    speed = 15.45  # binary 15.4499…: JS toFixed "15.4", Java %.1f "15.5"
    assert java_fixed(speed) == "15.5"
    ents = copy.deepcopy(ents)
    ent = next(e for e in ents if e.get("id") == f["properties"]["metadata"]["id"])
    ent["vehicle"]["position"]["speed"] = speed
    expected = oracle_features(ents)
    got = copy.deepcopy(expected)
    remarks = got[i]["properties"]["remarks"]
    got[i]["properties"]["remarks"] = remarks.replace("Speed: 15.4 m/s", "Speed: 15.5 m/s")
    assert got[i] != expected[i]
    tally = FeatureTally()
    tally.add({"features": got}, ents)
    assert (tally.wrong, tally.unexplained) == (1, 0)


def test_benchmark_json_lists_what_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == ["poll", "schedule", "lanes"]
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == (
        run.END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run._per_layer()
