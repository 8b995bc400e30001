"""M4 — the composed Metlink pipeline: the reference's `control()` loop
(task.ts:147-342) as ONE lazy DataFrame expression tree: explode →
D1-D3 classification → P2-P5 filters → A1 last-wins dedup → D6-D13
Feature structs (exact JS semantics).

Each rule is written once and every consumer calls it: `_drop_reason`
is the P2-P4 filter of both the feature build and the counters,
`_classify` the D1-D3 route, class and key, `vehicle_style` the
per-class CoT type, colour and icon (also the d2/d11 lanes'), and the
remaining D rules are the `functions/scalar.py` helpers.

`build_features` is three DataFrame steps before its Feature select:
classify, filter, and a group-by per cot_id that keeps the first
position and the newest row. Partitioned input (m4's bulk entities)
takes exactly one shuffle, the group-by's. One envelope (`run`) is one
partition, where the dedup and the ordering run with no exchange: with
the source's leaf and parse and the sink's JSON select, a poll is nine
DataFrame steps and one job.

The Column tree is built once per config and JVM (`_projection`); each
call only applies it.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_wlg_metlink_spark.config import MetlinkConfig
from etl_wlg_metlink_spark.functions.scalar import (
    cot_key,
    format_fixed,
    js_falsy_to_nan,
    kv_remarks,
    nullish_default_str,
    occupancy_label,
    split_head,
)

# D11 — constant enrichment (task.ts:17-24, 297)
BUS_ICON_PATH = "ad78aafb-83a6-4c07-b2b9-a897a8b6a38f/Shapes/bus.png"
TRAIN_ICON_PATH = "34ae1613-9645-4222-a9d2-e5f243dea2865/Transportation/Train4.png"
SHIP_ICON_PATH = "34ae1613-9645-4222-a9d2-e5f243dea2865/Transportation/Ship.png"
STALE_MS = 180000

#: D2/D11 — (cot_type, marker_color, icon) per vehicle class
#: (task.ts:17-24, 225-242), in CASE order: Ship, Train, then Bus.
_STYLES = {
    "Ship": ("a-f-S-E-V", "#00FFFF", SHIP_ICON_PATH),
    "Train": ("a-u-G-E-V", "#7F007F", TRAIN_ICON_PATH),
    "Bus": ("a-f-G-E-V-C", "#007F00", BUS_ICON_PATH),
}

TRAIN_PREFIXES = ("HVL", "JVL", "KPL", "MEL", "WRL", "MUL")

#: The P2-P4 drop reasons `_drop_reason` returns, in check order; each
#: is counted as ``dropped_<reason>``.
DROP_REASONS = ("missing_struct", "zero_island", "falsy_trip")


def vehicle_style(vehicle_type: Column) -> tuple[Column, Column, Column]:
    """``vehicle_type``'s (cot_type, marker_color, icon); a class other
    than Ship or Train is styled as a Bus."""
    return tuple(
        F.when(vehicle_type == "Ship", ship)
        .when(vehicle_type == "Train", train)
        .otherwise(bus)
        for ship, train, bus in zip(*_STYLES.values())
    )


def _drop_reason(e: Column) -> Column:
    """The first P2-P4 filter (task.ts:195-212) the entity column ``e``
    fails, as its `DROP_REASONS` name, or NULL if it passes: P2 a
    missing vehicle or position struct, P3 the (0,0) island, P4 a
    JS-falsy trip_id (NULL or ''). A present vehicle with no trip
    (where the reference would crash on `trip.trip_id`) is dropped by
    P4, the tolerant superset."""
    pos = e["vehicle"]["position"]
    trip_id = e["vehicle"]["trip"]["trip_id"]
    # NULL lat/lon is NOT the island (JS `undefined === 0` is false).
    island = F.coalesce(
        (pos["latitude"] == 0) & (pos["longitude"] == 0), F.lit(False)
    )
    return (
        F.when(e["vehicle"].isNull() | pos.isNull(), "missing_struct")
        .when(island, "zero_island")
        .when(trip_id.isNull() | (trip_id == ""), "falsy_trip")
    )


def _classify(e: Column) -> tuple[Column, Column, Column]:
    """The entity column ``e``'s route_id (D1, task.ts:213),
    vehicle_type with precedence Ship > Train > Bus (D2,
    task.ts:225-242) and cot_id key (D3, task.ts:251). A vehicle
    without an id is keyed ``WLG-Metlink<Type>-undefined``, as the
    reference's template literal renders it."""
    trip_id = e["vehicle"]["trip"]["trip_id"]
    route_id = split_head(trip_id, "__")
    is_ship = trip_id.startswith("QDF") | (route_id == "MIF")
    # every train prefix is three characters: startsWith any of them
    is_train = trip_id.substr(1, 3).isin(*TRAIN_PREFIXES)
    vehicle_type = F.when(is_ship, "Ship").when(is_train, "Train").otherwise("Bus")
    return route_id, vehicle_type, cot_key(vehicle_type, _vehicle_label(e))


def _vehicle_label(e: Column) -> Column:
    """The vehicle id as the reference's template literals print it:
    'undefined' when absent (the key, the callsign, the remarks)."""
    return nullish_default_str(e["vehicle"]["vehicle"]["id"], "undefined")


@dataclass(frozen=True)
class _Projection:
    """The Columns `build_features` applies, in the order it applies
    them."""

    classified: tuple[Column, ...]  # idx, entity and the D1-D3 columns
    keep: Column  # P2-P5
    latest: tuple[Column, ...]  # A1: first position and newest row per cot_id
    feature: Column  # D6-D13 of the newest row


@lru_cache(maxsize=16)
def _projection(config: MetlinkConfig, gateway) -> _Projection:
    """``config``'s projection: the Column tree of `build_features`,
    ~2,300 py4j calls to build, built once per config and JVM.
    ``gateway`` (the live py4j gateway) is only part of the cache key:
    Columns are JVM objects, so a restarted JVM builds the tree again."""
    e = F.col("entity")
    route_id, vehicle_type, cot_id = _classify(e)
    classified = (
        F.col("idx"),
        e,
        route_id.alias("route_id"),
        vehicle_type.alias("vehicle_type"),
        cot_id.alias("cot_id"),
    )

    # A1 (task.ts:191, 312) — last-wins dedup: per cot_id, the row of
    # the highest idx (Map.set) at the position of the lowest (Map
    # iteration order). Not dropDuplicates, which keeps an arbitrary
    # row under parallelism.
    latest = (
        F.min("idx").alias("first_idx"),
        *(F.max_by(c, "idx").alias(c) for c in ("entity", "route_id", "vehicle_type")),
    )

    # The Feature reads the newest row's columns, by the same names.
    route_id, vehicle_type = F.col("route_id"), F.col("vehicle_type")
    trip = e["vehicle"]["trip"]
    pos = e["vehicle"]["position"]
    veh_id = e["vehicle"]["vehicle"]["id"]
    veh_label = _vehicle_label(e)
    occ = e["vehicle"]["occupancy_status"]
    cot_type, marker_color, icon = vehicle_style(vehicle_type)

    # D6 (task.ts:254-286) — remarks. Required lines always render (JS
    # stringifies undefined as 'undefined'); Occupancy/Speed lines only
    # when the source field is present. Speed here is the RAW value
    # (0 → '0.0 m/s'); the `|| NaN` quirk applies only to the
    # properties.speed field below.
    remarks = kv_remarks(
        ("Vehicle Type", vehicle_type),
        ("Vehicle ID", veh_label),
        ("Route ID", route_id),
        ("Trip ID", trip["trip_id"]),
        ("Direction", nullish_default_str(trip["direction_id"])),
        ("Start Time", nullish_default_str(trip["start_time"], "undefined")),
        ("Occupancy", F.when(occ.isNotNull(), occupancy_label(occ))),
        ("Speed", format_fixed(pos["speed"], 1, " m/s")),
    )

    ts = F.timestamp_seconds(e["vehicle"]["timestamp"])  # D8 (task.ts:292-293)

    # D13 (task.ts:298-307) — metadata: the raw entity spread + derived.
    metadata = (
        e.withField("vehicleType", vehicle_type)
        .withField("routeId", route_id)
        .withField("directionId", trip["direction_id"])
        .withField("vehicleId", veh_id)
        .withField("occupancy", occupancy_label(occ))
    )

    # D12 (task.ts:289-320) — properties + Feature structs.
    properties = F.struct(
        cot_type.alias("type"),
        F.format_string(
            "Route %s - %s %s", route_id, vehicle_type, veh_label
        ).alias("callsign"),  # D10 (task.ts:291)
        ts.alias("time"),
        ts.alias("start"),
        js_falsy_to_nan(pos["speed"]).alias("speed"),  # D9 (task.ts:294)
        js_falsy_to_nan(pos["bearing"]).alias("course"),  # D9 (task.ts:295)
        marker_color.alias("marker-color"),
        F.lit(STALE_MS).alias("stale"),  # D11 (task.ts:297)
        metadata.alias("metadata"),
        remarks.alias("remarks"),
        icon.alias("icon"),
    )
    feature = F.struct(
        F.col("cot_id").alias("id"),
        F.lit("Feature").alias("type"),
        properties.alias("properties"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(pos["longitude"], pos["latitude"]).alias("coordinates"),
        ).alias("geometry"),
    )

    return _Projection(
        classified=classified,
        # P5 (task.ts:245-249) — config-driven show/hide.
        keep=_drop_reason(e).isNull() & vehicle_type.isin(config.enabled_types()),
        latest=latest,
        feature=feature.alias("feature"),
    )


def _newest(entities: DataFrame, p: _Projection) -> DataFrame:
    """The rows that pass P2-P5, deduped: one (cot_id, first_idx,
    entity, route_id, vehicle_type) row per cot_id, the newest."""
    return (
        entities.select(*p.classified)
        .where(p.keep)
        .groupBy("cot_id")
        .agg(*p.latest)
    )


def build_features(entities: DataFrame, config: MetlinkConfig) -> DataFrame:
    """entity rows (`idx`, `entity`) → deduped Feature rows.

    `idx` is the position in the source `entity[]` array; last-wins
    dedup and output order both follow it, exactly like the
    reference's `Map.set` (task.ts:191, 312: later array entries
    replace earlier ones; iteration order = first-insertion order).
    The dedup's group-by is the one shuffle, unless ``entities`` is
    already in one partition (see `run`). The Feature is built after
    the dedup, once per surviving vehicle.
    """
    p = _projection(config, SparkContext._gateway)
    return _newest(entities, p).select("first_idx", p.feature)


def pipeline_metric_exprs(exact_submitted: bool = True) -> list:
    """Pipeline counter aggregates over the raw entity stage — the
    reference's console counters (task.ts:176 received entity count,
    210-211 P2-P4 skip warnings, 332/340 submitted feature count) as
    ONE conditional-agg pass, from the same `_drop_reason` the feature
    build filters on. Every counter is 0, not NULL, when nothing
    matches.

    Usable two ways: as a batch aggregation (m5_metlink_observe, the
    oracle-checked form) and as ``df.observe()`` metrics riding the
    normal pipeline pass for free (``observe_entities``). ``observe``
    forbids DISTINCT aggregates, so the observed variant approximates
    the submitted count with approx_count_distinct — the idiomatic
    observability tradeoff (exactness belongs to the data path, not
    the metrics channel).
    """
    e = F.col("entity")
    reason = _drop_reason(e)
    survivor_key = F.when(reason.isNull(), _classify(e)[2])
    count_keys = F.count_distinct if exact_submitted else F.approx_count_distinct
    return [
        F.count(F.lit(1)).alias("received"),
        *(F.count_if(reason == r).alias(f"dropped_{r}") for r in DROP_REASONS),
        count_keys(survivor_key).alias("submitted"),
    ]


def observe_entities(entities: DataFrame, observation) -> DataFrame:
    """Attach the pipeline counters as observed metrics on the entity
    stage: zero extra pass — metrics accumulate while the pipeline
    runs and surface through the Observation / QueryProgress channel
    (streaming-safe, unlike a second .agg() job)."""
    return entities.observe(
        observation, *pipeline_metric_exprs(exact_submitted=False)
    )


def run(entities: DataFrame, config: MetlinkConfig | None = None) -> DataFrame:
    """One envelope's entity rows → its Feature rows in Map-iteration
    order (task.ts first-insertion order), ready for the sink: the
    poll, the CLI and each stream micro-batch.

    One envelope is O(10²-10³) rows, so the input is coalesced to one
    partition. One partition already satisfies the dedup's clustering
    and the sort's ordering, so both run inside it with no exchange:
    the whole envelope is one job of one task. The bulk callers of
    `build_features` keep its one shuffle."""
    p = _projection(config or MetlinkConfig(), SparkContext._gateway)
    return _newest(entities.coalesce(1), p).orderBy("first_idx").select(p.feature)
