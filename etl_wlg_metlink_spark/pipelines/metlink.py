"""M4 — the composed Metlink pipeline: the reference's `control()` loop
(/root/reference/task.ts:147-342) as ONE lazy DataFrame expression
tree: explode → P2-P4 filters → D1-D13 derivations (exact JS
semantics) → P5 config filter → A1 last-wins dedup → Feature structs.

Catalyst fuses the whole thing into a single whole-stage-codegen'd
pass over the input (the reference's hand-ordered early-exit loop,
recovered automatically), with exactly one shuffle: the dedup window.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_wlg_metlink_spark.config import MetlinkConfig
from etl_wlg_metlink_spark.functions.scalar import (
    cot_key,
    format_fixed,
    js_falsy_to_nan,
    occupancy_label,
    split_head,
)

# D11 — constant enrichment (task.ts:17-24, 297)
BUS_ICON_PATH = "ad78aafb-83a6-4c07-b2b9-a897a8b6a38f/Shapes/bus.png"
TRAIN_ICON_PATH = "34ae1613-9645-4222-a9d2-e5f243dea2865/Transportation/Train4.png"
SHIP_ICON_PATH = "34ae1613-9645-4222-a9d2-e5f243dea2865/Transportation/Ship.png"
STALE_MS = 180000

TRAIN_PREFIXES = ("HVL", "JVL", "KPL", "MEL", "WRL", "MUL")


def _classify(e: Column) -> tuple[Column, Column, Column, Column, Column]:
    """The entity column ``e``'s route_id (D1, task.ts:213), Ship /
    Train flags, vehicle_type with precedence Ship > Train > Bus (D2,
    task.ts:225-242) and cot_id key (D3, task.ts:251) — derived here
    once for both the feature build and the pipeline counters."""
    trip_id = e["vehicle"]["trip"]["trip_id"]
    route_id = split_head(trip_id, "__")
    is_ship = trip_id.startswith("QDF") | (route_id == "MIF")
    is_train = reduce(
        lambda a, b: a | b, (trip_id.startswith(p) for p in TRAIN_PREFIXES)
    )
    vehicle_type = F.when(is_ship, "Ship").when(is_train, "Train").otherwise("Bus")
    cot_id = cot_key(vehicle_type, e["vehicle"]["vehicle"]["id"])
    return route_id, is_ship, is_train, vehicle_type, cot_id


def build_features(entities: DataFrame, config: MetlinkConfig) -> DataFrame:
    """entity rows (`idx`, `entity`) → deduped Feature rows.

    `idx` is the position in the source `entity[]` array; last-wins
    dedup and output order both follow it, exactly like the
    reference's `Map.set` (task.ts:191, 312: later array entries
    replace earlier ones; iteration order = first-insertion order).
    """
    e = F.col("entity")
    trip = e["vehicle"]["trip"]
    pos = e["vehicle"]["position"]

    # P2 (task.ts:195) — tolerate-and-drop missing structs. The
    # reference would actually crash on a present-vehicle/missing-trip
    # record (`trip.trip_id` on undefined); we drop it, the tolerant
    # superset.
    df = entities.where(
        e["vehicle"].isNotNull() & e["vehicle"]["position"].isNotNull()
    )
    # P3 (task.ts:204-206) — (0,0) island filter, both-zero only.
    df = df.where(~((pos["latitude"] == 0) & (pos["longitude"] == 0)))
    # P4 (task.ts:209-212) — JS-falsy trip_id: NULL or ''.
    df = df.where(trip["trip_id"].isNotNull() & (trip["trip_id"] != ""))

    route_id, is_ship, is_train, vehicle_type, cot_id = _classify(e)
    icon = (
        F.when(is_ship, SHIP_ICON_PATH)
        .when(is_train, TRAIN_ICON_PATH)
        .otherwise(BUS_ICON_PATH)
    )
    cot_type = (
        F.when(is_ship, "a-f-S-E-V")
        .when(is_train, "a-u-G-E-V")
        .otherwise("a-f-G-E-V-C")
    )
    marker_color = (
        F.when(is_ship, "#00FFFF").when(is_train, "#7F007F").otherwise("#007F00")
    )

    df = df.select(
        "idx",
        e.alias("entity"),
        route_id.alias("route_id"),
        vehicle_type.alias("vehicle_type"),
        cot_id.alias("cot_id"),
        icon.alias("icon"),
        cot_type.alias("cot_type"),
        marker_color.alias("marker_color"),
    )

    # P5 (task.ts:245-249) — config-driven show/hide.
    df = df.where(F.col("vehicle_type").isin(config.enabled_types()))

    e = F.col("entity")
    trip = e["vehicle"]["trip"]
    pos = e["vehicle"]["position"]
    veh_id = e["vehicle"]["vehicle"]["id"]
    occ = e["vehicle"]["occupancy_status"]

    cot_id = F.col("cot_id")

    # D6 (task.ts:254-286) — remarks. Required lines always render (JS
    # stringifies undefined as 'undefined'); Occupancy/Speed lines only
    # when the source field is present. Speed here is the RAW value
    # (0 → '0.0 m/s'); the `|| NaN` quirk applies only to the
    # properties.speed field below.
    js_str = lambda c: F.coalesce(c.cast("string"), F.lit("undefined"))  # noqa: E731
    remark_lines = [
        F.concat(F.lit("Vehicle Type: "), F.col("vehicle_type")),
        F.concat(F.lit("Vehicle ID: "), js_str(veh_id)),
        F.concat(F.lit("Route ID: "), F.col("route_id")),
        F.concat(F.lit("Trip ID: "), trip["trip_id"]),
        F.concat(
            F.lit("Direction: "),
            F.coalesce(trip["direction_id"].cast("string"), F.lit("Unknown")),
        ),
        F.concat(F.lit("Start Time: "), js_str(trip["start_time"])),
        F.when(
            occ.isNotNull(),
            F.concat(F.lit("Occupancy: "), occupancy_label(occ)),
        ),
        F.when(
            pos["speed"].isNotNull(),
            F.concat(F.lit("Speed: "), format_fixed(pos["speed"], 1, " m/s")),
        ),
    ]
    remarks = F.concat_ws("\n", *remark_lines)

    ts = F.timestamp_seconds(e["vehicle"]["timestamp"])  # D8 (task.ts:292-293)

    # D13 (task.ts:298-307) — metadata: the raw entity spread + derived.
    metadata = (
        e.withField("vehicleType", F.col("vehicle_type"))
        .withField("routeId", F.col("route_id"))
        .withField("directionId", trip["direction_id"])
        .withField("vehicleId", veh_id)
        .withField(
            "occupancy",
            F.when(occ.isNotNull(), occupancy_label(occ)).otherwise("Unknown"),
        )
    )

    # D12 (task.ts:289-320) — properties + Feature structs.
    properties = F.struct(
        F.col("cot_type").alias("type"),
        F.format_string(
            "Route %s - %s %s", F.col("route_id"), F.col("vehicle_type"), veh_id
        ).alias("callsign"),  # D10 (task.ts:291)
        ts.alias("time"),
        ts.alias("start"),
        js_falsy_to_nan(pos["speed"]).alias("speed"),  # D9 (task.ts:294)
        js_falsy_to_nan(pos["bearing"]).alias("course"),  # D9 (task.ts:295)
        F.col("marker_color").alias("marker-color"),
        F.lit(STALE_MS).alias("stale"),  # D11 (task.ts:297)
        metadata.alias("metadata"),
        remarks.alias("remarks"),
        F.col("icon").alias("icon"),
    )
    feature = F.struct(
        cot_id.alias("id"),
        F.lit("Feature").alias("type"),
        properties.alias("properties"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(pos["longitude"], pos["latitude"]).alias("coordinates"),
        ).alias("geometry"),
    )

    staged = df.select("idx", cot_id, feature.alias("feature"))

    # A1 (task.ts:191, 312) — last-wins dedup, ordered window (NOT
    # dropDuplicates: nondeterministic under parallelism). One shuffle.
    w = Window.partitionBy("cot_id").orderBy(F.col("idx").desc())
    wf = Window.partitionBy("cot_id")
    return (
        staged.withColumn("rn", F.row_number().over(w))
        .withColumn("first_idx", F.min("idx").over(wf))
        .where(F.col("rn") == 1)
        .select("first_idx", "feature")
    )


def pipeline_metric_exprs(exact_submitted: bool = True) -> list:
    """Pipeline counter aggregates over the raw entity stage — the
    reference's console counters (task.ts:176 received entity count,
    210-211 P2-P4 skip warnings, 332/340 submitted feature count) as
    ONE conditional-agg pass.

    Usable two ways: as a batch aggregation (m5_metlink_observe, the
    oracle-checked form) and as ``df.observe()`` metrics riding the
    normal pipeline pass for free (``observe_entities``). ``observe``
    forbids DISTINCT aggregates, so the observed variant approximates
    the submitted count with approx_count_distinct — the idiomatic
    observability tradeoff (exactness belongs to the data path, not
    the metrics channel).
    """
    e = F.col("entity")
    trip = e["vehicle"]["trip"]
    pos = e["vehicle"]["position"]
    has_structs = e["vehicle"].isNotNull() & pos.isNotNull()
    # NULL lat/lon is NOT the island (JS `undefined === 0` is false).
    zero_island = F.coalesce(
        (pos["latitude"] == 0) & (pos["longitude"] == 0), F.lit(False)
    )
    falsy_trip = trip["trip_id"].isNull() | (trip["trip_id"] == "")
    p2_drop = ~has_structs
    p3_drop = has_structs & zero_island
    p4_drop = has_structs & ~zero_island & falsy_trip
    survives = has_structs & ~zero_island & ~falsy_trip

    *_, cot_id = _classify(e)
    survivor_key = F.when(survives, cot_id)
    submitted = (
        F.count_distinct(survivor_key)
        if exact_submitted
        else F.approx_count_distinct(survivor_key)
    )
    return [
        F.count(F.lit(1)).alias("received"),
        F.sum(p2_drop.cast("long")).alias("dropped_missing_struct"),
        F.sum(p3_drop.cast("long")).alias("dropped_zero_island"),
        F.sum(p4_drop.cast("long")).alias("dropped_falsy_trip"),
        submitted.alias("submitted"),
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
    """Entity rows → Feature rows in Map-iteration order (task.ts
    first-insertion order), ready for the sink."""
    cfg = config or MetlinkConfig()
    return build_features(entities, cfg).orderBy("first_idx").select("feature")
