"""Driver-contract queries for the composed Metlink pipeline (M4).

The fixture is deterministic (pipelines/gtfs_fixture.py) and the
oracle side is a VALUES table rendered from the pure-Python
mini-oracle — so the driver's gate compares the whole composed
DataFrame pipeline (source validation → filters → derivations →
dedup → feature assembly) against an independent re-encoding of
/root/reference/task.ts:147-342, not against Spark itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_wlg_metlink_spark.config import MetlinkConfig
from etl_wlg_metlink_spark.pipelines import metlink
from etl_wlg_metlink_spark.pipelines.gtfs_fixture import (
    RAW_JSON,
    oracle_features,
)
from etl_wlg_metlink_spark.sources import gtfs

_COLS = (
    "ord", "fid", "callsign", "time_utc", "speed", "course",
    "marker_color", "stale", "remarks", "icon", "lon", "lat",
)


def _nan_null(c):
    """NaN → NULL at the compare/JSON boundary (JSON has no NaN)."""
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


def _flatten(features: DataFrame) -> DataFrame:
    f = F.col("feature")
    p = f["properties"]
    # FIXTURE-ONLY single-partition global rank. `ord` must be a
    # globally consecutive insertion sequence (the reference's Map
    # iteration order, task.ts:323-338), which is inherently a global
    # window — salting would renumber per salt. Acceptable ONLY because
    # m1-m3 flatten the bounded fixture envelope (tens of rows, one
    # snapshot) for the oracle compare; the at-scale composed pipeline
    # (m4) never ranks globally. A constant partitionBy key doesn't
    # silence the WindowExec warning either — Catalyst folds foldable
    # partition keys away — so the single-partition plan is declared
    # here instead of disguised.
    w = Window.orderBy("first_idx")

    return features.select(
        F.row_number().over(w).cast("long").alias("ord"),
        f["id"].alias("fid"),
        p["callsign"].alias("callsign"),
        F.date_format(p["time"], "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("time_utc"),
        _nan_null(p["speed"]).alias("speed"),
        _nan_null(p["course"]).alias("course"),
        p["marker-color"].alias("marker_color"),
        p["stale"].cast("long").alias("stale"),
        p["remarks"].alias("remarks"),
        p["icon"].alias("icon"),
        f["geometry"]["coordinates"].getItem(0).alias("lon"),
        f["geometry"]["coordinates"].getItem(1).alias("lat"),
    )


def m1_metlink_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full composed pipeline on the branch-covering fixture."""
    entities = gtfs.entities_from_json(spark, RAW_JSON)
    return _flatten(metlink.build_features(entities, MetlinkConfig()))


def m2_metlink_config_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 through the composed pipeline: buses hidden by config."""
    entities = gtfs.entities_from_json(spark, RAW_JSON)
    cfg = MetlinkConfig(show_buses=False)
    return _flatten(metlink.build_features(entities, cfg))


def m3_metlink_empty_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 error→empty path: a failing fetch yields zero features but a
    stable schema."""
    def failing_fetch(url, headers):
        raise OSError("network down")

    entities = gtfs.fetch_entities(spark, "key", fetch_json=failing_fetch)
    return _flatten(metlink.build_features(entities, MetlinkConfig()))


def _synthetic_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive GTFS-RT-shaped entities from the events table so the
    composed pipeline can be oracle-checked at DATA scale (10k-100k
    entities), not just on the 13-row fixture. Every branch is
    exercised: all classifier arms, the (0,0) island, null trip_ids,
    absent speed/occupancy, the 0-speed/0-bearing NaN quirks, and
    heavy vehicle-id duplication (user_id % 50 → deep last-wins
    dedup chains ordered by event_id)."""
    from etl_wlg_metlink_spark.tables import load_spread

    events = load_spread(spark, sf_dir, "events")
    eid = F.col("event_id")
    et = F.col("event_type")
    trip_id = (
        F.when(et == "error", F.lit(None).cast("string"))
        .when(et == "purchase", F.concat(F.lit("QDF__"), eid))
        .when(et == "signup", F.concat(F.lit("MIF__"), eid))
        .when(et == "view", F.concat(F.lit("HVL__"), eid))
        .otherwise(F.concat(F.lit("220__"), eid))
    )
    zero_island = eid % 97 == 0
    lat = F.when(zero_island, 0.0).otherwise(-41.3)
    lon = F.when(zero_island, 0.0).otherwise(174.8)
    bearing = (eid % 360).cast("double")
    # speed pre-rounded to ONE decimal: exact-tenth doubles format
    # identically under toFixed HALF_UP and C half-even (see d5)
    speed = (
        F.when(eid % 11 == 0, F.lit(None).cast("double"))
        .when(eid % 7 == 0, F.lit(0.0))
        .otherwise(F.round(F.col("value"), 1))
    )
    occupancy = (
        F.when(eid % 5 == 0, F.lit(None).cast("long")).otherwise(
            (eid % 9).cast("long")
        )
    )
    entity = F.struct(
        F.concat(F.lit("E"), eid).alias("id"),
        F.struct(
            F.struct(
                trip_id.alias("trip_id"),
                (eid % 100).cast("long").alias("route_id"),
                (F.col("user_id") % 2).cast("long").alias("direction_id"),
                F.lit("07:30:00").alias("start_time"),
                F.lit("20240101").alias("start_date"),
                F.lit(0).cast("long").alias("schedule_relationship"),
            ).alias("trip"),
            F.struct(
                lat.alias("latitude"),
                lon.alias("longitude"),
                bearing.alias("bearing"),
                speed.alias("speed"),
            ).alias("position"),
            F.unix_timestamp(F.col("ts")).alias("timestamp"),
            F.struct(
                F.concat(F.lit("V"), (F.col("user_id") % 50)).alias("id")
            ).alias("vehicle"),
            occupancy.alias("occupancy_status"),
            F.lit(None).cast("long").alias("current_stop_sequence"),
            F.lit(None).cast("string").alias("stop_id"),
            F.lit(None).cast("long").alias("current_status"),
        ).alias("vehicle"),
    )
    return events.select(eid.cast("long").alias("idx"), entity.alias("entity"))


def m4_metlink_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline over sf-scaled synthetic entities — the
    driver gate checks classification, filters, quirks, remarks
    assembly and last-wins dedup at 10k+ rows against a full SQL
    re-encoding of the semantics."""
    entities = _synthetic_entities(spark, sf_dir)
    features = metlink.build_features(entities, MetlinkConfig())
    f = F.col("feature")
    p = f["properties"]

    return features.select(
        f["id"].alias("fid"),
        p["callsign"].alias("callsign"),
        F.date_format(p["time"], "yyyy-MM-dd HH:mm:ss").alias("time_utc"),
        _nan_null(p["speed"]).alias("speed"),
        _nan_null(p["course"]).alias("course"),
        p["marker-color"].alias("marker_color"),
        p["remarks"].alias("remarks"),
        f["geometry"]["coordinates"].getItem(0).alias("lon"),
        f["geometry"]["coordinates"].getItem(1).alias("lat"),
    )


def m5_metlink_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 pipeline observability (task.ts:176 received count, 210-211
    P2-P4 skip warnings, 332/340 submitted count): the composed
    pipeline's counters over the sf-scaled synthetic entities —
    received / dropped-by-each-filter / submitted (distinct feature
    ids) in ONE conditional-agg pass. The same expressions ride the
    real pipeline for free as ``df.observe()`` metrics
    (pipelines.metlink.observe_entities; parity-tested in
    tests/test_metlink_pipeline.py)."""
    from etl_wlg_metlink_spark.pipelines.metlink import pipeline_metric_exprs

    entities = _synthetic_entities(spark, sf_dir)
    return entities.agg(*pipeline_metric_exprs(exact_submitted=True))


_M5_ORACLE = """
    WITH base AS (
      SELECT event_id,
             CASE event_type
               WHEN 'error' THEN NULL
               WHEN 'purchase' THEN 'QDF__' || event_id
               WHEN 'signup' THEN 'MIF__' || event_id
               WHEN 'view' THEN 'HVL__' || event_id
               ELSE '220__' || event_id END AS trip_id,
             (event_id % 97 = 0) AS zero_island,
             'V' || (user_id % 50) AS vid
      FROM events
    ),
    c AS (
      SELECT *,
             CASE
               WHEN trip_id IS NULL OR trip_id = '' THEN NULL
               WHEN starts_with(trip_id, 'QDF')
                    OR string_split(trip_id, '__')[1] = 'MIF' THEN 'Ship'
               WHEN starts_with(trip_id, 'HVL') OR starts_with(trip_id, 'JVL')
                    OR starts_with(trip_id, 'KPL') OR starts_with(trip_id, 'MEL')
                    OR starts_with(trip_id, 'WRL') OR starts_with(trip_id, 'MUL')
                 THEN 'Train'
               ELSE 'Bus' END AS vtype
      FROM base
    )
    SELECT COUNT(*) AS received,
           -- the synthetic generator always emits vehicle+position
           CAST(0 AS BIGINT) AS dropped_missing_struct,
           CAST(SUM(CASE WHEN zero_island THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_zero_island,
           CAST(SUM(CASE WHEN NOT zero_island
                          AND (trip_id IS NULL OR trip_id = '')
                    THEN 1 ELSE 0 END) AS BIGINT) AS dropped_falsy_trip,
           COUNT(DISTINCT CASE WHEN NOT zero_island
                                AND trip_id IS NOT NULL AND trip_id <> ''
                               THEN 'WLG-Metlink' || vtype || '-' || vid END)
             AS submitted
    FROM c
"""


_OCC_LABELS = (
    "Empty", "Many seats available", "Few seats available",
    "Standing room only", "Crushed standing room only", "Full",
    "Not accepting passengers",
)
_OCC_CASE = " ".join(
    f"WHEN {i} THEN '{label}'" for i, label in enumerate(_OCC_LABELS)
)

_M4_ORACLE = f"""
    WITH base AS (
      SELECT event_id AS idx,
             CASE event_type
               WHEN 'error' THEN NULL
               WHEN 'purchase' THEN 'QDF__' || event_id
               WHEN 'signup' THEN 'MIF__' || event_id
               WHEN 'view' THEN 'HVL__' || event_id
               ELSE '220__' || event_id END AS trip_id,
             CASE WHEN event_id % 97 = 0 THEN 0.0 ELSE -41.3 END::DOUBLE AS lat,
             CASE WHEN event_id % 97 = 0 THEN 0.0 ELSE 174.8 END::DOUBLE AS lon,
             (event_id % 360)::DOUBLE AS bearing,
             CASE WHEN event_id % 11 = 0 THEN NULL
                  WHEN event_id % 7 = 0 THEN 0.0
                  ELSE ROUND(value, 1) END AS speed,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  ELSE event_id % 9 END AS occ,
             user_id % 2 AS direction,
             'V' || (user_id % 50) AS vid,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
      FROM events
    ),
    filtered AS (
      SELECT * FROM base
      WHERE NOT (lat = 0 AND lon = 0)
        AND trip_id IS NOT NULL AND trip_id <> ''
    ),
    classified AS (
      SELECT *,
             string_split(trip_id, '__')[1] AS route_head,
             CASE
               WHEN starts_with(trip_id, 'QDF')
                    OR string_split(trip_id, '__')[1] = 'MIF' THEN 'Ship'
               WHEN starts_with(trip_id, 'HVL') OR starts_with(trip_id, 'JVL')
                    OR starts_with(trip_id, 'KPL') OR starts_with(trip_id, 'MEL')
                    OR starts_with(trip_id, 'WRL') OR starts_with(trip_id, 'MUL')
                 THEN 'Train'
               ELSE 'Bus' END AS vtype
      FROM filtered
    ),
    deduped AS (
      SELECT *, 'WLG-Metlink' || vtype || '-' || vid AS fid,
             ROW_NUMBER() OVER (
               PARTITION BY 'WLG-Metlink' || vtype || '-' || vid
               ORDER BY idx DESC) AS rn
      FROM classified
    )
    SELECT fid,
           printf('Route %s - %s %s', route_head, vtype, vid) AS callsign,
           strftime(make_timestamp(ts_epoch * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS time_utc,
           CASE WHEN speed IS NULL OR speed = 0 THEN NULL ELSE speed END
             AS speed,
           CASE WHEN bearing = 0 THEN NULL ELSE bearing END AS course,
           CASE vtype WHEN 'Ship' THEN '#00FFFF'
                WHEN 'Train' THEN '#7F007F' ELSE '#007F00' END AS marker_color,
           concat_ws(chr(10),
             'Vehicle Type: ' || vtype,
             'Vehicle ID: ' || vid,
             'Route ID: ' || route_head,
             'Trip ID: ' || trip_id,
             'Direction: ' || direction,
             'Start Time: 07:30:00',
             CASE WHEN occ IS NOT NULL THEN
               'Occupancy: ' || (CASE occ {_OCC_CASE} ELSE 'Unknown' END)
             END,
             CASE WHEN speed IS NOT NULL THEN
               'Speed: ' || printf('%.1f m/s', speed)
             END
           ) AS remarks,
           lon, lat
    FROM deduped WHERE rn = 1
"""


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _values_oracle(enabled=("Bus", "Train", "Ship")) -> str:
    feats = oracle_features(enabled=enabled)
    rows = []
    for i, f in enumerate(feats, start=1):
        p = f["properties"]
        rows.append(
            "("
            + ", ".join(
                _sql_lit(v)
                for v in (
                    i, f["id"], p["callsign"], p["time"], p.get("speed"),
                    p.get("course"), p["marker-color"], p["stale"],
                    p["remarks"], p["icon"],
                    f["geometry"]["coordinates"][0],
                    f["geometry"]["coordinates"][1],
                )
            )
            + ")"
        )
    cols = ", ".join(_COLS)
    # explicit casts: VALUES would otherwise infer DECIMAL for float
    # literals (3.5 → '3.50') and hash-mismatch Spark's doubles
    select = (
        "SELECT ord, fid, callsign, time_utc, speed::DOUBLE AS speed,"
        " course::DOUBLE AS course, marker_color, stale, remarks, icon,"
        " lon::DOUBLE AS lon, lat::DOUBLE AS lat"
    )
    return f"{select} FROM (VALUES\n" + ",\n".join(rows) + f"\n) AS t({cols})"


_EMPTY_ORACLE = (
    "SELECT NULL::BIGINT AS ord, NULL::VARCHAR AS fid,"
    " NULL::VARCHAR AS callsign, NULL::VARCHAR AS time_utc,"
    " NULL::DOUBLE AS speed, NULL::DOUBLE AS course,"
    " NULL::VARCHAR AS marker_color, NULL::BIGINT AS stale,"
    " NULL::VARCHAR AS remarks, NULL::VARCHAR AS icon,"
    " NULL::DOUBLE AS lon, NULL::DOUBLE AS lat WHERE FALSE"
)

QUERIES = {
    "m1_metlink_pipeline": m1_metlink_pipeline,
    "m2_metlink_config_filter": m2_metlink_config_filter,
    "m3_metlink_empty_fallback": m3_metlink_empty_fallback,
    "m4_metlink_bulk": m4_metlink_bulk,
    "m5_metlink_observe": m5_metlink_observe,
}

ORACLE = {
    "m1_metlink_pipeline": _values_oracle(),
    "m2_metlink_config_filter": _values_oracle(enabled=("Train", "Ship")),
    "m3_metlink_empty_fallback": _EMPTY_ORACLE,
    "m4_metlink_bulk": _M4_ORACLE,
    "m5_metlink_observe": _M5_ORACLE,
}
