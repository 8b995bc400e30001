"""The reference's operator surface (SURVEY.md §2.1-2.4) re-expressed
as named, oracle-checkable queries over the driver's synthetic tables.

Each query exercises one operator family from /root/reference/task.ts
on the TPC-H-ish testdata; `ORACLE` holds the equivalent DuckDB SQL.
All expressions are built-in Catalyst functions — no Python UDFs — so
every plan whole-stage-codegens and scales linearly with partitions.

Naming convention matches SURVEY.md §2 ids (P=shape, D=derived,
A=aggregate/dedup/assembly, S=source/sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_wlg_metlink_spark.functions.scalar import (
    OCCUPANCY_LABELS,
    format_fixed,
    js_falsy_to_nan,
    kv_remarks,
    nullish_default_str,
    occupancy_label,
    split_head,
)
from etl_wlg_metlink_spark.pipelines.metlink import STALE_MS, vehicle_style
from etl_wlg_metlink_spark.tables import load


# --------------------------------------------------------------------------
# P1-P6: shape operators (explode / filter / project)
# --------------------------------------------------------------------------

def p1_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 array explode (task.ts:194 `for entity of body.entity`):
    split document text into a word array and explode one row per word;
    count occurrences of each word.  Narrow transform + one hash-agg
    shuffle; at 100 TB the explode is map-side and pipelined."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def p2_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 null-struct filter (task.ts:195): keep events whose props JSON
    and value are both present; project a few fields."""
    events = load(spark, sf_dir, "events")
    return (
        events.where(F.col("props").isNotNull() & F.col("value").isNotNull())
        .select("event_id", "user_id", "event_type", "value")
    )


def p3_zero_pair_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 zero-island filter (task.ts:204-206 lat==0 && lon==0): drop
    lineitem rows where both discount and tax are exactly 0."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(~((F.col("l_discount") == 0) & (F.col("l_tax") == 0)))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            # 2-decimal source → lossless decimal sum, order-independent
            # at any group size (see r1/r2 for the float knife edge)
            F.sum(F.col("l_discount").cast("decimal(18,2)")).alias("sum_disc"),
        )
    )


def p4_missing_key_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 missing-key filter (task.ts:209-212 `!trip.trip_id` — falsy
    catches both NULL and empty string): count surviving documents per
    source after dropping empty/null text."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.where(F.col("text").isNotNull() & (F.col("text") != ""))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )


def p5_config_isin_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 config-driven show/hide filter (task.ts:245-249): keep only
    the event types an Env-style config enables."""
    enabled = ["click", "purchase", "view"]  # ≈ Show_Buses/Trains/Ships
    events = load(spark, sf_dir, "events")
    return (
        events.where(F.col("event_type").isin(enabled))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def p6_nested_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 nested-field projection + array construction (task.ts:197-201
    `[longitude, latitude]`): build a coordinates-like array from two
    numeric columns and read it back via element_at; Catalyst prunes the
    scan to exactly the referenced columns."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.element_at(F.array(F.col("l_extendedprice"), F.col("l_discount")), 1).alias(
            "coord_x"
        ),
        F.element_at(F.array(F.col("l_extendedprice"), F.col("l_discount")), 2).alias(
            "coord_y"
        ),
    )


# --------------------------------------------------------------------------
# D1-D13: derived columns / scalar functions
# --------------------------------------------------------------------------

def d1_split_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 split + first element (task.ts:213 `trip_id.split('__')[0]`,
    whole string when no separator): first token of part.p_type."""
    part = load(spark, sf_dir, "part")
    return (
        part.select(split_head("p_type", " ").alias("type_head"))
        .groupBy("type_head")
        .agg(F.count("*").alias("n"))
    )


def d2_case_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 multi-branch prefix classification (task.ts:225-242): classify
    parts by p_type prefix into Ship/Train/Bus-like classes, each with
    its CoT type and marker color from the pipeline's `vehicle_style`.
    Chained `when` = the reference's if/else-if precedence; Catalyst
    folds it into one codegen'd CASE."""
    part = load(spark, sf_dir, "part")
    head = split_head("p_type", " ")
    cls = (
        F.when(F.col("p_type").startswith("ECONOMY") | (head == F.lit("PROMO")), "Ship")
        .when(
            F.col("p_type").startswith("STANDARD")
            | F.col("p_type").startswith("SMALL")
            | F.col("p_type").startswith("MEDIUM"),
            "Train",
        )
        .otherwise("Bus")
    )
    cot_type, marker_color, _ = vehicle_style(cls)
    enriched = part.select(
        "p_partkey",
        cls.alias("vehicle_type"),
        cot_type.alias("cot_type"),
        marker_color.alias("marker_color"),
    )
    return enriched.groupBy("vehicle_type", "cot_type", "marker_color").agg(
        F.count("*").alias("n")
    )


def d3_key_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 stable key construction (task.ts:251 cotId concat): build
    `WLG-{status}-{orderkey}` ids and verify uniqueness by counting."""
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        F.concat(
            F.lit("WLG-"), F.col("o_orderstatus"), F.lit("-"), F.col("o_orderkey")
        ).alias("cot_id"),
        "o_totalprice",
    )


def d4_enum_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 enum decode via element_at over a literal array
    (task.ts:266-276, 304-306): decode value%9 as an occupancy label;
    out-of-range (7, 8) and NULL fall back to 'Unknown'."""
    events = load(spark, sf_dir, "events")
    code = (F.col("event_id") % 9).cast("int")
    return (
        events.select(occupancy_label(code).alias("occupancy"))
        .groupBy("occupancy")
        .agg(F.count("*").alias("n"))
    )


def d5_format_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 number formatting (task.ts:280 `toFixed(1) + ' m/s'`):
    format_fixed, NOT format_number (thousands separators).

    The value is pre-rounded: format_fixed rounds an exact tie HALF_UP
    (toFixed) while C printf rounds it half-even, so formatting a
    quarter-exact double (x.25) directly would diverge between engines;
    round(x, 1) agrees (both half-away-from-zero), and formatting an
    exact-tenth double is unambiguous."""
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        format_fixed(F.round(F.col("value"), 1), 1, " m/s").alias("speed_text"),
    )


def d6_kv_remarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 ordered key:value remarks assembly (task.ts:254-286): fixed
    key order, newline-joined, optional lines included only when the
    source field is non-null.  concat_ws skips nulls = the conditional
    inclusion."""
    events = load(spark, sf_dir, "events")
    occ = F.when(F.col("event_id") % 3 != 0, occupancy_label((F.col("event_id") % 9).cast("int")))
    spd = F.when(F.col("value") > 50, format_fixed(F.round(F.col("value"), 1), 1, " m/s"))
    return events.select(
        "event_id",
        kv_remarks(
            ("Vehicle Type", F.col("event_type")),
            ("Vehicle ID", F.col("user_id").cast("string")),
            ("Direction", nullish_default_str(F.col("user_id") % 2)),
            ("Occupancy", occ),
            ("Speed", spd),
        ).alias("remarks"),
    )


def d7_nullish_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 `??`-not-`||` default (task.ts:260): 0 must stay "0"; only
    NULL becomes 'Unknown'.  Uses a JSON-extracted field that is null
    for some rows."""
    events = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.missing")
    return (
        events.select(
            nullish_default_str(F.col("user_id") % 2).alias("direction"),
            nullish_default_str(k).alias("missing_decoded"),
        )
        .groupBy("direction", "missing_decoded")
        .agg(F.count("*").alias("n"))
    )


def d8_epoch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 epoch seconds <-> timestamp (task.ts:292-293
    `new Date(ts*1000)`): derive epoch from events.ts then rebuild the
    timestamp; rendered as an ISO string for engine-neutral compare."""
    events = load(spark, sf_dir, "events")
    epoch = F.unix_timestamp(F.col("ts"))
    return events.select(
        "event_id",
        epoch.alias("epoch_s"),
        F.date_format(F.timestamp_seconds(epoch), "yyyy-MM-dd HH:mm:ss").alias(
            "ts_rebuilt"
        ),
    )


def d9_falsy_nan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 JS `|| NaN` falsy coalesce (task.ts:294-295): 0 and NULL both
    become NaN.  Output is aggregated NaN counts (NaN-in-JSON/hash
    pitfalls avoided; Spark and DuckDB agree on isnan)."""
    events = load(spark, sf_dir, "events")
    speed = js_falsy_to_nan(F.round(F.col("value") - 50.0, 0))
    return (
        events.select("event_type", speed.alias("speed"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.isnan("speed"), 1).otherwise(0)).alias("n_nan"),
            F.round(F.sum(F.when(~F.isnan("speed"), F.col("speed")).otherwise(0)), 4).alias(
                "sum_valid"
            ),
        )
    )


def d10_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 string interpolation (task.ts:291 callsign template):
    `Route {r} - {t} {id}` via format_string."""
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.format_string(
            "Route %s - %s %d",
            F.col("o_orderpriority"),
            F.col("o_orderstatus"),
            F.col("o_custkey"),
        ).alias("callsign"),
    )


def d11_constant_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 constant enrichment (task.ts:17-24 icon paths, task.ts:297
    stale=180000): attach the static per-classification constants
    (icon path, marker color, stale ms) as literal/CASE columns, with
    event_type standing in for the vehicle class (purchase → Ship,
    view → Train, else Bus). Catalyst constant-folds the literals —
    zero per-row cost at scale."""
    events = load(spark, sf_dir, "events")
    et = F.col("event_type")
    vehicle_type = (
        F.when(et == "purchase", "Ship").when(et == "view", "Train").otherwise("Bus")
    )
    _, marker_color, icon = vehicle_style(vehicle_type)
    return events.select(
        "event_id",
        icon.alias("icon"),
        marker_color.alias("marker_color"),
        F.lit(STALE_MS).cast("long").alias("stale"),
    )


def d12_struct_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12 struct construction + JSON encode (task.ts:289-320): build a
    GeoJSON-Feature-shaped struct per event and extract fields back out
    of the JSON — exercises struct/named_struct/to_json/get_json_object
    as one pipeline."""
    events = load(spark, sf_dir, "events")
    feature = F.struct(
        F.concat(F.lit("EV-"), F.col("event_id")).alias("id"),
        F.lit("Feature").alias("type"),
        F.struct(
            F.col("event_type").alias("etype"),
            F.round(F.col("value"), 4).alias("value"),
        ).alias("properties"),
    )
    js = F.to_json(feature)
    return events.select(
        F.get_json_object(js, "$.id").alias("fid"),
        F.get_json_object(js, "$.properties.etype").alias("etype"),
        F.get_json_object(js, "$.properties.value").cast("double").alias("value"),
    )


def d13_passthrough_withfield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D13 record spread/passthrough (task.ts:298-307 `{...entity, extra}`):
    carry the whole input row as a struct and add derived fields with
    withField; flatten back for the oracle compare."""
    orders = load(spark, sf_dir, "orders")
    rec = F.struct(*[F.col(c) for c in orders.columns])
    enriched = orders.select(
        rec.withField("priority_head", split_head("o_orderpriority", "-")).alias("meta")
    )
    return enriched.select(
        F.col("meta.o_orderkey").alias("o_orderkey"),
        F.col("meta.o_orderstatus").alias("o_orderstatus"),
        F.col("meta.priority_head").alias("priority_head"),
    )


# --------------------------------------------------------------------------
# A1-A3: aggregation / dedup / assembly
# --------------------------------------------------------------------------

def a1_lastwins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 keyed last-write-wins dedup (task.ts:191, 312 Map.set):
    latest event per user_id, deterministic tiebreak on event_id.

    The faithful Spark mapping is an ordered window, NOT dropDuplicates
    (nondeterministic under parallelism — SURVEY.md §4.4).  One shuffle
    on the dedup key; at scale AQE handles skewed users."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 4).alias("value"))
    )


def a2_collect_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 collect-to-envelope (task.ts:323-338 FeatureCollection):
    per-group ordered member sample rendered as a joined string (engine-
    neutral stand-in for collect_list(struct(...))).  Bounded output —
    the unbounded form at 100 TB is a partitioned JSON-lines write, see
    sinks/geojson.py.

    Scale shape: a naive `slice(array_sort(collect_list(id)), 1, 20)`
    materializes the ENTIRE per-group id list in one aggregation buffer
    (billions of ids per event_type at 100 TB → OOM).  Instead: salted
    local top-20 (64-way, so no reducer ever holds a whole group), then
    a global top-20 over ≤ 64×20 candidates, then a broadcast join back
    onto the cheap map-side-combined counts."""
    events = load(spark, sf_dir, "events")
    k, n_salt = 20, 64
    salted = events.withColumn("salt", F.pmod(F.col("event_id"), F.lit(n_salt)))
    w = Window.partitionBy("event_type", "salt").orderBy("event_id")
    candidates = (
        salted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy("event_type")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_list("event_id")), 1, k),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("first_ids")
        )
    )
    counts = events.groupBy("event_type").agg(F.count("*").alias("n_features"))
    return counts.join(F.broadcast(candidates), "event_type").select(
        "event_type", "n_features", "first_ids"
    )


def a3_observe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 pipeline counters (task.ts:176, 332, 340 received/valid/
    submitted): conditional aggregation in a single pass — the batch
    equivalent of df.observe() metrics."""
    events = load(spark, sf_dir, "events")
    valid = F.col("value").isNotNull() & (F.col("value") != 0)
    submitted = valid & F.col("event_type").isin("click", "purchase", "view")
    return events.agg(
        F.count("*").alias("received"),
        F.sum(valid.cast("long")).alias("valid"),
        F.sum(submitted.cast("long")).alias("submitted"),
    )


QUERIES = {
    "p1_explode_tokens": p1_explode_tokens,
    "p2_null_filter": p2_null_filter,
    "p3_zero_pair_filter": p3_zero_pair_filter,
    "p4_missing_key_filter": p4_missing_key_filter,
    "p5_config_isin_filter": p5_config_isin_filter,
    "p6_nested_projection": p6_nested_projection,
    "d1_split_head": d1_split_head,
    "d2_case_classification": d2_case_classification,
    "d3_key_construction": d3_key_construction,
    "d4_enum_decode": d4_enum_decode,
    "d5_format_fixed": d5_format_fixed,
    "d6_kv_remarks": d6_kv_remarks,
    "d7_nullish_default": d7_nullish_default,
    "d8_epoch_roundtrip": d8_epoch_roundtrip,
    "d9_falsy_nan": d9_falsy_nan,
    "d10_interpolation": d10_interpolation,
    "d11_constant_enrichment": d11_constant_enrichment,
    "d12_struct_features": d12_struct_features,
    "d13_passthrough_withfield": d13_passthrough_withfield,
    "a1_lastwins_dedup": a1_lastwins_dedup,
    "a2_collect_envelope": a2_collect_envelope,
    "a3_observe_counts": a3_observe_counts,
}

_OCC_CASE = " ".join(
    f"WHEN {i} THEN '{label}'" for i, label in enumerate(OCCUPANCY_LABELS)
)

ORACLE = {
    "p1_explode_tokens": """
        SELECT word, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY word
    """,
    "p2_null_filter": """
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE props IS NOT NULL AND value IS NOT NULL
    """,
    "p3_zero_pair_filter": """
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(CAST(l_discount AS DECIMAL(18,2))) AS sum_disc
        FROM lineitem
        WHERE NOT (l_discount = 0 AND l_tax = 0)
        GROUP BY l_returnflag
    """,
    "p4_missing_key_filter": """
        SELECT source, COUNT(*) AS n_docs
        FROM documents
        WHERE text IS NOT NULL AND text <> ''
        GROUP BY source
    """,
    "p5_config_isin_filter": """
        SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        FROM events
        WHERE event_type IN ('click', 'purchase', 'view')
        GROUP BY event_type
    """,
    "p6_nested_projection": """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice AS coord_x, l_discount AS coord_y
        FROM lineitem
    """,
    "d1_split_head": """
        SELECT string_split(p_type, ' ')[1] AS type_head, COUNT(*) AS n
        FROM part GROUP BY type_head
    """,
    "d2_case_classification": """
        WITH cls AS (
          SELECT CASE
              WHEN starts_with(p_type, 'ECONOMY')
                   OR string_split(p_type, ' ')[1] = 'PROMO' THEN 'Ship'
              WHEN starts_with(p_type, 'STANDARD') OR starts_with(p_type, 'SMALL')
                   OR starts_with(p_type, 'MEDIUM') THEN 'Train'
              ELSE 'Bus' END AS vehicle_type
          FROM part
        )
        SELECT vehicle_type,
               CASE vehicle_type WHEN 'Ship' THEN 'a-f-S-E-V'
                    WHEN 'Train' THEN 'a-u-G-E-V' ELSE 'a-f-G-E-V-C' END AS cot_type,
               CASE vehicle_type WHEN 'Ship' THEN '#00FFFF'
                    WHEN 'Train' THEN '#7F007F' ELSE '#007F00' END AS marker_color,
               COUNT(*) AS n
        FROM cls GROUP BY 1, 2, 3
    """,
    "d3_key_construction": """
        SELECT 'WLG-' || o_orderstatus || '-' || o_orderkey AS cot_id, o_totalprice
        FROM orders
    """,
    "d4_enum_decode": f"""
        SELECT CASE (event_id % 9) {_OCC_CASE} ELSE 'Unknown' END AS occupancy,
               COUNT(*) AS n
        FROM events GROUP BY 1
    """,
    "d5_format_fixed": """
        SELECT event_id, printf('%.1f m/s', round(value, 1)) AS speed_text FROM events
    """,
    "d6_kv_remarks": f"""
        SELECT event_id,
               concat_ws(chr(10),
                 'Vehicle Type: ' || event_type,
                 'Vehicle ID: ' || user_id,
                 'Direction: ' || CAST(user_id % 2 AS VARCHAR),
                 CASE WHEN event_id % 3 <> 0 THEN
                   'Occupancy: ' ||
                   (CASE (event_id % 9) {_OCC_CASE} ELSE 'Unknown' END)
                 END,
                 CASE WHEN value > 50 THEN 'Speed: ' || printf('%.1f m/s', round(value, 1)) END
               ) AS remarks
        FROM events
    """,
    "d7_nullish_default": """
        SELECT CAST(user_id % 2 AS VARCHAR) AS direction,
               'Unknown' AS missing_decoded, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    """,
    "d8_epoch_roundtrip": """
        WITH e AS (
          SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM events
        )
        SELECT event_id, epoch_s,
               strftime(make_timestamp(epoch_s * 1000000), '%Y-%m-%d %H:%M:%S')
                 AS ts_rebuilt
        FROM e
    """,
    "d9_falsy_nan": """
        WITH s AS (
          SELECT event_type,
                 CASE WHEN ROUND(value - 50.0, 0) = 0 OR ROUND(value - 50.0, 0) IS NULL
                      THEN 'NaN'::DOUBLE ELSE ROUND(value - 50.0, 0) END AS speed
          FROM events
        )
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CASE WHEN isnan(speed) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nan,
               ROUND(SUM(CASE WHEN NOT isnan(speed) THEN speed ELSE 0 END), 4)
                 AS sum_valid
        FROM s GROUP BY event_type
    """,
    "d10_interpolation": """
        SELECT o_orderkey,
               printf('Route %s - %s %d', o_orderpriority, o_orderstatus, o_custkey)
                 AS callsign
        FROM orders
    """,
    "d11_constant_enrichment": """
        SELECT event_id,
               CASE WHEN event_type = 'purchase'
                      THEN '34ae1613-9645-4222-a9d2-e5f243dea2865/Transportation/Ship.png'
                    WHEN event_type = 'view'
                      THEN '34ae1613-9645-4222-a9d2-e5f243dea2865/Transportation/Train4.png'
                    ELSE 'ad78aafb-83a6-4c07-b2b9-a897a8b6a38f/Shapes/bus.png'
               END AS icon,
               CASE WHEN event_type = 'purchase' THEN '#00FFFF'
                    WHEN event_type = 'view' THEN '#7F007F'
                    ELSE '#007F00' END AS marker_color,
               CAST(180000 AS BIGINT) AS stale
        FROM events
    """,
    "d12_struct_features": """
        SELECT 'EV-' || event_id AS fid, event_type AS etype,
               ROUND(value, 4) AS value
        FROM events
    """,
    "d13_passthrough_withfield": """
        SELECT o_orderkey, o_orderstatus,
               string_split(o_orderpriority, '-')[1] AS priority_head
        FROM orders
    """,
    "a1_lastwins_dedup": """
        SELECT user_id, event_id, event_type, ROUND(value, 4) AS value
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
    "a2_collect_envelope": """
        SELECT event_type, COUNT(*) AS n_features,
               array_to_string(
                 (list(event_id ORDER BY event_id))[1:20], ',') AS first_ids
        FROM events GROUP BY event_type
    """,
    "a3_observe_counts": """
        SELECT COUNT(*) AS received,
               CAST(SUM(CASE WHEN value IS NOT NULL AND value <> 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS valid,
               CAST(SUM(CASE WHEN value IS NOT NULL AND value <> 0
                        AND event_type IN ('click','purchase','view')
                   THEN 1 ELSE 0 END) AS BIGINT) AS submitted
        FROM events
    """,
}
