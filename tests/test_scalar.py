"""Unit tests pinning the reference's JS quirk semantics
(SURVEY.md §4.4 watch list) at the column-expression level.

Each test cites the task.ts line whose behavior it freezes.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_wlg_metlink_spark.functions.scalar import (
    cot_key,
    format_fixed,
    js_falsy_to_nan,
    kv_remarks,
    nullish_default_str,
    occupancy_label,
    split_head,
)


def _col(spark, expr, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return [r[0] for r in df.select(expr).collect()]


def test_split_head_no_separator_returns_whole_string(spark):
    # task.ts:213 — JS 'RAIL'.split('__')[0] === 'RAIL'
    vals = _col(
        spark,
        split_head("s", "__"),
        [("HVL__401",), ("RAIL",), ("",)],
        "s string",
    )
    assert vals == ["HVL", "RAIL", ""]


def test_split_head_separator_is_literal_not_regex(spark):
    # JS String.split is literal; '.' must not match-any
    vals = _col(spark, split_head("s", "."), [("a.b.c",), ("abc",)], "s string")
    assert vals == ["a", "abc"]


def test_js_falsy_to_nan_zero_and_null_become_nan(spark):
    # task.ts:294-295 — `speed || NaN`: 0, null and NaN are all falsy
    vals = _col(
        spark,
        js_falsy_to_nan("v"),
        [(0.0,), (None,), (float("nan"),), (12.5,)],
        "v double",
    )
    assert math.isnan(vals[0]) and math.isnan(vals[1]) and math.isnan(vals[2])
    assert vals[3] == 12.5


def test_nullish_default_zero_stays_zero(spark):
    # task.ts:260 — `??` not `||`: 0 renders as "0"
    vals = _col(
        spark, nullish_default_str("v"), [(0,), (None,), (1,)], "v int"
    )
    assert vals == ["0", "Unknown", "1"]


def test_occupancy_label_range_and_fallback(spark):
    # task.ts:266-276 — 0-6 decode; out-of-range/null → 'Unknown'
    vals = _col(
        spark,
        occupancy_label("v"),
        [(0,), (6,), (7,), (-1,), (None,)],
        "v int",
    )
    assert vals == [
        "Empty",
        "Not accepting passengers",
        "Unknown",
        "Unknown",
        "Unknown",
    ]


def test_format_fixed_no_thousands_separator(spark):
    # task.ts:280 — toFixed(1) never inserts ',', and rounds the exact
    # binary value half-up: 15.45 is binary 15.4499… → "15.4" (Java
    # %.1f says "15.5"); 27.25 and 0.25 are exact ties → up
    vals = _col(
        spark,
        format_fixed("v", 1, " m/s"),
        [(1234.56,), (0.0,), (15.45,), (27.25,), (0.25,), (-15.45,)],
        "v double",
    )
    assert vals == [
        "1234.6 m/s",
        "0.0 m/s",
        "15.4 m/s",
        "27.3 m/s",
        "0.3 m/s",
        "-15.4 m/s",
    ]


def test_kv_remarks_order_and_null_omission(spark):
    # task.ts:254-286 — fixed key order, newline join, optional lines
    # dropped when their value is null
    df = spark.createDataFrame([("Bus", "V1", None)], "t string, i string, s string")
    expr = kv_remarks(
        ("Vehicle Type", F.col("t")),
        ("Vehicle ID", F.col("i")),
        ("Speed", F.col("s")),
    )
    assert df.select(expr).collect()[0][0] == "Vehicle Type: Bus\nVehicle ID: V1"


def test_cot_key_format(spark):
    # task.ts:251 — 'WLG-Metlink' + type + '-' + id
    vals = _col(
        spark,
        cot_key("t", "i"),
        [("Bus", "3701",)],
        "t string, i string",
    )
    assert vals == ["WLG-MetlinkBus-3701"]
