"""Loaders for the driver's synthetic Parquet tables (TESTDATA.md).

One function per table so callers get column pruning + predicate
pushdown for free (Parquet scans are lazily planned by Catalyst).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # The correctness driver hands us ITS OWN session (no engine confs);
    # every load goes through here, so pin the runtime-settable confs
    # our reads depend on (notably parquet nanos-as-long for events).
    from etl_wlg_metlink_spark.session import ensure_engine_conf

    ensure_engine_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_event_ts(df)
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` Spark surfaces it as a
    BIGINT of epoch nanoseconds. Normalize to a real TimestampType
    (microsecond precision — the data carries no sub-microsecond
    component) so downstream window/epoch logic is type-correct.

    Integer ``div`` — ns values (~1.7e18) exceed a double's 53-bit
    exact-integer range, so float division would corrupt low digits.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # Defensive: if NTZ inference was on when the schema was built
        # (session tz is UTC, so the cast preserves the instant).
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


#: Respread threshold per core: when an input's bytes-on-disk are below
#: cores × this, the parquet scan cannot produce enough splits to keep
#: the machine busy (testdata is ONE file with ONE row group → one
#: task), so pre-shuffle map work serializes on a single core. 32 MB
#: per core ≈ a quarter of the default 128 MB split: past that the
#: scan itself yields ≥ cores/4 tasks and a respread shuffle costs
#: more than it buys.
SPREAD_BYTES_PER_CORE = 32 << 20


def dir_bytes(path: str) -> int:
    """Bytes on disk under ``path`` — a single file, or every file of a
    directory tree (recursive, so Hive-style ``key=value`` layouts do
    not measure ~0). The same signal the scan planner sizes splits
    from; metadata only. Unreadable entries count 0, which errs toward
    a respread — always correct, just possibly unnecessary."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def spread(df: DataFrame, path: str | None) -> DataFrame:
    """Round-robin ``df`` over every core only when its source at
    ``path`` is too small to split into enough scan tasks by itself
    (see ``load_spread``); otherwise, or when ``df`` has no source on
    disk (``path`` None), return ``df`` unchanged."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if path is not None and dir_bytes(path) < cores * SPREAD_BYTES_PER_CORE:
        df = df.repartition(cores)
    return df


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load()`` plus a SCALE-CONDITIONAL respread — the one rule for
    every lane whose first heavy work is pre-shuffle map compute
    (explode, shingle hashing, per-row feature building, vector math).
    Small inputs scan as one task (single file, single row group),
    serializing that work on one core; at real scale the scan already
    yields ≥ cores of splits and an unconditional round-robin
    repartition would be an EXTRA full shuffle of the payload (guide
    §8's anti-pattern). So the respread exists exactly when the
    input's bytes-on-disk are below cores × SPREAD_BYTES_PER_CORE."""
    return spread(load(spark, sf_dir, name), f"{sf_dir}/{name}.parquet")
