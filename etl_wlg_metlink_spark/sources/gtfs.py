"""S1-S3, S9 — GTFS-RT VehiclePositions source: ingest a raw JSON
envelope, validate it, explode to one row per entity, with the
reference's two-level error policy:

- envelope level (S2, task.ts:174-179): body must be an object with an
  `entity` array, else `InvalidEnvelopeError` — the `from_json`
  FAILFAST analogue;
- record level (task.ts:195): a malformed/missing per-entity `vehicle`
  or `position` is tolerated here (NULL struct) and dropped by the
  pipeline's P2 filter — the PERMISSIVE analogue;
- error→empty fallback (S3, task.ts:180-188): `fetch_entities` turns
  any fetch or parse error into the parse of an envelope with no
  entities.

`parse_envelopes` is the one envelope parse: the batch parse here, the
landing-directory backfill (`snapshot_entities`) and the
landing-directory stream (streaming/runners.py) all call it.

The HTTP fetch itself (task.ts:155-160) is driver-side by design: one
poll returns O(10²-10³) records — a snapshot micro-batch, not bulk
data. `fetch_entities` makes the one GET; its `fetch_json` is
injectable so tests/offline runs never touch the network.
"""

from __future__ import annotations

import json
import sys
from collections.abc import Callable
from functools import lru_cache

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_wlg_metlink_spark.schemas import VEHICLE_POSITIONS_RESPONSE

METLINK_VEHICLE_POSITIONS_URL = (
    "https://api.opendata.metlink.org.nz/v1/gtfs-rt/vehiclepositions"
)


class InvalidEnvelopeError(ValueError):
    """Reference task.ts:178: 'Invalid API response format: missing
    entity data'."""


def entities_from_json(spark: SparkSession, raw_json: str, debug: bool = False) -> DataFrame:
    """Parse one raw envelope string → DataFrame of entity rows.

    Driver-side envelope validation mirrors the reference exactly:
    parseable object + `entity` list, else raise. Per-entity shape
    problems become NULL struct fields (PERMISSIVE) for downstream
    filters to drop.
    """
    if debug:  # S9 — bounded debug sample (task.ts:169-171)
        print(f"Raw API response: {raw_json[:1000]}...", file=sys.stderr)
    try:
        body = json.loads(raw_json)
    except json.JSONDecodeError as e:
        raise InvalidEnvelopeError(f"unparseable response: {e}") from e
    if not (isinstance(body, dict) and isinstance(body.get("entity"), list)):
        raise InvalidEnvelopeError(
            "Invalid API response format: missing entity data"
        )
    # The envelope as a one-row LocalRelation built in the JVM. Its scan
    # does not print its rows, so the plan text Spark renders for every
    # execution stays small; a literal would put the whole ~220 KB
    # envelope into it, twice. createDataFrame from Python would plan a
    # Python-RDD scan (`Scan ExistingRDD`) and ship the envelope through
    # a Python worker.
    return parse_envelopes(_envelope_relation(spark, raw_json), "raw")


def _envelope_relation(spark: SparkSession, raw_json: str) -> DataFrame:
    """``raw_json`` as the one ``raw`` string of a JVM-built
    LocalRelation (``SparkSession.createDataFrame(List[Row],
    StructType)`` through py4j)."""
    gateway = SparkContext._gateway
    jvm = gateway.jvm
    values = gateway.new_array(jvm.java.lang.Object, 1)
    values[0] = raw_json
    rows = jvm.java.util.Collections.singletonList(
        jvm.org.apache.spark.sql.RowFactory.create(values)
    )
    schema = jvm.org.apache.spark.sql.types.StructType.fromDDL("raw string")
    return DataFrame(spark._jsparkSession.createDataFrame(rows, schema), spark)


def parse_envelopes(
    raw: DataFrame, column: str, *keep: str, outer: bool = False
) -> DataFrame:
    """Envelope strings in ``column`` → one (idx, entity) row per
    entity, next to the ``keep`` columns: the one parse every envelope
    path uses, in one select. ``from_json`` with the declared schema,
    then ``posexplode``: ``idx``, the int array position, is the
    authoritative ingest order, which last-wins dedup keys on; Catalyst
    prunes unread entity fields.

    An unparseable envelope parses to a NULL body. The inner explode
    drops it (no rows); ``outer=True`` keeps it as one
    ``entity IS NULL`` row for the caller to count or drop."""
    return raw.select(
        *keep,
        _entities_column(column, outer, SparkContext._gateway).alias("idx", "entity"),
    )


@lru_cache(maxsize=16)
def _entities_column(column: str, outer: bool, gateway) -> Column:
    """``posexplode(from_json(column).entity)``, built once per column,
    explode kind and JVM (``gateway`` is only the cache key): building
    ``from_json`` sends the whole schema to the JVM."""
    explode = F.posexplode_outer if outer else F.posexplode
    return explode(F.from_json(F.col(column), VEHICLE_POSITIONS_RESPONSE)["entity"])


def snapshot_entities(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Every landed ``*.json`` envelope in ``snapshot_dir`` as
    (snapshot, idx, entity) — the backfill that reprocesses a landing
    directory through the same pipeline the stream feeds. ``snapshot``
    is the file name. A malformed envelope yields one
    ``entity IS NULL`` row to count or drop, not a failed job (the
    reference's error→empty fallback, task.ts:180-188)."""
    raw = (
        spark.read.option("wholetext", True)
        .option("pathGlobFilter", "*.json")
        .text(snapshot_dir)
        .select(F.col("_metadata.file_name").alias("snapshot"), "value")
    )
    return parse_envelopes(raw, "value", "snapshot", outer=True)


def fetch_entities(
    spark: SparkSession,
    api_key: str,
    fetch_json: Callable[[str, dict], str] | None = None,
    debug: bool = False,
) -> DataFrame:
    """S1 — the polled source: fetch + validate, with the S3 fallback:
    any error parses an envelope with no entities instead, which the
    pipeline turns into an empty FeatureCollection (task.ts:183-186).

    One GET of the VehiclePositions endpoint with the Metlink headers
    (task.ts:155-160). `fetch_json(url, headers) -> str` is
    injectable; the default, `_urllib_fetch`, is looked up per call,
    so it stays the one seam to replace in tests.
    """
    headers = {"accept": "application/json", "x-api-key": api_key}
    try:
        raw = (fetch_json or _urllib_fetch)(METLINK_VEHICLE_POSITIONS_URL, headers)
        return entities_from_json(spark, raw, debug=debug)
    except Exception as e:  # noqa: BLE001 — any fetch/parse error → empty FC
        print(f"Error fetching Metlink data: {e}", file=sys.stderr)
        return entities_from_json(spark, '{"entity": []}')


def _urllib_fetch(url: str, headers: dict) -> str:
    import urllib.request

    req = urllib.request.Request(url, headers=headers)
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return resp.read().decode("utf-8")
