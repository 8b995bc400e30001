"""S4 — the record sink, two shapes (reference task.ts:335-341
`this.submit(fc)`):

- `submit()`: bounded collect → FeatureCollection envelope → a caller-
  supplied poster (HTTP POST in production, a capture list in tests).
  Matches the reference exactly: one envelope per run, feature count
  = live vehicle count (O(10²-10³)) so the driver-side collect is
  bounded by the domain, not the data scale.
- `write_jsonl()`: the 100 TB shape — partitioned JSON-lines of
  Feature rows, no envelope, no driver materialization. An envelope is
  a presentation concern; at scale the consumer streams features.

JSON fidelity to JS `JSON.stringify`: NaN → null (JSON has no NaN),
Dates → ISO-8601 with milliseconds and Z.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from functools import lru_cache

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: matches JS Date.toISOString(): 2024-01-01T00:00:07.000Z
_JSON_OPTS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"}


def _feature_json(features: DataFrame) -> DataFrame:
    """One JSON string per feature."""
    return features.select(_feature_json_column(SparkContext._gateway))


@lru_cache(maxsize=4)
def _feature_json_column(gateway) -> Column:
    """The ``feature_json`` Column, built once per JVM (``gateway`` is
    only the cache key); NaN speed/course nulled first
    (JSON.stringify(NaN) === 'null' — task.ts:294-295 NaNs must not
    leak as the string 'NaN')."""
    f = F.col("feature")
    cleaned = f.withField(
        "properties",
        f["properties"]
        .withField(
            "speed",
            F.when(F.isnan(f["properties"]["speed"]), F.lit(None)).otherwise(
                f["properties"]["speed"]
            ),
        )
        .withField(
            "course",
            F.when(F.isnan(f["properties"]["course"]), F.lit(None)).otherwise(
                f["properties"]["course"]
            ),
        ),
    )
    return F.to_json(cleaned, _JSON_OPTS).alias("feature_json")


def submit(features: DataFrame, poster: Callable[[dict], None]) -> dict:
    """Collect the (bounded) feature set, assemble the
    FeatureCollection envelope, hand it to `poster`. Returns the
    envelope."""
    rows = _feature_json(features).collect()
    fc = {
        "type": "FeatureCollection",
        "features": [json.loads(r["feature_json"]) for r in rows],
    }
    poster(fc)
    return fc


def write_jsonl(features: DataFrame, path: str) -> None:
    """Partitioned JSON-lines write — the unbounded-scale sink. Each
    line is one Feature; no envelope, no collect."""
    _feature_json(features).write.mode("overwrite").text(path)
