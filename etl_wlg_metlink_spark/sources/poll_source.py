"""S1 streaming form — a Spark 4 Python DataSource that POLLS the live
Metlink endpoint as a resident Structured Streaming source.

The reference runs as a scheduled one-shot (task.ts:122 `schedule:
rate(1 minute)` → one fetch per invocation, task.ts:150-167). This
source is the resident form: one `read()` per micro-batch = one HTTP
GET through `gtfs.fetch_raw`, driven by the engine's trigger clock
instead of an external scheduler.

A landing directory of envelope files is NOT read here: Spark's text
file source reads it (`streaming.runners.metlink_envelope_stream`,
`gtfs.snapshot_entities`).

Design notes:

- `SimpleDataSourceStreamReader` runs on the DRIVER, which is the
  right placement here: one poll returns O(10²-10³) vehicle rows (a
  snapshot, not bulk data), and the heavy lifting — parse, explode,
  dedup, window — happens in the distributed plan downstream.
- The source emits RAW envelope strings (`poll_id, fetched_at, raw`);
  parsing is `gtfs.parse_envelopes`, in Catalyst, like every other
  envelope path.
- Offsets are `{"index": n}`, the poll count. A replayed range
  (`readBetweenOffsets`) is served from the in-process cache, which
  `commit` trims to the polls still in flight. An HTTP poll is not
  replayable after a driver restart (the at-least-once caveat every
  network tail source carries): a range that is no longer cached is
  polled again.

The reader-level tests monkeypatch `gtfs._urllib_fetch`; the
end-to-end stream test polls a localhost HTTP server through the real
fetch stack, since the DataSource reader runs in a separate Python
worker process where a monkeypatch can't reach.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from etl_wlg_metlink_spark.sources import gtfs

__all__ = ["MetlinkPollDataSource", "register", "metlink_poll_stream"]


class MetlinkPollDataSource(DataSource):
    """`spark.readStream.format("metlink_poll")` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "metlink_poll"

    def schema(self) -> str:
        return "poll_id bigint, fetched_at double, raw string"

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:  # noqa: ARG002
        return _PollReader(self.options)


class _PollReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self._url = options.get("url")
        self._api_key = options.get("api_key", "")
        if not self._url:
            raise ValueError("metlink_poll requires option 'url'")
        #: poll_id -> (fetched_at, raw); backs readBetweenOffsets replay
        self._cache: dict[int, tuple[float, str]] = {}

    def initialOffset(self) -> dict:
        return {"index": 0}

    def _poll(self, poll_id: int) -> tuple[float, str]:
        if poll_id not in self._cache:
            raw = gtfs.fetch_raw(self._api_key, self._url)
            self._cache[poll_id] = (time.time(), raw)
        return self._cache[poll_id]

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        i = start["index"]
        return iter([(i, *self._poll(i))]), {"index": i + 1}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(
            (i, *self._poll(i)) for i in range(start["index"], end["index"])
        )

    def commit(self, end: dict) -> None:
        # Polls at index < end are finished; drop them from the replay
        # cache so a long-lived poller holds O(in-flight) state, not
        # O(stream lifetime).
        for i in [k for k in self._cache if k < end["index"]]:
            del self._cache[i]


def register(spark) -> None:
    """Idempotent `spark.dataSource.register` (re-registering the same
    name replaces the implementation — safe across test sessions)."""
    spark.dataSource.register(MetlinkPollDataSource)


def metlink_poll_stream(spark, *, url: str, api_key: str = ""):
    """The reference's control loop as a resident stream: poll →
    envelope validation → explode to entities (task.ts:150-196). Each
    micro-batch is one HTTP GET of ``url`` (task.ts:150-167);
    downstream consumers compose the same pipeline stages as the batch
    path (pipelines/metlink.run via foreachBatch, or any streaming
    operator).

    Envelope validation here is the STREAMING analogue of S2: an
    unparseable/malformed envelope yields `entity IS NULL` rows that
    the caller counts/drops (a resident poller must skip a bad poll
    and keep running — raising would kill the query; task.ts:180-188's
    error→empty fallback has the same semantics per invocation)."""
    register(spark)
    raw = (
        spark.readStream.format("metlink_poll")
        .option("url", url)
        .option("api_key", api_key)
        .load()
    )
    return gtfs.parse_envelopes(raw, "raw", "poll_id", outer=True)


# Cited for parity (not executed): DataSourceStreamReader/InputPartition
# are the partitioned-executor variant of this source; the driver-side
# Simple reader is intentional (see module docstring).
_PARITY_REFS = (DataSourceStreamReader, InputPartition)
