"""M5 — actual Structured Streaming pipelines.

The reference is a scheduled one-shot batch (task.ts:122): each Lambda
invocation processes one snapshot. The streaming analogue is the
availableNow trigger — process everything available, then stop.
`drain` is the one place that runs a query that way: every one-shot
runner and lane hands it a stream (and a foreachBatch function, or
none for a memory sink), and it owns the checkpoint, the trigger, the
state-partition count, the wait and the cleanup. `ledger` is the one
storage ledger: the sketch and index maintenance runners (trending
top-k, IVF, count-min, HLL, KMV) hand it a stream, a per-batch partial
and a merge, and it owns the `batch_id` directories, the read-back and
the cleanup.
`staged_replay` is the one landing directory the multi-batch runners
replay.

The Metlink scheduled job and its resident poller are one query over a
landing directory of envelope files (`_envelope_query`): Spark's text
file source reads each `*.json` file in modification-time order, one
file per micro-batch, and a late file is ingested, not skipped.
`metlink_envelope_stream` runs it availableNow and
`metlink_resident_stream` on a processingTime trigger; nothing else
differs, so the two can share a checkpoint.

Watermarks bound state: the tumbling aggregation keeps only windows
younger than the watermark; dedup-within-watermark keeps only recent
keys. That is what makes these plans safe on an unbounded 100 TB/day
stream, where an unwatermarked aggregation would accumulate state
forever.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table as a file-source stream (one file = one
    micro-batch upper bound via maxFilesPerTrigger), with the same
    nanos→TimestampType normalization as the batch loader."""
    from etl_wlg_metlink_spark.session import ensure_engine_conf
    from etl_wlg_metlink_spark.tables import _normalize_event_ts

    ensure_engine_conf(spark)
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_watch_dir_for(path))
    )
    return _normalize_event_ts(stream)


_TEMP_DIRS: list[str] = []


def _tracked_mkdtemp(prefix: str) -> str:
    """mkdtemp that the process cleans up after itself: every staging /
    ledger / checkpoint dir is registered here and removed at exit, so
    repeated bench/test runs in one interpreter don't accumulate temp
    directories on disk. Dirs cached for intra-process reuse
    (_WATCH_DIRS, _STAGED) stay alive until exit by design.

    Rooted at session.scratch_root() (tmpfs locally, NVMe in a
    deployment): checkpoint WALs, state-store deltas and staged
    micro-batch files are engine-internal scratch whose per-file
    create/rename cost is pure micro-batch lifecycle overhead on a
    journalled disk FS."""
    from etl_wlg_metlink_spark.session import scratch_root

    d = tempfile.mkdtemp(prefix=prefix, dir=scratch_root())
    _TEMP_DIRS.append(d)
    return d


@atexit.register
def _cleanup_temp_dirs() -> None:
    while _TEMP_DIRS:
        shutil.rmtree(_TEMP_DIRS.pop(), ignore_errors=True)


def _unload_state_providers(spark: SparkSession) -> None:
    """Release the just-terminated query's state-store providers NOW
    instead of at the next maintenance tick (default 60 s away).

    `drain` runs every query one-shot against a FRESH temp checkpoint,
    so a terminated query's loaded providers can never be reused — yet
    each keeps its last committed version's full state map pinned in
    executor memory until the maintenance task notices the query is
    gone. Per key that is O(state) memory held for up to a minute
    after the answer was returned; a bench/driver session runs ~50
    such queries back-to-back, and at production state sizes the
    pinned maps are GBs (the same leak class as a memory sink's temp
    view left in the catalog, one layer down). StateStore.stop()
    unloads every provider and halts the maintenance thread; the next
    stateful query restarts both on demand (isMaintenanceRunning flips
    back true). Callers must not hold another streaming query RUNNING
    concurrently — its providers would be unloaded too and reload from
    checkpoint on its next batch (correct, just slower); `drain` is
    synchronous, so the situation does not arise here. Best-effort: a
    missing/renamed internal never fails the query, and writes one
    JSON line to stderr instead."""
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception as exc:
        print(
            json.dumps(
                {"event": "state_store_unload_failed", "error": type(exc).__name__}
            ),
            file=sys.stderr,
        )


#: one symlink dir per source file per process — repeated calls
#: (driver gate, bench warm+timed, tests) must not leak temp dirs
_WATCH_DIRS: dict[str, str] = {}


def _watch_dir_for(path: str) -> str:
    """The file-stream source wants a directory to watch; testdata is a
    single read-only file, so expose it through a cached temp dir of
    symlinks (what a real deployment's landing directory is anyway)."""
    if path not in _WATCH_DIRS:
        watch_dir = _tracked_mkdtemp(prefix="events_stream_")
        os.symlink(path, os.path.join(watch_dir, os.path.basename(path)))
        _WATCH_DIRS[path] = watch_dir
    return _WATCH_DIRS[path]


#: Shuffle partitions, and so state stores, of every stream `drain`
#: runs. A stateful operator keeps one state store per shuffle
#: partition, each with its own per-batch commit, so at the ~10⁴ keys
#: of a one-shot replay the session's one-per-core default is mostly
#: fixed cost: at local[32], 32 → 8 cut a stateful query 2.3×. A
#: long-running query over millions of keys would size this to its
#: key cardinality instead.
STATE_PARTITIONS = 8


def drain(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame, int], None] | None = None,
    *,
    output_mode: str = "append",
) -> DataFrame | None:
    """Run ``stream`` one-shot with trigger(availableNow) — ≈ one
    scheduled invocation of the reference task — against a fresh temp
    checkpoint. Each micro-batch goes to ``batch_fn`` (foreachBatch;
    returns None) or, when it is None, to a memory sink whose
    materialized result is returned.

    The stream runs at STATE_PARTITIONS shuffle partitions: the
    session conf is set around ``start()`` only, because the query
    clones its session there (and records the count in its offset
    log), so every micro-batch and the session it hands ``batch_fn``
    see STATE_PARTITIONS. Whatever runs after the stream ends — the
    memory-sink result, a `ledger` merge, a lane's projections over
    either — runs at the session's own setting, which ``start()``
    leaves as it found it.

    Whether the query succeeds or raises, it is stopped, its
    state-store providers unloaded, its checkpoint removed, and the
    memory sink's temp view dropped: the returned DataFrame holds the
    resolved plan (and keeps the sink rows alive while referenced),
    but the catalog entry would otherwise pin every run's sink in
    executor memory for the session's lifetime."""
    from etl_wlg_metlink_spark.session import conf_override

    spark = stream.sparkSession
    checkpoint = _tracked_mkdtemp(prefix="drain_ckpt_")
    name = f"drain_{uuid.uuid4().hex[:8]}"
    writer = stream.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint
    )
    if batch_fn is None:
        writer = writer.format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(batch_fn)
    state = {"spark.sql.shuffle.partitions": str(STATE_PARTITIONS)}
    q = None
    try:
        with conf_override(spark, state):
            q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return spark.table(name) if batch_fn is None else None
    finally:
        if q is not None:
            q.stop()
        _unload_state_providers(spark)
        spark.catalog.dropTempView(name)
        shutil.rmtree(checkpoint, ignore_errors=True)


def ledger(
    stream: DataFrame,
    partial: Callable[[DataFrame], DataFrame | tuple[DataFrame, ...]],
    merge: Callable[..., DataFrame],
    *,
    output_mode: str = "append",
) -> DataFrame:
    """Drain ``stream`` into a storage ledger and return its merge —
    state in STORAGE, not the streaming state store, the stand-in for
    a Delta/JDBC MERGE.

    Each micro-batch's ``partial(batch)`` is written to
    ``batch_id=<id>/`` with mode("overwrite"), so a batch replayed
    after a failure replaces itself: every merge is replay-safe, sum
    merges included (the foreachBatch ``batch_id`` contract). A
    ``partial`` that returns a tuple gets one sub-ledger per element.
    After the drain, ``merge(*ledgers)`` gets each sub-ledger read
    back with its ``batch_id`` column; its result is materialized
    (``localCheckpoint(eager=True)``, so it must be bounded) and the
    ledger dir removed, whether the run succeeds or raises."""
    spark = stream.sparkSession
    root = _tracked_mkdtemp(prefix="ledger_")
    n_parts = 0

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        nonlocal n_parts
        parts = partial(batch)
        if isinstance(parts, DataFrame):
            parts = (parts,)
        n_parts = len(parts)
        for i, part in enumerate(parts):
            part.write.mode("overwrite").parquet(f"{root}/{i}/batch_id={batch_id}")

    try:
        drain(stream, write_batch, output_mode=output_mode)
        ledgers = [spark.read.parquet(f"{root}/{i}") for i in range(n_parts)]
        return merge(*ledgers).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def last_wins(*keys: str) -> Callable[[DataFrame], DataFrame]:
    """The keyed-upsert merge: each key's row from its latest batch."""

    def merge(rows: DataFrame) -> DataFrame:
        w = Window.partitionBy(*keys).orderBy(F.col("batch_id").desc())
        return (
            rows.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn", "batch_id")
        )

    return merge


#: staged replays, one per (sf_dir, table, order_col, n_batches) —
#: repeated calls (driver gate, bench warm+timed, tests) must not
#: re-stage or leak temp dirs
_STAGED: dict[tuple[str, str, str, int], str] = {}


def staged_replay(
    spark: SparkSession, sf_dir: str, table: str, order_col: str, n_batches: int
) -> tuple[str, DataFrame]:
    """Stage ``table`` as n_batches CONTIGUOUS ``order_col``-range
    files with strictly ascending mtimes, and return the staging dir
    and a file stream over it that reads one file per micro-batch. The
    file source orders by modification time, so the batches replay in
    ``order_col`` order — batch 1 holds the smallest values. Real
    ingest is exactly this: a landing directory filling over time.

    The ordering is load-bearing. Staged by ``ts``, the watermark at
    the start of batch k is max(ts of batches 1..k-1) - horizon, and
    because range k's minimum ts >= range k-1's maximum, no arriving
    row ever falls behind the watermark — zero late drops, so the
    final streaming aggregates equal the batch ones exactly. Staged by
    an id, the first arrival of each key carries its global minimum
    id, so a first-arrival-wins ingest equals the batch min-id rule."""
    from etl_wlg_metlink_spark.session import ensure_engine_conf
    from etl_wlg_metlink_spark.tables import load

    ensure_engine_conf(spark)
    key = (sf_dir, table, order_col, n_batches)
    if key not in _STAGED:
        stage = _tracked_mkdtemp(prefix=f"{table}_replay_")
        (
            load(spark, sf_dir, table)
            .repartitionByRange(n_batches, order_col)
            .write.mode("overwrite")
            .parquet(stage)
        )
        parts = sorted(f for f in os.listdir(stage) if f.startswith("part-"))
        base = 1_700_000_000  # any fixed epoch; only the ordering matters
        for i, f in enumerate(parts):
            os.utime(os.path.join(stage, f), (base + i, base + i))
        _STAGED[key] = stage
    stage = _STAGED[key]
    stream = (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return stage, stream


def tumbling_counts_stream(events: DataFrame) -> DataFrame:
    """Identical expression to streaming.s1_tumbling_window, plus the
    watermark that bounds streaming state to 2 hours of late data."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


def dedup_within_watermark_stream(events: DataFrame) -> DataFrame:
    """A1's streaming form (task.ts:191/297 keyed dedup): drop
    duplicate (user_id, event_type) pairs within the watermark horizon
    (`dropDuplicatesWithinWatermark`) — bounded state, unlike a global
    dropDuplicates which would be unbounded.

    Projects ONLY the dedup key columns: which physical row survives a
    within-batch duplicate is partition-order-dependent (same as batch
    dropDuplicates), so key-only projection is the deterministic,
    oracle-checkable contract; the value-carrying batch form is
    a1_lastwins_dedup's ordered window."""
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def stream_static_enrich_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join — the canonical streaming enrichment shape:
    every micro-batch of the event stream joins the static customer
    dimension (broadcast, so the stream side never shuffles for the
    join) and aggregates per (mktsegment, event_type). Spark re-plans
    the static side per micro-batch, which is what makes slowly-
    changing dims pick up updates between batches at no extra cost."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("mktsegment")
    )
    return (
        events.join(F.broadcast(dim), "user_id", "left")
        .groupBy("mktsegment", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def stream_stream_interval_join(
    events: DataFrame, how: str, delay: str
) -> DataFrame:
    """Stream-stream interval join — the attribution shape (click →
    purchase within 30 minutes, per user): two filtered views of the
    event stream, each with an event-time watermark of ``delay``,
    joined on key + a bounded time range. The interval bound is what
    lets Spark evict join state (a click older than the watermark
    minus the interval can never match again), so state stays bounded
    at any scale; an unconstrained stream-stream join would buffer
    forever. Timestamps are emitted as formatted strings.

    ``how="inner"`` (s7, delay "2 hours"): the availableNow replay's
    result equals the batch self-join — the DuckDB oracle.

    ``how="leftOuter"`` (s9, delay "0 seconds"): attribution including
    the non-converting clicks, each as a null-extended row. Spark can
    only emit the null row once the watermark proves no future
    purchase can match (click_ts + 30min < min of both sides'
    watermarks), so unmatched clicks newer than that horizon are
    WITHHELD at availableNow stop — the no-data final micro-batch
    evicts and emits everything older. At 0 seconds of delay the
    withheld tail is exactly the last 30 minutes of the stream; the
    oracle reproduces the horizon rule in SQL. The outer side's
    eviction is what turns state-store entries into output instead of
    silent drops."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", delay)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", delay)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
        ),
        how,
    )
    return joined.select(
        "user_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.round("value", 4).alias("purchase_value"),
    )


def corpus_ingest_dedup_run(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Streaming corpus ingest with cross-batch exact dedup — the
    streaming form of the l25 batch-vs-corpus pattern and the l5
    survivor rule, run end-to-end: each micro-batch of arriving
    documents fingerprints itself map-side, collapses within-batch
    duplicates to the min-doc_id survivor, anti-joins the fingerprints
    already ingested (the ledger = the survivor store itself), and
    appends only novel documents to the on-disk corpus.

    State lives in STORAGE, not the streaming state store: at 100 TB
    the fingerprint ledger cannot sit in executor state, and the
    anti-join against it is a (batch)-sized probe of a fp-keyed
    corpus — the same wrong-direction-join reasoning as l25 (the small
    side drives). Returns the survivors (doc_id, source, fp), read back
    and materialized (``localCheckpoint(eager=True)``); the survivor
    store is removed whether the run succeeds or raises.

    Because the staged replay ascends in doc_id, first-arrival
    equals global min-doc_id per fingerprint, which is what makes the
    result batch-oracle-checkable (l5's window rule)."""
    _, stream = staged_replay(spark, sf_dir, "documents", "doc_id", n_batches)
    survivors_dir = _tracked_mkdtemp(prefix="docs_survivors_")

    fp = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " "
        )
    )

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        candidates = (
            batch.withColumn("fp", fp)
            .groupBy("fp")
            .agg(F.min(F.struct("doc_id", "source")).alias("m"))
            .select("fp", F.col("m.doc_id").alias("doc_id"), F.col("m.source").alias("source"))
        )
        # batch 0 of a fresh checkpoint is by definition pre-ledger; a
        # missing-path probe-by-exception here would work but leaves a
        # spurious FileNotFound stack in the stream's logs every run.
        if batch_id == 0:
            novel = candidates
        else:
            ledger = s.read.parquet(survivors_dir).select("fp")
            novel = candidates.join(ledger, "fp", "left_anti")
        novel.select("doc_id", "source", "fp").write.mode("append").parquet(
            survivors_dir
        )

    try:
        drain(stream, ingest_batch)
        return spark.read.parquet(survivors_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(survivors_dir, ignore_errors=True)


def user_track_state_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState — the
    per-key running-track state the reference approximates with stable
    IDs + a staleness TTL (task.ts:251, 297), done properly: per-user
    (count, total value) accumulated across micro-batches. State lives
    in the state store, sized per key, not per event — the 100 TB
    requirement for unbounded streams.

    Emits one row per user per micro-batch with the state as-of that
    batch; the last emission per user equals the batch aggregate
    (parity-tested)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((count, float(total)))
        # raw float — the lane rounds JVM-side (F.round, half-up, same
        # as the oracle's ROUND); Python round() is half-even
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [count],
             "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="count long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def track_ttl_state_stream(events: DataFrame, ttl_seconds: int = 3600) -> DataFrame:
    """The reference's staleness contract (task.ts:297 `stale: 180000`
    — downstream consumers drop a track 180 s after its last update)
    implemented engine-side: per-key track state with an EVENT-TIME
    TTL. A track's state lives until the watermark passes its last
    event time + TTL; then the track is emitted once as a closed
    record and its state removed. This is the piece s4's NoTimeout
    variant deliberately omits: on an unbounded vehicle stream, keys
    that go quiet MUST be reclaimed or state grows with the number of
    vehicles ever seen, not the number currently live.

    Emits only closed tracks (user_id, n_events, last_ts). Timeout
    callbacks fire on the first (possibly no-data) micro-batch whose
    start watermark exceeds the track's deadline."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            count, last_ms = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [count],
                    "last_ts": [pd.Timestamp(last_ms, unit="ms")],
                }
            )
        else:
            count, last_ms = state.get if state.exists else (0, 0)
            for pdf in pdfs:
                count += len(pdf)
                batch_ms = int(pdf["ts"].astype("int64").max() // 1_000_000)
                last_ms = max(last_ms, batch_ms)
            state.update((count, last_ms))
            state.setTimeoutTimestamp(last_ms + ttl_seconds * 1000)

    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, last_ts timestamp",
            stateStructType="count long, last_ms long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


#: s10 capped-sessionization knobs: 30-min inactivity gap (same as the
#: native session_window lane s3) and a 2-event hard cap — the corpus'
#: gap-sessions run 1-3 events (p99 = 2), so cap 2 splits the real
#: 3-event tail while leaving the majority intact.
SESSION_GAP_SECONDS = 1800
SESSION_CAP = 2


def capped_sessions_stream(events: DataFrame) -> DataFrame:
    """Custom sessionization Spark's built-in ``session_window`` cannot
    express: a session closes on a 30-minute inactivity gap OR when it
    reaches SESSION_CAP events (bounded-session semantics — the cap
    keeps a runaway hot key from accumulating an unbounded session, the
    same reason training pipelines cap sequence lengths). Implemented
    as applyInPandasWithState keyed by user_id: state carries only the
    OPEN session's (start, last, count, sum) — per-key state is O(1)
    regardless of stream length, the 100 TB requirement.

    Emits every session (closed ones plus the trailing still-open one,
    flagged via ``closed``) each time the key appears in a batch;
    update-mode consumers MUST take the last emission per (user, seq) —
    a session open across a micro-batch boundary is re-emitted with its
    final verdict in a later batch. The s10 lane applies that dedup
    itself (last-emission window on n_events/closed), so correctness
    does not depend on the source replaying as a single file/batch. A
    session only closes when the NEXT event arrives (gap or cap
    overflow), so the chronologically last session of a key is always
    open — which is exactly what the batch oracle encodes."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = SESSION_GAP_SECONDS * 1_000_000

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            seq, start_us, last_us, n, total = state.get
        else:
            seq, start_us, last_us, n, total = 0, -1, -1, 0, 0.0
        out = []

        def close_open():
            nonlocal seq, start_us, last_us, n, total
            out.append((seq, start_us, n, total, True))
            seq, start_us, last_us, n, total = seq + 1, -1, -1, 0, 0.0

        # A key's micro-batch arrives as MULTIPLE Arrow chunks once it
        # exceeds arrow.maxRecordsPerBatch (default 10k), with no order
        # guarantee ACROSS chunks — sorting each chunk independently
        # would split/merge sessions at chunk boundaries. Concatenate
        # the whole batch first, then sort once (the per-key batch is
        # bounded by the micro-batch, not the stream, so this stays
        # memory-safe at scale; state is still O(1) per key).
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values(["ts", "event_id"])
            ts_us = pdf["ts"].astype("int64") // 1000
            vals = pdf["value"].fillna(0.0)
            for t, v in zip(ts_us, vals):
                if n > 0 and (t - last_us >= gap_us or n >= SESSION_CAP):
                    close_open()
                if n == 0:
                    start_us = int(t)
                last_us = int(t)
                n += 1
                total += float(v)
        if n > 0:
            out.append((seq, start_us, n, total, False))
        state.update((seq, int(start_us), int(last_us), int(n), float(total)))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": user_id,
                    "session_seq": [o[0] for o in out],
                    "session_start": [
                        pd.Timestamp(o[1], unit="us") for o in out
                    ],
                    "n_events": [o[2] for o in out],
                    # raw float sums — rounding happens JVM-side in the
                    # lane's final select (F.round, half-up) so the
                    # oracle's ROUND semantics match exactly; Python's
                    # round() here would be half-even and diverge on an
                    # exact .00005 boundary.
                    "sum_value": [o[3] for o in out],
                    "closed": [o[4] for o in out],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, session_seq long, session_start timestamp, "
            "n_events long, sum_value double, closed boolean"
        ),
        stateStructType=(
            "seq long, start_us long, last_us long, n long, total double"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def metlink_envelope_stream(
    spark: SparkSession,
    input_dir: str,
    poster: Callable[[dict], None],
    checkpoint_dir: str,
    cfg=None,
):
    """S4/S5 scheduled job: one availableNow run over the landing
    directory ``input_dir`` — every envelope not yet in the checkpoint
    runs the composed Metlink pipeline and is submitted as one
    FeatureCollection (task.ts:341), then the query stops. Returns the
    started query; see ``_envelope_query`` for the landing contract."""
    return _envelope_query(
        spark, input_dir, poster, checkpoint_dir, cfg, availableNow=True
    )


def metlink_resident_stream(
    spark: SparkSession,
    input_dir: str,
    poster: Callable[[dict], None],
    checkpoint_dir: str,
    cfg=None,
    *,
    interval: str = "60 seconds",
):
    """S5's RESIDENT form: the reference's `schedule: rate(1 minute)`
    (task.ts:122) with the engine's trigger clock as the scheduler.
    The same query as ``metlink_envelope_stream`` on a
    ``processingTime=interval`` trigger: each tick submits the next
    landed envelope, until the caller stops the query. The two share a
    checkpoint format, so either can resume the other's run."""
    return _envelope_query(
        spark, input_dir, poster, checkpoint_dir, cfg, processingTime=interval
    )


def _envelope_query(spark, input_dir, poster, checkpoint_dir, cfg, **trigger):
    """The landing contract: Spark's text file source reads each
    ``*.json`` file in ``input_dir`` whole, one file per micro-batch,
    in modification-time order; the checkpoint records which files are
    done, so a file that lands late is ingested whatever its name.
    Each micro-batch submits one FeatureCollection. A malformed
    envelope explodes to no entities and submits an EMPTY collection
    (task.ts:180-188's error→empty fallback), so a resident query
    never dies on one bad file. The pipeline counters (task.ts:176,
    210-211, 332) ride the stream as observed metrics, reported in
    each QueryProgress event."""
    from etl_wlg_metlink_spark.pipelines import metlink
    from etl_wlg_metlink_spark.sinks import geojson
    from etl_wlg_metlink_spark.sources.gtfs import parse_envelopes

    raw = (
        spark.readStream.schema("value string")
        .option("wholetext", True)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.json")
        .text(input_dir)
    )
    entities = metlink.observe_entities(
        parse_envelopes(raw, "value"), "metlink_pipeline"
    )

    def submit_batch(batch_df: DataFrame, batch_id: int) -> None:
        geojson.submit(metlink.run(batch_df, cfg), poster)

    return (
        entities.writeStream.foreachBatch(submit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )


def trending_topk_run(
    spark: SparkSession, sf_dir: str, k: int = 3, n_batches: int = 4
) -> DataFrame:
    """Streaming trending top-k — the serving-table architecture for
    "top event types per hour, updating live": an UPDATE-mode
    watermarked window aggregation emits each window's row whenever
    its count changes, foreachBatch upserts those rows into a keyed
    `ledger`, and the serving read compacts last-write-wins per
    (window, type) and ranks per window. Ranking lives OUTSIDE the
    stream on purpose: windowed rank functions aren't expressible on a
    streaming aggregate, and the serving layer re-ranks the handful of
    hot windows on read — the standard two-phase streaming top-k.

    Scale shape: update mode + watermark keeps in-flight state to the
    open windows only (closed windows evict — unlike complete mode,
    which re-emits ALL history each batch and is the unscalable
    variant of this lane); the ledger grows by changed-windows per
    batch, and compaction is one keyed window over the
    (windows x types x batches)-bounded ledger, never the event
    stream. Exactness across batch splits is the staged_replay
    invariant (ts-range staging -> zero late drops)."""
    _, stream = staged_replay(spark, sf_dir, "events", "ts", n_batches)
    # the compaction is (windows × types)-bounded
    final = ledger(
        tumbling_counts_stream(stream),
        lambda batch: batch,
        last_wins("window_start", "event_type"),
        output_mode="update",
    )
    w_rank = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        final.withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") <= k)
        .select("window_start", "rnk", "event_type", "n", "sum_value")
    )


def ivf_ingest_run(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Streaming ANN index maintenance (s13) — the streaming twin of
    l17's batch IVF build: vectors arrive as micro-batches and each
    batch is assigned to its max-cosine coarse cell against the
    BROADCAST seed set inside foreachBatch (stream-static, the trained
    quantizer is fixed ahead of ingest exactly as in production —
    FAISS-style IVF serves while adding), upserted into a keyed
    `ledger`, and compacted last-write-wins per vec_id on the serving
    read — a re-ingested vector upserts its cell, same ledger shape as
    s12.

    Scale shape: per batch, ONE vectorized map-only Arrow pass scores
    the batch against the driver-collected seed matrix (seed count ≈
    √corpus — the flat-quantizer optimum, see _ivf_mod / _ivf_assign;
    no join, no shuffle) — the batch never joins
    the already-ingested corpus; ledger growth is ingested-vectors,
    and compaction is one keyed window over it. The final serving
    table EQUALS l17's batch assignment on the same data (the oracle),
    because cell assignment is per-vector — independent of arrival
    order and batch splits."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        _ivf_assign,
        _ivf_index,
    )
    from etl_wlg_metlink_spark.tables import load

    _, stream = staged_replay(spark, sf_dir, "embeddings", "vec_id", n_batches)
    # the fixed coarse quantizer, TRAINED ONCE ahead of ingest on the
    # full static table (FAISS-style: train, then serve while adding);
    # the driver-side centroid arrays live in the foreachBatch closure,
    # so no micro-batch re-scans or re-collects the seed set
    sid, cent, cnorm = _ivf_index(
        load(spark, sf_dir, "embeddings"), cache_key=sf_dir
    )

    def assign_batch(batch_df: DataFrame) -> DataFrame:
        corpus = batch_df.select(
            "vec_id",
            "embedding",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        "embedding",
                        "embedding",
                        lambda x, y: x.cast("double") * y.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("norm"),
        ).where(
            # same corpus rule as the batch IVF build (_ivf_corpus): a
            # zero-norm vector has no direction — drop it at ingest
            # instead of assigning it a NaN-cosine cell (one failed
            # encoder call is routine at 100 TB and must not poison
            # the index or, under ANSI, kill the stream)
            F.col("norm") > 0
        )
        return _ivf_assign(corpus, sid, cent, cnorm).select("vec_id", "cell")

    # bounded: one row per vector
    return ledger(stream, assign_batch, last_wins("vec_id"))


def drift_monitor_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: the watermarked tumbling
    window counts stream (s1's runner) lands in a memory sink, and the
    serving read scores every window's event-type mix against the
    STATIC reference profile with the Population Stability Index —
    the standard production data-quality alarm in front of a training
    ingest (a window whose event mix diverges from the profile the
    pipeline was tuned on gets quarantined, not ingested).

    PSI = Σ_t (p_wt - p_rt) · ln(p_wt / p_rt) over the event types
    OBSERVED in the window (the reference profile covers every type by
    construction — it is the full-corpus distribution — so no zero
    denominators; absent types contribute nothing, the observed-support
    convention). Per-type contributions round(6) before the per-window
    sum (order-nondeterministic), the sum rounds to 4 — the l56
    fixed-quantum discipline, so the drift fences compare identical
    doubles in both engines.

    Scale shape: streaming state is the watermark-bounded window×type
    counts; the reference profile is a |types|-row broadcast; the
    serving PSI is arithmetic on the already-tiny window×type relation.
    """
    from etl_wlg_metlink_spark.tables import load

    stream = events_stream(spark, sf_dir)
    # update mode: append would hold back every window inside the
    # 2-hour watermark of the stream's end (the availableNow replay
    # ends mid-corpus-time, so the tail windows never finalize).
    # Per-key counts are monotone across emissions, so last-wins
    # compaction is max(n) — the s4 discipline.
    raw = drain(tumbling_counts_stream(stream), output_mode="update")
    counts = raw.groupBy("window_start", "event_type").agg(
        F.max("n").alias("n")
    )
    ref = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_ref"))
    )
    ref_tot = ref.agg(F.sum("n_ref").alias("ref_total"))
    ref_p = ref.crossJoin(F.broadcast(ref_tot)).select(
        "event_type",
        (F.col("n_ref").cast("double") / F.col("ref_total")).alias("p_ref"),
    )
    # window totals via a per-window frame — no self-join against the
    # memory-sink view (which trips conflicting-reference resolution),
    # and each window's partition is |types|-sized, never corpus-sized
    w_win = Window.partitionBy("window_start")
    counts = counts.withColumn("window_total", F.sum("n").over(w_win))
    p_w = F.col("n").cast("double") / F.col("window_total")
    # PSI contributions are non-negative ((p-q) and ln(p/q) share
    # sign), so fixed-point int64 quantization sums EXACTLY in any
    # reduce order — the IVF_FP_SCALE discipline; a round(6)-then-sum
    # variant measurably split a window at the round(4) boundary
    contrib = F.floor(
        (p_w - F.col("p_ref")) * F.log(p_w / F.col("p_ref")) * 1e6
        + F.lit(0.5)
    ).cast("long")
    # no final ROUND: the int64 sum is exact, and long/1e6 is one
    # IEEE division — bit-identical in both engines, whereas a
    # decimal round of a quotient sitting on .XXXX5 splits between
    # Spark's HALF_UP-on-toString and C's nearest-double rounding
    psi = F.sum("contrib") / F.lit(1000000.0)
    level = (
        F.when(F.col("psi") >= 0.25, "major")
        .when(F.col("psi") >= 0.1, "moderate")
        .otherwise("stable")
    )
    return (
        counts.join(F.broadcast(ref_p), "event_type")
        .select("window_start", "window_total", contrib.alias("contrib"))
        .groupBy("window_start", "window_total")
        .agg(psi.alias("psi"))
        .select(
            "window_start",
            F.col("window_total").alias("n_events"),
            "psi",
            level.alias("drift_level"),
        )
    )


def countmin_ingest_run(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Streaming count-min-sketch maintenance — the streaming twin of
    l92 and the textbook reason CMS is THE distributed heavy-hitter
    structure: the sketch is a d×w grid of COUNTERS, so per-batch
    partial grids merge by elementwise sum, associatively, in any
    order. Each micro-batch computes its own partial grid (and its
    exact per-key partial counts, the audit's ground truth) inside
    foreachBatch, one `ledger` sub-ledger each (a replayed batch
    overwrites its own rows, so the SUM-merge never double-counts);
    the serving read sums the grids and answers est-vs-true for the
    top-{L92_TOP_K} keys. Keys are user_ids — enough cardinality at
    sf0.1 to make 4×64 collisions real, which is what the overcount
    column exists to show.

    Scale shape: per-batch state is the constant d×w grid + the
    batch's key partials (map+combine); the stream is never shuffled
    whole. The ledgers grow by (d·w + batch keys) rows per batch; the
    serving merge is a 256-key hash-agg. Stream-equals-batch holds
    because every stage is an associative sum — the oracle is the
    identical batch build over the full table."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        CMS_D,
        CMS_W,
        L92_TOP_K,
        _md5_int60,
    )

    _, stream = staged_replay(spark, sf_dir, "events", "ts", n_batches)
    rows = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1)))

    def bucket():
        return (
            _md5_int60(
                F.concat(
                    F.lit("cms"),
                    F.col("r").cast("string"),
                    F.lit("|"),
                    F.col("k"),
                )
            )
            % CMS_W
        )

    def partial(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
        # ONE pass over the batch (the per-key exact counts), then the
        # partial grid derives FROM those counts: cell(r, bkt) =
        # Σ_{k hashing there} c(k) — identical values to counting raw
        # events per bucket, but the d md5 probes run once per
        # DISTINCT key instead of once per event row (~0.4 s/lane at
        # sf0.1, and at 100 TB the difference between hashing the
        # corpus ×d and hashing the key dictionary ×d).
        # localCheckpoint pins the bounded per-batch key partials so
        # both sub-ledger writes reuse the single aggregation.
        kc = (
            batch_df.select(F.col("user_id").cast("string").alias("k"))
            .groupBy("k")
            .agg(F.count("*").alias("c"))
            .localCheckpoint(eager=True)
        )
        grid = (
            kc.select("k", "c", rows.alias("r"))
            .select("r", bucket().alias("bkt"), "c")
            .groupBy("r", "bkt")
            .agg(F.sum("c").alias("cell"))
        )
        return grid, kc

    def merge(grids: DataFrame, key_counts: DataFrame) -> DataFrame:
        sketch = grids.groupBy("r", "bkt").agg(F.sum("cell").alias("cell"))
        counts = key_counts.groupBy("k").agg(F.sum("c").alias("c"))
        top = counts.orderBy(F.col("c").desc(), "k").limit(L92_TOP_K)
        probes = top.select("k", "c", rows.alias("r")).select(
            "k", "c", "r", bucket().alias("bkt")
        )
        return (
            probes.join(F.broadcast(sketch), ["r", "bkt"])
            .groupBy("k", "c")
            .agg(F.min("cell").alias("est"))
            .select(
                F.col("k").alias("user_key"),
                F.col("c").alias("true_count"),
                F.col("est").alias("est_count"),
                (F.col("est") - F.col("c")).alias("overcount"),
            )
        )

    return ledger(stream, partial, merge)


def hll_ingest_run(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Streaming HyperLogLog maintenance — the streaming twin of l95
    and the cleanest member of the sketch-maintenance family: the HLL
    register grid merges by per-register MAX, which is associative.
    Each micro-batch reduces to its own ≤ types×256 partial register
    rows inside foreachBatch (map+combine, the stream itself never
    shuffles whole) and writes them to a `ledger`; the serving read
    MAX-merges the ledger and runs l95's shared estimator
    (_hll_finalize — one estimator, so stream and batch cannot drift
    and s16 shares l95's DuckDB oracle verbatim). Stream equals batch
    because max(max(A), max(B)) = max(A ∪ B).

    Scale shape: ledger grows by ≤ types×256 rows per batch; serving
    is a (types×256)-key hash-agg; per-batch state is the constant
    register grid. The exact COUNT(DISTINCT) calibration side reads
    the staged table once — at 100 TB you ship only the sketch half
    (that corpus-wide distinct shuffle is what the lane replaces)."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        _hll_finalize,
        _hll_ranks,
    )

    stage, stream = staged_replay(spark, sf_dir, "events", "ts", n_batches)
    regs = ledger(
        stream,
        lambda batch: (
            _hll_ranks(batch).groupBy("event_type", "j").agg(F.max("rank").alias("m_j"))
        ),
        lambda partials: partials.groupBy("event_type", "j").agg(
            F.max("m_j").alias("m_j")
        ),
    )
    exact = (
        spark.read.parquet(stage)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return _hll_finalize(regs, exact)


def kmv_ingest_run(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """Streaming KMV maintenance (s17) — the streaming twin of l97 and
    the third member of the sketch-maintenance family: each
    micro-batch reduces to its own per-type k-minimum-values partial
    inside foreachBatch (batch-local distinct + rank-limit — the
    stream itself never shuffles whole) and writes it to a `ledger`;
    the serving read DEDUPS the partials (the same user hash
    re-appearing across batches collapses — k-smallest-of-distinct-
    union is associative, the MAX-merge argument of s16 in order
    statistics), re-sketches, and runs l97's shared report
    (_kmv_report — one estimator and one pair stage, so stream and
    batch cannot drift and s17 reuses l97's DuckDB oracle verbatim).

    Scale shape: ledger grows by ≤ types×k rows per batch; serving
    work is (ledger rows) → distinct → rank-limit — sketch-sized.
    The exact-join calibration side reads the staged table once; at
    100 TB you ship only the sketch half (the corpus-wide distinct
    and the pairwise user join are what the sketch replaces)."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        _kmv_hashes,
        _kmv_report,
        _kmv_sketch,
    )

    stage, stream = staged_replay(spark, sf_dir, "events", "ts", n_batches)
    merged = ledger(
        stream,
        lambda batch: _kmv_sketch(
            _kmv_hashes(batch).select("event_type", "h")
        ).select("event_type", F.explode("sk").alias("h")),
        lambda partials: _kmv_sketch(
            partials.select("event_type", "h").distinct()
        ),
    )
    hs = _kmv_hashes(spark.read.parquet(stage))
    return _kmv_report(merged, hs)
