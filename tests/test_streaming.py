"""M5 parity tests: each streaming pipeline must produce exactly the
batch result of the same expression (Spark's unified-engine contract),
executed one-shot with trigger(availableNow) ≈ one scheduled
invocation of the reference task (task.ts:122).
"""

from __future__ import annotations

import os

from etl_wlg_metlink_spark.streaming import runners, s1_tumbling_window
from etl_wlg_metlink_spark.tables import load


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, sf_dir):
    stream = runners.events_stream(spark, sf_dir)
    result = runners.drain(
        runners.tumbling_counts_stream(stream),
        output_mode="complete",
    )
    batch = s1_tumbling_window(spark, sf_dir)
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _rows(result, cols) == _rows(batch, cols)


def test_one_shot_runner_unloads_state_stores(spark, sf_dir, tmp_path):
    """A stateful one-shot runner releases its state-store providers
    before it returns. The direct query first shows the probe sees
    loaded providers, so a renamed Spark internal fails here instead
    of silently leaving their state pinned."""
    store = spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore
    q = (
        runners.tumbling_counts_stream(runners.events_stream(spark, sf_dir))
        .writeStream.format("noop")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert store.isMaintenanceRunning()
    runners.drain(
        runners.tumbling_counts_stream(runners.events_stream(spark, sf_dir)),
        output_mode="complete",
    )
    assert not store.isMaintenanceRunning()


def test_dedup_within_watermark_stream(spark, sf_dir):
    stream = runners.events_stream(spark, sf_dir)
    result = runners.drain(
        runners.dedup_within_watermark_stream(stream),
    )
    got = sorted((r["user_id"], r["event_type"]) for r in result.collect())
    expected = sorted(
        (r["user_id"], r["event_type"])
        for r in load(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    )
    # one file → one micro-batch → horizon covers the whole replay:
    # the streaming dedup is exactly the distinct key set
    assert got == expected


def test_streaming_ingest_dedup_parity_and_batching(spark, sf_dir, made_dirs):
    """s8: the 4-batch streaming ingest must (a) actually replay in
    multiple deterministic micro-batches, (b) drop cross-batch
    duplicates via the ledger anti-join, (c) land exactly on the batch
    min-doc_id-per-fingerprint survivor set, run after run, and (d)
    leave no survivor store behind."""
    import os

    from etl_wlg_metlink_spark.streaming import s8_streaming_ingest_dedup
    from etl_wlg_metlink_spark.tables import load
    from pyspark.sql import functions as F

    stage, _ = runners.staged_replay(spark, sf_dir, "documents", "doc_id", 4)
    parts = sorted(f for f in os.listdir(stage) if f.startswith("part-"))
    assert len(parts) == 4
    mtimes = [os.path.getmtime(os.path.join(stage, f)) for f in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4

    got = {
        (r["doc_id"], r["source"], r["fp"])
        for r in s8_streaming_ingest_dedup(spark, sf_dir).collect()
    }
    assert made_dirs and _left_behind(made_dirs) == []
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " "
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    want = {
        (r["doc_id"], r["source"], r["fp"])
        for r in docs.select("doc_id", "source", fp.alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    assert got == want
    assert len(got) < docs.count()  # duplicates existed and were dropped

    again = {
        (r["doc_id"], r["source"], r["fp"])
        for r in s8_streaming_ingest_dedup(spark, sf_dir).collect()
    }
    assert again == got


def test_rocksdb_state_store_parity(spark, sf_dir):
    """The 100 TB streaming-state path: RocksDB state store (state
    spills to local disk instead of living in the executor heap) must
    be a pure CONFIG swap — same stateful dedup, same results as the
    default HDFS-backed in-memory provider. On a real cluster this is
    the difference between state bounded by heap and state bounded by
    disk; the code does not change."""
    from etl_wlg_metlink_spark.session import conf_override

    stream = runners.events_stream(spark, sf_dir)
    default_rows = set(
        map(
            tuple,
            runners.drain(
                runners.dedup_within_watermark_stream(stream)
            ).collect(),
        )
    )
    with conf_override(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
        },
    ):
        rocks_rows = set(
            map(
                tuple,
                runners.drain(
                    runners.dedup_within_watermark_stream(
                        runners.events_stream(spark, sf_dir)
                    )
                ).collect(),
            )
        )
    assert rocks_rows == default_rows
    assert len(rocks_rows) > 0


def test_stream_stream_interval_join_parity(spark, sf_dir):
    """The stream-stream interval join must equal the batch self-join
    of the same predicate (inner join, one micro-batch replay)."""
    from pyspark.sql import functions as F

    stream = runners.events_stream(spark, sf_dir)
    result = runners.drain(
        runners.stream_stream_interval_join(stream, "inner", "2 hours"),
    )
    events = load(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    batch = (
        clicks.join(
            purchases,
            F.expr(
                "user_id = p_user AND purchase_ts >= click_ts "
                "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
            ),
        )
        .select(
            "user_id",
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "purchase_ts"
            ),
            F.round("value", 4).alias("purchase_value"),
        )
    )
    cols = ["user_id", "click_ts", "purchase_ts", "purchase_value"]
    assert _rows(result, cols) == _rows(batch, cols)


def test_stateful_track_state_parity(spark, sf_dir, tmp_path):
    """applyInPandasWithState accumulates across micro-batches: replay
    events as 4 files → 4 batches; the final state per user must equal
    the batch groupBy aggregate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # split events into multiple files so state genuinely crosses
    # micro-batch boundaries
    src = load(spark, sf_dir, "events")
    replay = str(tmp_path / "replay")
    src.repartition(4).write.mode("overwrite").parquet(replay)

    schema = spark.read.parquet(replay).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    result = runners.drain(
        runners.user_track_state_stream(stream),
        output_mode="update",
    )
    # last emission per user = final state
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        result.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            # runner emits raw sums; round here like the s4 lane does
            F.round("total_value", 4).alias("total_value"),
        )
    )
    expected = src.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.coalesce("value", F.lit(0.0))), 4).alias("total_value"),
    )
    cols = ["user_id", "n_events", "total_value"]
    assert _rows(final, cols) == _rows(expected, cols)


def test_observe_metrics(spark, sf_dir):
    """A3's real form: df.observe() accumulates pipeline counters in
    one pass (reference logs received/valid/submitted,
    task.ts:176, 332, 340)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    events = load(spark, sf_dir, "events")
    obs = Observation("counters")
    valid = F.col("value").isNotNull() & (F.col("value") != 0)
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("received"),
        F.sum(valid.cast("long")).alias("valid"),
    )
    n = observed.where(valid).count()
    assert obs.get["received"] == events.count()
    assert obs.get["valid"] == n


def test_metlink_observe_parity(spark, sf_dir):
    """M5: the .observe() metrics channel must agree with the
    oracle-checked batch aggregation (exact counters; the observed
    `submitted` is approx_count_distinct, so compare with rtol)."""
    from pyspark.sql import Observation

    from etl_wlg_metlink_spark.operators.metlink_queries import (
        _synthetic_entities,
        m5_metlink_observe,
    )
    from etl_wlg_metlink_spark.pipelines.metlink import observe_entities

    exact = m5_metlink_observe(spark, sf_dir).collect()[0].asDict()

    obs = Observation("metlink_pipeline")
    observed_df = observe_entities(_synthetic_entities(spark, sf_dir), obs)
    observed_df.count()  # any action through the observed node
    got = obs.get
    for key in (
        "received",
        "dropped_missing_struct",
        "dropped_zero_island",
        "dropped_falsy_trip",
    ):
        assert got[key] == exact[key], key
    # approx_count_distinct: default rsd 5%
    assert abs(got["submitted"] - exact["submitted"]) <= 0.1 * exact["submitted"]


def test_cli_resident_flags():
    """--resident/--poll-interval ride the tested CLI surface (the
    deploy-unit test proves the image invokes exactly this parser)."""
    from etl_wlg_metlink_spark.__main__ import build_parser

    args = build_parser().parse_args(
        ["--schedule", "/data/landing", "--resident",
         "--poll-interval", "5 seconds", "--checkpoint", "/ckpt"]
    )
    assert args.resident and args.poll_interval == "5 seconds"
    assert not build_parser().parse_args(["--fixture", "x.json"]).resident


def _write_ttl_fixture(tmp_path):
    """Two-file replay for the TTL test: user 1 goes quiet after
    batch 1; batch 2 advances the watermark past user 1's deadline
    (last event + 1 h TTL) but not user 2's. Nothing sits at epoch 0 —
    the initial watermark is 0 and rows at/below it are dropped as
    late."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    def _write(name, rows, mtime):
        ts, uid, val = zip(*rows)
        table = pa.table(
            {
                "ts": pa.array(list(ts), pa.timestamp("us")),
                "user_id": pa.array(list(uid), pa.int64()),
                "value": pa.array(list(val), pa.float64()),
            }
        )
        path = str(tmp_path / name)
        pq.write_table(table, path)
        os.utime(path, (mtime, mtime))

    h = 3_600_000_000  # one hour in microseconds
    now = time.time()
    _write("f1.parquet", [(h, 1, 1.0), (h + h // 2, 1, 2.0), (h, 2, 3.0)], now - 60)
    _write("f2.parquet", [(4 * h, 2, 4.0)], now - 30)


def test_ttl_state_evicts_quiet_tracks(spark, tmp_path):
    """Event-time TTL lifecycle (the reference's 180 s staleness done
    engine-side): exactly the quiet track — user 1, 2 events, last at
    hour 1.5 — is evicted once the watermark passes its last event +
    TTL."""
    _write_ttl_fixture(tmp_path)
    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path))
    )
    result = runners.drain(
        runners.track_ttl_state_stream(stream, ttl_seconds=3600),
        output_mode="append",
    )
    closed = sorted(
        (r["user_id"], r["n_events"], r["last_ts"].isoformat())
        for r in result.collect()
    )
    assert closed == [(1, 2, "1970-01-01T01:30:00")]


def test_s9_left_outer_emits_expired_nulls_withholds_recent(spark, tmp_path):
    """Planted attribution scenario for the left-outer interval join:
    an old non-converting click must surface as a null-extended row,
    while an unmatched click inside the 30-minute emission horizon of
    the final watermark must be withheld (its match could still arrive
    in a live run)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.streaming import runners

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)

    def ev(eid, minutes, user, etype, value=None):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, etype, value, None)

    rows = [
        ev(1, 0, 1, "click"),            # converts (purchase at +10)
        ev(2, 10, 1, "purchase", 5.0),
        ev(3, 20, 2, "click"),           # never converts, old -> null row
        ev(4, 170, 3, "click"),          # unmatched, inside horizon -> withheld
        # watermark anchors: max click 170, max purchase 180 -> wm 170;
        # click 4 has 170+30 > 170, click 3 has 20+30 < 170
        ev(5, 180, 9, "purchase", 1.0),
    ]
    # single parquet FILE (not a Spark directory): the file-stream
    # source watches a symlink of the path itself, like the testdata
    pdf = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).toPandas()
    pdf.to_parquet(str(tmp_path / "events.parquet"))

    out = runners.drain(
        runners.stream_stream_interval_join(
            runners.events_stream(spark, str(tmp_path)), "leftOuter", "0 seconds"
        )
    ).collect()
    got = {(r["user_id"], r["purchase_ts"] is None) for r in out}
    assert (1, False) in got, "converting click must emit the matched pair"
    assert (2, True) in got, "expired unmatched click must emit a null row"
    assert all(u != 3 for u, _ in got), "in-horizon unmatched click must be withheld"
    assert len(out) == 2


def test_capped_sessions_cross_batch_and_cap_split(spark, tmp_path):
    """Planted-case semantics for the capped sessionizer: cap overflow
    opens a new session, a 30-min gap opens a new session, state
    carries the OPEN session across a micro-batch boundary, and only
    the trailing session stays open. Batch files are split by time
    (the landing-directory contract), so arrival order is event order."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, minutes, value):
        return (eid, t0 + dt.timedelta(minutes=minutes), 1, value)

    # batch 0: cap-2 session [e1,e2], overflow opens [e3] (still open
    # at the boundary); batch 1: e4 continues within gap -> closes
    # [e3,e4] at cap when e5 arrives after the 30-min gap -> [e5] open.
    batch0 = [ev(1, 0, 1.0), ev(2, 10, 2.0), ev(3, 12, 3.0)]
    batch1 = [ev(4, 20, 4.0), ev(5, 60, 5.0)]
    cols = ["event_id", "ts", "user_id", "value"]
    replay = str(tmp_path / "replay")
    import os
    import time

    seen: set[str] = set()
    for i, batch in enumerate([batch0, batch1]):
        spark.createDataFrame(batch, cols).coalesce(1).write.mode(
            "append"
        ).parquet(replay)
        # distinct mtimes on each batch's NEW files only => the file
        # source picks them up in written order
        for f in os.listdir(replay):
            if f not in seen:
                seen.add(f)
                t = time.time() + i * 10
                os.utime(os.path.join(replay, f), (t, t))

    schema = spark.read.parquet(replay).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    result = runners.drain(
        runners.capped_sessions_stream(stream),
        output_mode="update",
    )
    # last emission per (user, seq) = final verdict for that session
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "session_seq").orderBy(
        F.col("n_events").desc(), F.col("closed").desc()
    )
    final = (
        result.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .orderBy("session_seq")
        .collect()
    )
    got = [
        (r["session_seq"], r["n_events"], r["sum_value"], r["closed"])
        for r in final
    ]
    assert got == [
        (0, 2, 3.0, True),   # e1+e2: closed by cap overflow at e3
        (1, 2, 7.0, True),   # e3+e4 across the batch boundary; closed at e5
        (2, 1, 5.0, False),  # e5: trailing session stays open
    ]


def test_stateful_state_survives_restart(spark, sf_dir, tmp_path):
    """The reference's execution model is scheduled RE-INVOCATION
    (task.ts:122): every run must resume exactly where the last ended.
    Engine-side that is checkpointed state: run the stateful per-user
    tracker with trigger(availableNow) over half the data, STOP, land
    more files, run again with the same checkpoint — the final state
    must equal the batch aggregate over everything, proving state-store
    recovery + exactly-once file-source progress across process-style
    restarts (not just within one query)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    src = load(spark, sf_dir, "events")
    half_a = src.where(F.col("event_id") % 2 == 0)
    half_b = src.where(F.col("event_id") % 2 == 1)
    replay = str(tmp_path / "replay")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    half_a.coalesce(2).write.parquet(replay)
    schema = spark.read.parquet(replay).schema

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        q = (
            runners.user_track_state_stream(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # invocation 1: half the files
    half_b.coalesce(2).write.mode("append").parquet(replay)
    run_once()  # invocation 2: resumes from checkpointed state

    emissions = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        emissions.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 4).alias("total_value"),
        )
    )
    expected = src.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.coalesce("value", F.lit(0.0))), 4).alias(
            "total_value"
        ),
    )
    cols = ["user_id", "n_events", "total_value"]
    assert _rows(final, cols) == _rows(expected, cols)


def test_s12_trending_invariant_to_batch_split(spark, sf_dir):
    """The serving-table result must be a pure function of the data,
    not of how the stream was chopped into micro-batches: a 1-batch
    replay (everything at once) and the 4-batch replay produce
    identical top-k tables, and ranks are contiguous from 1 per
    window."""
    four = runners.trending_topk_run(spark, sf_dir, n_batches=4)
    one = runners.trending_topk_run(spark, sf_dir, n_batches=1)
    cols = ["window_start", "rnk", "event_type", "n", "sum_value"]
    rows4 = sorted(tuple(r[c] for c in cols) for r in four.collect())
    rows1 = sorted(tuple(r[c] for c in cols) for r in one.collect())
    assert rows4 == rows1
    by_w = {}
    for r in rows4:
        by_w.setdefault(r[0], []).append(r[1])
    for w, rnks in by_w.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))
        assert len(rnks) <= 3


def test_s13_streaming_ivf_matches_batch_assignment(spark, sf_dir):
    """VERDICT r06 stretch: the streaming ANN ingest's final serving
    table must equal l17's batch IVF assignment on the same data (cell
    assignment is per-vector — arrival order and batch splits must not
    matter), and a 1-batch replay must agree with the 4-batch one."""
    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        _ivf_assign,
        _ivf_corpus,
        _ivf_index,
    )
    from etl_wlg_metlink_spark.tables import load

    four = runners.ivf_ingest_run(spark, sf_dir, n_batches=4)
    got4 = {r["vec_id"]: r["cell"] for r in four.collect()}

    emb = load(spark, sf_dir, "embeddings")
    sid, cent, cnorm = _ivf_index(emb, cache_key=sf_dir)
    batch = {
        r["vec_id"]: r["cell"]
        for r in _ivf_assign(_ivf_corpus(emb), sid, cent, cnorm)
        .select("vec_id", "cell")
        .collect()
    }
    assert got4 == batch

    one = runners.ivf_ingest_run(spark, sf_dir, n_batches=1)
    got1 = {r["vec_id"]: r["cell"] for r in one.collect()}
    assert got1 == batch


def test_s14_drift_psi_matches_batch_and_is_sound(spark, sf_dir):
    """The streaming drift monitor must equal the batch PSI computed
    directly from the events table (replay admits no late drops), PSI
    must be non-negative everywhere (each (p-q)·ln(p/q) term is), and
    the drift fences must follow the psi value exactly."""
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.tables import load

    got = runners.drift_monitor_run(spark, sf_dir).collect()
    assert got, "corpus spans multiple hourly windows"

    events = load(spark, sf_dir, "events")
    counts = (
        events.groupBy(
            F.date_format(
                F.window("ts", "1 hour").start, "yyyy-MM-dd HH:mm:ss"
            ).alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .collect()
    )
    ref: dict = {}
    for r in counts:
        ref[r["event_type"]] = ref.get(r["event_type"], 0) + r["n"]
    ref_total = sum(ref.values())

    import math

    by_window: dict = {}
    for r in counts:
        by_window.setdefault(r["window_start"], []).append(r)
    expected = {}
    for wstart, rows in by_window.items():
        total = sum(r["n"] for r in rows)
        fp = 0
        for r in rows:
            p = r["n"] / total
            q = ref[r["event_type"]] / ref_total
            fp += math.floor((p - q) * math.log(p / q) * 1e6 + 0.5)
        expected[wstart] = (total, fp / 1e6)

    assert len(got) == len(expected)
    for r in got:
        total, psi = expected[r["window_start"]]
        assert r["n_events"] == total
        assert r["psi"] == psi  # exact: int64 fixed-point both sides
        assert r["psi"] >= 0.0
        want_level = (
            "major" if psi >= 0.25 else
            "moderate" if psi >= 0.1 else "stable"
        )
        assert r["drift_level"] == want_level


def _left_behind(made_dirs):
    """The dirs runners made that still exist, beyond the staged
    replays it keeps for reuse."""
    staged = set(runners._STAGED.values())
    return [d for d in made_dirs if os.path.exists(d) and d not in staged]


def test_s15_streaming_cms_matches_pure_python_and_batch(
    spark, sf_dir, made_dirs
):
    """The streamed-and-merged CMS must equal a from-scratch Python
    sketch built from the full events table (mergeability: per-batch
    partial grids summed == one global build), the one-sided guarantee
    must hold, the report must cover exactly the true top-K keys, and
    the run must leave no ledger dir behind."""
    import hashlib
    from collections import Counter

    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        CMS_D,
        CMS_W,
        L92_TOP_K,
    )
    from etl_wlg_metlink_spark.tables import load

    got = {
        r["user_key"]: (r["true_count"], r["est_count"], r["overcount"])
        for r in runners.countmin_ingest_run(spark, sf_dir).collect()
    }
    assert made_dirs and _left_behind(made_dirs) == []

    true = Counter()
    for r in (
        load(spark, sf_dir, "events")
        .groupBy(F.col("user_id").cast("string").alias("k"))
        .agg(F.count("*").alias("c"))
        .collect()
    ):
        true[r["k"]] = r["c"]

    def bkt(rr: int, k: str) -> int:
        h = int(hashlib.md5(f"cms{rr}|{k}".encode()).hexdigest()[:15], 16)
        return h % CMS_W

    cells = Counter()
    for k, c in true.items():
        for rr in range(CMS_D):
            cells[(rr, bkt(rr, k))] += c

    top = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))[:L92_TOP_K]
    expected = {
        k: (c, min(cells[(rr, bkt(rr, k))] for rr in range(CMS_D)))
        for k, c in top
    }
    assert set(got) == set(expected)
    for k, (c, e) in expected.items():
        assert got[k] == (c, e, e - c)
        assert e >= c


def test_s16_hll_stream_equals_batch_for_any_split(spark, sf_dir, made_dirs):
    """The HLL register merge is associative, so the streamed sketch
    must equal l95's batch sketch EXACTLY regardless of how the replay
    is split into micro-batches, and no run may leave its ledger dir
    behind."""
    from etl_wlg_metlink_spark.operators import llm_pipeline as lp
    from etl_wlg_metlink_spark.streaming import runners

    batch = sorted(
        map(tuple, lp.l95_hll_cardinality(spark, sf_dir).collect())
    )
    for nb in (2, 4):
        got = sorted(
            map(
                tuple,
                runners.hll_ingest_run(spark, sf_dir, n_batches=nb).collect(),
            )
        )
        assert got == batch, f"n_batches={nb} diverged from batch"
    assert made_dirs and _left_behind(made_dirs) == []
