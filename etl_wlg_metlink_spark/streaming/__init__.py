"""M5 streaming catalog: the reference's scheduled-poll lifecycle
(/root/reference/task.ts:122 `InvocationType.Schedule`) generalized to
Structured Streaming.

Two layers:
- `runners` — actual readStream/writeStream pipelines (availableNow
  one-shot trigger ≈ one Lambda invocation; watermarks; foreachBatch
  submit sink). Verified by streaming-vs-batch parity tests.
- this module's QUERIES — the BATCH equivalents of the windowed
  aggregations (tumbling / sliding / session), DuckDB-oracle-checked;
  Structured Streaming runs the identical expressions incrementally,
  which is exactly Spark's unified-engine contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_wlg_metlink_spark.streaming import runners
from etl_wlg_metlink_spark.tables import load


def s1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type: the batch
    run of runners.tumbling_counts_stream, the one definition a stream
    runs too (parity-tested)."""
    return runners.tumbling_counts_stream(load(spark, sf_dir, "events"))


def s2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide): every event lands in two
    windows; counts per window per type."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
            "sum_value",
        )
    )


def s3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (30-minute inactivity gap): Spark's
    `session_window`; the oracle is the classic gaps-and-islands SQL.
    A new session starts when the gap is ≥ the timeout (session extent
    is half-open [start, last+gap))."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "sum_value",
        )
    )


def s4_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator, end-to-end through the
    driver gate: replay events as a stream, accumulate per-user
    (count, total) in the state store via applyInPandasWithState
    (runners.user_track_state_stream), take the final emission per
    user. Oracle = the batch aggregate — streaming state must converge
    to exactly the batch answer."""
    from pyspark.sql import Window

    stream = runners.events_stream(spark, sf_dir)
    result = runners.drain(
        runners.user_track_state_stream(stream), output_mode="update"
    )
    # the LAST emission per user is the final state; n_events is
    # monotone so it orders emissions. (max(total_value) would be
    # wrong the moment a value is negative — an intermediate running
    # total can exceed the final one.)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        result.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 4).alias("total_value"),
        )
    )


def s5_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1's streaming form end-to-end through the driver gate: replay
    events as a stream, dropDuplicatesWithinWatermark on
    (user_id, event_type) with a 1-hour event-time watermark
    (runners.dedup_within_watermark_stream). The single-file replay is
    one micro-batch, so the horizon covers the whole stream and the
    result is exactly the distinct key set — the oracle. Key-only
    projection keeps the streaming answer deterministic (the surviving
    physical row within a batch is partition-order-dependent)."""
    stream = runners.events_stream(spark, sf_dir)
    return runners.drain(runners.dedup_within_watermark_stream(stream))


def s6_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join end-to-end through the driver
    gate: replay events as a stream, broadcast-join the static
    customer dim, aggregate per (mktsegment, event_type)
    (runners.stream_static_enrich_stream, complete mode). The
    availableNow replay is one micro-batch, so the streaming result
    equals the batch join+aggregate — the oracle."""
    stream = runners.events_stream(spark, sf_dir)
    customer = load(spark, sf_dir, "customer")
    return runners.drain(
        runners.stream_static_enrich_stream(stream, customer),
        output_mode="complete",
    )


def s7_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join end-to-end through the driver gate:
    click→purchase attribution within 30 minutes per user
    (runners.stream_stream_interval_join). The availableNow replay of
    the single-file source is one micro-batch, so the inner interval
    join emits exactly the batch self-join — the oracle."""
    stream = runners.events_stream(spark, sf_dir)
    return runners.drain(
        runners.stream_stream_interval_join(stream, "inner", "2 hours")
    )


def s8_streaming_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingest with cross-batch exact dedup, end-to-end
    through the driver gate: the documents table replays as 4
    deterministic doc_id-ordered micro-batches; each batch
    fingerprints itself, collapses within-batch dups, anti-joins the
    on-disk fingerprint ledger and appends only novel docs
    (runners.corpus_ingest_dedup_run — the streaming twin of l25's
    batch-vs-corpus dedup, with ledger state in storage rather than
    the state store). Because the replay ascends in doc_id,
    first-arrival == global min-doc_id per fingerprint, so the final
    survivor set equals l5's batch window rule — the oracle."""
    survivors = runners.corpus_ingest_dedup_run(spark, sf_dir)
    return survivors.select("doc_id", "source", "fp")


def s9_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join through the driver gate
    (runners.stream_stream_interval_join, leftOuter): matched click→purchase
    pairs plus null-extended rows for non-converting clicks old enough
    that the watermark proves no match can arrive. The oracle encodes
    the emission horizon: an unmatched click appears iff
    click_ts + 30min < min(max click ts, max purchase ts) — the
    availableNow-final global watermark at 0s delay."""
    stream = runners.events_stream(spark, sf_dir)
    return runners.drain(
        runners.stream_stream_interval_join(stream, "leftOuter", "0 seconds")
    )


def s10_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom capped sessionization through the driver gate: sessions
    close on a 30-minute gap OR at SESSION_CAP events — semantics
    Spark's native session_window cannot express, implemented as an
    applyInPandasWithState operator (runners.capped_sessions_stream).
    Update-mode re-emits a session each batch its key appears in, so
    the lane keeps only the LAST emission per (user_id, session_seq)
    (max n_events, closed beats open — a later emission of the same
    session always has >= events). With a single-file replay the dedup
    is a no-op, but correctness no longer depends on that data-layout
    invariant: a multi-file landing (maxFilesPerTrigger=1 → several
    micro-batches) re-emits boundary-open sessions and still converges
    to the same final verdicts. The oracle is the closed-form batch
    equivalent (gaps-and-islands, then positional cap split within
    each island — cap splitting is positional, which is what makes
    these custom semantics SQL-checkable at all)."""
    from pyspark.sql import Window

    stream = runners.events_stream(spark, sf_dir)
    result = runners.drain(
        runners.capped_sessions_stream(stream), output_mode="update"
    )
    w = Window.partitionBy("user_id", "session_seq").orderBy(
        F.col("n_events").desc(), F.col("closed").desc()
    )
    return (
        result.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "session_seq",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            # JVM-side half-up rounding, matching the oracle's ROUND —
            # the worker emits raw sums (Python round() is half-even).
            F.round("sum_value", 4).alias("sum_value"),
            "closed",
        )
    )


def s11_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus quality gate through the driver gate: the
    documents table replays as 4 deterministic micro-batches (s8's
    landing-directory staging) and the l46 rule-card bits compose
    UNCHANGED onto the streaming source — map-only quality expressions
    are trigger-agnostic, which is Spark's unified-engine contract and
    exactly how a production ingest gates quality in-flight instead of
    re-scanning the landed corpus. Keep/drop counts per language
    accumulate across batches in complete mode; the oracle is the
    batch rollup of the same shared bit definitions (l46_rule_bits —
    one definition, two engines, two execution modes).

    Scale shape: per-batch map-only scoring; the only state is the
    (#langs × 2)-row aggregate."""
    from functools import reduce

    from etl_wlg_metlink_spark.operators.llm_pipeline import (
        _words,
        l46_rule_bits,
    )
    _, stream = runners.staged_replay(spark, sf_dir, "documents", "doc_id", 4)
    base = stream.select("lang", _words(F.col("text")).alias("ws"))
    bits = l46_rule_bits(F.col("ws"))
    any_failed = reduce(lambda a, b: a | b, bits.values())
    verdict = F.when(~any_failed, "keep").otherwise("drop")
    agg = (
        base.select("lang", verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(F.count("*").alias("n_docs"))
    )
    return runners.drain(agg, output_mode="complete")


QUERIES = {
    "s1_tumbling_window": s1_tumbling_window,
    "s2_sliding_window": s2_sliding_window,
    "s3_session_window": s3_session_window,
    "s4_stateful_running_totals": s4_stateful_running_totals,
    "s5_watermark_dedup": s5_watermark_dedup,
    "s6_stream_static_join": s6_stream_static_join,
    "s7_stream_stream_join": s7_stream_stream_join,
    "s8_streaming_ingest_dedup": s8_streaming_ingest_dedup,
    "s9_stream_left_outer_join": s9_stream_left_outer_join,
    "s10_capped_sessions": s10_capped_sessions,
    "s11_stream_quality_gate": s11_stream_quality_gate,
}


def _s10_oracle() -> str:
    from etl_wlg_metlink_spark.streaming.runners import (
        SESSION_CAP,
        SESSION_GAP_SECONDS,
    )

    return f"""
        WITH g AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w
                         >= INTERVAL {SESSION_GAP_SECONDS} SECOND
                 THEN 1 ELSE 0 END AS ng
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        isl AS (
          SELECT *, SUM(ng) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS island
          FROM g
        ),
        pos AS (
          SELECT *, (ROW_NUMBER() OVER (PARTITION BY user_id, island
                                        ORDER BY ts, event_id) - 1)
                    // {SESSION_CAP} AS sub_idx
          FROM isl
        ),
        sess AS (
          SELECT user_id, island, sub_idx,
                 MIN(ts) AS session_start, COUNT(*) AS n_events,
                 ROUND(COALESCE(SUM(value), 0), 4) AS sum_value
          FROM pos GROUP BY 1, 2, 3
        )
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY island, sub_idx) - 1
                 AS session_seq,
               strftime(session_start, '%Y-%m-%d %H:%M:%S')
                 AS session_start,
               n_events, sum_value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY island DESC, sub_idx DESC) > 1
                 AS closed
        FROM sess
    """


# s11's oracle shares the stopword literal with the l46 twin (one
# definition — the module import is side-effect-free).
from etl_wlg_metlink_spark.operators.llm_pipeline import _STOP_SQL  # noqa: E402

ORACLE = {
    "s10_capped_sessions": _s10_oracle(),
    "s1_tumbling_window": """
        SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "s2_sliding_window": """
        WITH assigned AS (
          SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, value FROM events
          UNION ALL
          SELECT time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR, value
          FROM events
        )
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        FROM assigned GROUP BY 1
    """,
    "s4_stateful_running_totals": """
        SELECT user_id, COUNT(*) AS n_events,
               ROUND(SUM(COALESCE(value, 0)), 4) AS total_value
        FROM events GROUP BY user_id
    """,
    "s5_watermark_dedup": """
        SELECT DISTINCT user_id, event_type FROM events
    """,
    "s6_stream_static_join": """
        SELECT c_mktsegment AS mktsegment, event_type,
               COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        FROM events LEFT JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """,
    "s9_stream_left_outer_join": """
        WITH c AS (
          SELECT user_id, ts FROM events WHERE event_type = 'click'
        ),
        p AS (
          SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
        ),
        wm AS (
          SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p)) AS w
        )
        SELECT c.user_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               ROUND(p.value, 4) AS purchase_value
        FROM c JOIN p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        UNION ALL
        SELECT c.user_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               NULL AS purchase_ts,
               NULL::DOUBLE AS purchase_value
        FROM c, wm
        WHERE NOT EXISTS (
                SELECT 1 FROM p
                WHERE p.user_id = c.user_id
                  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
              )
          AND c.ts + INTERVAL 30 MINUTE < wm.w
    """,
    "s7_stream_stream_join": """
        SELECT c.user_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               ROUND(p.value, 4) AS purchase_value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    "s8_streaming_ingest_dedup": """
        WITH f AS (
          SELECT doc_id, source,
                 md5(array_to_string(
                   list_sort(list_distinct(string_split(text, ' '))), ' '))
                   AS fp,
                 ROW_NUMBER() OVER (PARTITION BY
                   md5(array_to_string(
                     list_sort(list_distinct(string_split(text, ' '))), ' '))
                   ORDER BY doc_id) AS rn
          FROM documents
        )
        SELECT doc_id, source, fp FROM f WHERE rn = 1
    """,
    "s3_session_window": """
        WITH ordered AS (
          SELECT user_id, ts, value,
                 CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        >= INTERVAL 30 MINUTE
                      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
        ),
        sessions AS (
          SELECT user_id, ts, value,
                 SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM ordered
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
        FROM sessions GROUP BY user_id, session_id
    """,
    "s11_stream_quality_gate": f"""
        WITH t AS (
          SELECT lang, string_split(text, ' ') AS ws FROM documents
        ), m AS (
          SELECT lang,
                 len(ws) AS n,
                 len(list_distinct(ws))::DOUBLE / len(ws) AS ttr,
                 len(list_filter(ws, w -> w IN ({_STOP_SQL})))::DOUBLE
                   / len(ws) AS stop_ratio,
                 list_sum(list_transform(ws, w -> length(w)))::DOUBLE
                   / len(ws) AS mean_len
          FROM t
        )
        SELECT lang,
               CASE WHEN NOT (n < 20 OR ttr < 0.35 OR stop_ratio < 0.01
                              OR mean_len < 4.25 OR mean_len > 4.85)
                    THEN 'keep' ELSE 'drop' END AS verdict,
               COUNT(*) AS n_docs
        FROM m GROUP BY 1, 2
    """,
}


def s12_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending top-k per hour — update-mode watermarked
    window counts upserted into a keyed `runners.ledger` across 4
    ts-ordered micro-batches, compacted last-write-wins and
    ranked per window on the serving read (runners.trending_topk_run;
    the two-phase streaming top-k every live dashboard runs). The
    oracle is the equivalent batch rank over the full table — exact
    because the ts-range staging admits zero late drops (see
    runners.staged_replay)."""
    return runners.trending_topk_run(spark, sf_dir)


QUERIES["s12_trending_topk"] = s12_trending_topk

ORACLE["s12_trending_topk"] = """
    WITH counts AS (
      SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                      '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, rnk, event_type, n, sum_value FROM (
      SELECT *, row_number() OVER (PARTITION BY window_start
                 ORDER BY n DESC, event_type) AS rnk
      FROM counts
    ) WHERE rnk <= 3
"""


def s13_streaming_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index maintenance: vectors arrive as 4 micro-
    batches, each assigned to its max-cosine IVF cell against the
    broadcast fixed quantizer inside foreachBatch, upserted into a
    keyed `runners.ledger`, compacted last-write-wins on the serving
    read
    (runners.ivf_ingest_run — the streaming twin of l17's batch
    build). Cell assignment is per-vector, so the serving table equals
    the batch assignment exactly — the oracle is l17's assign CTE."""
    return runners.ivf_ingest_run(spark, sf_dir)


QUERIES["s13_streaming_ann_ingest"] = s13_streaming_ann_ingest

from etl_wlg_metlink_spark.operators.llm_pipeline import (  # noqa: E402
    _DUCK_COSINE_CORPUS,
    _DUCK_IVF_TRAIN,
)

ORACLE["s13_streaming_ann_ingest"] = f"""
    WITH c AS ({_DUCK_COSINE_CORPUS}),
    {_DUCK_IVF_TRAIN}
    SELECT vec_id, cell FROM (
      SELECT c.vec_id, seed_id AS cell,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
               list_sum(list_transform(range(1, 65),
                 i -> c.embedding[i]::DOUBLE * se[i]))
                 / (c.norm * sn) DESC,
               seed_id) AS ar
      FROM c, seeds
    ) WHERE ar = 1
"""


def s14_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: windowed event-type mix
    scored with the Population Stability Index against the static
    reference profile, with stable/moderate/major fences at the
    conventional 0.1/0.25 (runners.drift_monitor_run — the data-quality
    alarm a production training-ingest runs in front of admission).
    Oracle = the identical batch math over the full table (the
    availableNow replay admits zero late drops)."""
    return runners.drift_monitor_run(spark, sf_dir)


QUERIES["s14_drift_monitor"] = s14_drift_monitor

ORACLE["s14_drift_monitor"] = """
    WITH counts AS (
      SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                      '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ref AS (SELECT event_type, COUNT(*) AS n_ref FROM events GROUP BY 1),
    rt AS (SELECT SUM(n_ref) AS ref_total FROM ref),
    wt AS (SELECT window_start, SUM(n) AS window_total
           FROM counts GROUP BY 1),
    c AS (
      SELECT window_start, window_total,
             CAST(floor((n::DOUBLE / window_total
                         - n_ref::DOUBLE / ref_total)
                        * ln((n::DOUBLE / window_total)
                             / (n_ref::DOUBLE / ref_total))
                        * 1000000 + 0.5) AS BIGINT) AS contrib
      FROM counts JOIN wt USING (window_start)
                  JOIN ref USING (event_type), rt
    ),
    p AS (
      SELECT window_start, window_total,
             SUM(contrib) / 1000000.0 AS psi
      FROM c GROUP BY 1, 2
    )
    SELECT window_start, CAST(window_total AS BIGINT) AS n_events, psi,
           CASE WHEN psi >= 0.25 THEN 'major'
                WHEN psi >= 0.1 THEN 'moderate'
                ELSE 'stable' END AS drift_level
    FROM p
"""


def s15_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min-sketch maintenance: per-micro-batch partial
    d×w grids merged by elementwise sum through a `runners.ledger`
    (a replayed batch overwrites its own partials, so the sum never
    double-counts — see runners.countmin_ingest_run), serving
    est-vs-true for the heaviest user keys. Stream equals batch
    because every stage is an associative counter sum, so the oracle
    is l92's batch build keyed by user_id over the full events
    table."""
    return runners.countmin_ingest_run(spark, sf_dir)


QUERIES["s15_streaming_countmin"] = s15_streaming_countmin

from etl_wlg_metlink_spark.operators.llm_pipeline import (  # noqa: E402
    _duck_cms_topk,
)

ORACLE["s15_streaming_countmin"] = _duck_cms_topk(
    """SELECT CAST(user_id AS VARCHAR) AS user_key, COUNT(*) AS c
       FROM events GROUP BY 1""",
    "user_key",
)


def s16_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog maintenance: per-micro-batch partial
    register grids (≤ types×256 rows each) written to a
    `runners.ledger` and MAX-merged on the serving read
    (runners.hll_ingest_run) — the simplest member of the
    sketch-maintenance family. Serving runs l95's shared estimator,
    so the lane reuses l95's DuckDB oracle verbatim: stream equals
    batch because max(max(A), max(B)) = max(A ∪ B)."""
    return runners.hll_ingest_run(spark, sf_dir)


QUERIES["s16_streaming_hll"] = s16_streaming_hll

from etl_wlg_metlink_spark.operators.llm_pipeline import (  # noqa: E402
    ORACLE as _LP_ORACLE,
)

#: shared verbatim with l95 — one report (_hll_report), one oracle
ORACLE["s16_streaming_hll"] = _LP_ORACLE["l95_hll_cardinality"]


def s17_streaming_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV (theta) maintenance: per-micro-batch k-minimum-
    values partials written to a `runners.ledger`, dedup-merged and
    re-sketched on the serving read (runners.kmv_ingest_run).
    k-smallest-of-distinct-union is associative — s16's MAX-merge
    argument in order statistics. Serving runs l97's shared report
    (_kmv_report), so the lane reuses l97's DuckDB oracle verbatim:
    stream equals batch because the k smallest of a union is the k
    smallest of the parts' k-smallests."""
    return runners.kmv_ingest_run(spark, sf_dir)


QUERIES["s17_streaming_kmv"] = s17_streaming_kmv

#: shared verbatim with l97 — one report (_kmv_report), one oracle
ORACLE["s17_streaming_kmv"] = _LP_ORACLE["l97_kmv_set_cardinality"]
