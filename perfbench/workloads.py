"""The three workloads. Each takes a ``Context`` whose session is
already built and returns a ``Result``; see NOTES.md for why each
exists and which layer metric should move which end-to-end metric.

All loops are closed, with one client: the next envelope or lane starts
only after the previous one has returned.
"""

from __future__ import annotations

import logging
import math
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.check import FeatureTally, LaneOracle
from perfbench.trace import JobStats, Tracer

log = logging.getLogger("perfbench")

#: Polls (and envelopes of the schedule warm-up query) run before timing.
WARMUP_OPS = 2
#: Fewest timed operations per run, whatever ``--seconds`` says.
MIN_OPS = 8
#: Every operator module, eager build-time jobs and
#: ``tables.load_spread`` (l70), and the artifact store (l72 mines
#: ``minhash_hashed`` cold and reads it warm). l6, l38 and l56 were left
#: out to fit the run budget; see NOTES.md.
LANES = (
    "l70_rag_chunk_retrieval",
    "l72_containment_dedup",
    "m4_metlink_bulk",
    "r25_pricing_summary",
    "r28_min_cost_supplier",
    "x1_percentiles",
)
LANE_MODULES = ("llm_pipeline", "relational", "extended", "metlink_queries")
#: Lanes that mine a derived artifact on the cold pass.
MINING_LANES = ("l72_containment_dedup",)


@dataclass
class Context:
    spark: object
    root: str  # the checkout
    tmp: str  # this run's private directory, removed afterwards
    seed: int
    seconds: float
    tracer: Tracer


@dataclass
class Result:
    attempted: int
    failed: int
    correct: bool
    #: end-to-end metrics except setup_s, which the caller measures
    metrics: dict
    #: per-layer metrics of this workload (traced run only)
    layers: dict = field(default_factory=dict)


def _p50_p90_ms(samples: list[float]) -> tuple[float, float]:
    # "inclusive": with ~10 samples the default method puts p90 at the
    # maximum, so one stalled op would set it.
    p90 = (statistics.quantiles(samples, n=10, method="inclusive")[8]
           if len(samples) > 1 else samples[0])
    return statistics.median(samples) * 1000, p90 * 1000


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


def _op_metrics(latencies: list[float], cold_s: float, tally: FeatureTally) -> dict:
    log.info("cold %.3f s, then %d timed ops (s): %s", cold_s, len(latencies),
             " ".join(f"{x:.3f}" for x in latencies))
    p50, p90 = _p50_p90_ms(latencies)
    return {
        "op_p50_ms": p50,
        "op_p90_ms": p90,
        "ops_per_s": len(latencies) / sum(latencies),
        "cold_suite_s": cold_s,
        "warm_suite_s": p50 / 1000,
        "match_share": tally.match_share(),
    }


def _report_tally(name: str, tally: FeatureTally) -> None:
    log.info("%s: %d features, %d differ from the oracle (%d unexplained); "
             "first difference: %s", name, tally.features, tally.wrong,
             tally.unexplained, tally.first_diff)


def poll(ctx: Context) -> Result:
    """Envelope string → ``sources.gtfs`` → ``pipelines.metlink`` →
    ``sinks.geojson.submit``, one fresh envelope per poll."""
    from etl_wlg_metlink_spark.pipelines import metlink
    from etl_wlg_metlink_spark.sinks import geojson
    from etl_wlg_metlink_spark.sources import gtfs

    spark, tr = ctx.spark, ctx.tracer
    tally = FeatureTally()
    latencies, layers = [], []
    failed = cold_s = 0
    i = 0
    start = None
    while failed < MIN_OPS and (
        start is None or time.perf_counter() - start < ctx.seconds
        or len(latencies) < MIN_OPS
    ):
        if i == WARMUP_OPS:
            start = time.perf_counter()
        ents = gen.entities(ctx.seed, i)
        raw = gen.envelope(ents, i)
        posted = []
        g = f"poll-{i}"
        try:
            t0 = time.perf_counter()
            tr.group(f"{g}-parse")
            df = gtfs.entities_from_json(spark, raw)
            t1 = time.perf_counter()
            tr.group(f"{g}-build")
            features = metlink.run(df)
            t2 = time.perf_counter()
            tr.group(f"{g}-submit")
            geojson.submit(features, posted.append)
            t3 = time.perf_counter()
        except Exception:
            log.exception("poll %d failed", i)
            failed += 1
            i += 1
            continue
        tally.add(posted[0], ents)
        if i == 0:
            cold_s = t3 - t0
        if i >= WARMUP_OPS:
            latencies.append(t3 - t0)
            if tr.enabled:
                submit = tr.stats(f"{g}-submit")
                every = tr.stats(f"{g}-parse", f"{g}-build") + submit
                layers.append({
                    "poll.parse_ms": (t1 - t0) * 1000,
                    "poll.build_ms": (t2 - t1) * 1000,
                    "poll.submit_ms": (t3 - t2) * 1000,
                    "poll.jobs_ms": submit.jobs_ms,
                    "poll.driver_ms": (t3 - t2) * 1000 - submit.jobs_ms,
                    "poll.jobs": every.jobs,
                    "poll.stages": every.stages,
                    "poll.tasks": every.tasks,
                    "poll.shuffle_write_bytes": every.shuffle_write_bytes,
                })
        i += 1
    _report_tally("poll", tally)
    if not latencies:
        return Result(i, failed, False, {})
    result = Result(i, failed, failed == 0 and tally.unexplained == 0,
                    _op_metrics(latencies, cold_s, tally))
    if tr.enabled:
        result.layers = {k: statistics.median(d[k] for d in layers) for k in layers[0]}
        result.layers["trace_overhead_pct"] = 100 * tr.overhead_s / sum(latencies)
    return result


def _land(directory: str, seed: int, first: int, count: int) -> list[list[dict]]:
    """Write envelopes ``first .. first+count-1`` as one file each with
    strictly increasing mtimes (the file source's batch order)."""
    os.makedirs(directory)
    out = []
    for k in range(first, first + count):
        ents = gen.entities(seed, k)
        path = os.path.join(directory, f"envelope-{k:05d}.json")
        with open(path, "w") as f:
            f.write(gen.envelope(ents, k))
        os.utime(path, (gen.BASE_TS + k, gen.BASE_TS + k))
        out.append(ents)
    return out


@dataclass
class StreamRun:
    entities: list  # per envelope, in landing order
    posted: list  # (perf_counter time, FeatureCollection) per poster call
    t0: float  # perf_counter time just before start()
    start_s: float  # start() call
    wall_s: float  # start() to termination
    query: object
    checkpoint: str


def _stream(ctx: Context, name: str, first: int, count: int) -> StreamRun:
    """One availableNow run of ``metlink_envelope_stream`` over freshly
    landed envelopes, with a fresh checkpoint."""
    from etl_wlg_metlink_spark.streaming import runners

    land = os.path.join(ctx.tmp, f"{name}-landing")
    ckpt = os.path.join(ctx.tmp, f"{name}-checkpoint")
    ents = _land(land, ctx.seed, first, count)
    posted = []
    t0 = time.perf_counter()
    q = runners.metlink_envelope_stream(
        ctx.spark, land, lambda fc: posted.append((time.perf_counter(), fc)), ckpt)
    t1 = time.perf_counter()
    q.awaitTermination()
    t2 = time.perf_counter()
    if q.exception() is not None:
        raise RuntimeError(f"{name} stream failed: {q.exception()}")
    return StreamRun(ents, posted, t0, t1 - t0, t2 - t0, q, ckpt)


#: ``schedule.<name>`` → key of a micro-batch's ``durationMs``
_PROGRESS = {"add_batch_ms": "addBatch", "wal_commit_ms": "walCommit",
             "commit_offsets_ms": "commitOffsets", "latest_offset_ms": "latestOffset",
             "query_planning_ms": "queryPlanning", "get_batch_ms": "getBatch"}


def schedule(ctx: Context) -> Result:
    """Land K envelope files, then one availableNow run of the
    streaming runner: file source → offset/commit WALs → foreachBatch
    (pipeline + submit), one FeatureCollection per micro-batch. A short
    warm-up query first gives ``cold_suite_s`` and sizes K."""
    tally = FeatureTally()
    warmup = _stream(ctx, "warmup", 0, WARMUP_OPS)
    timed_first = warmup.posted[-1][0] - warmup.posted[0][0]
    k = max(MIN_OPS + 1, math.ceil(ctx.seconds * (WARMUP_OPS - 1) / timed_first))
    timed = _stream(ctx, "timed", WARMUP_OPS, k)
    for run in (warmup, timed):
        for (_, fc), ents in zip(run.posted, run.entities):
            tally.add(fc, ents)
    _report_tally("schedule", tally)
    missing = WARMUP_OPS + k - len(warmup.posted) - len(timed.posted)
    gaps = [b - a for (a, _), (b, _) in zip(timed.posted, timed.posted[1:])]
    metrics = _op_metrics(gaps, warmup.posted[0][0] - warmup.t0, tally)
    metrics["ops_per_s"] = len(timed.posted) / timed.wall_s
    result = Result(WARMUP_OPS + k, missing, missing == 0 and tally.unexplained == 0,
                    metrics)
    if ctx.tracer.enabled:
        t = time.perf_counter()
        progress = [p for p in timed.query.recentProgress if p.numInputRows > 0]
        result.layers = {
            f"schedule.{name}": statistics.median(p.durationMs.get(key, 0) for p in progress)
            for name, key in _PROGRESS.items()
        }
        result.layers["schedule.start_ms"] = timed.start_s * 1000
        result.layers["schedule.checkpoint_bytes"] = _dir_bytes(timed.checkpoint)
        overhead = ctx.tracer.overhead_s + time.perf_counter() - t
        result.layers["trace_overhead_pct"] = 100 * overhead / timed.wall_s
    return result


@dataclass
class LaneRun:
    build_s: float
    exec_s: float
    build: JobStats
    exec: JobStats

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


def lanes(ctx: Context) -> Result:
    """Six registry lanes over seeded tables: one cold pass on an
    empty artifact store, then as many warm passes (at least one) as
    fit in ``--seconds``.
    A lane run is ``fn(spark, sf)`` (plan construction, including any
    eager jobs) then ``collect()`` of its result, which the benchmark
    checks against the lane's DuckDB oracle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_wlg_metlink_spark import registry

    spark, tr = ctx.spark, ctx.tracer
    queries = registry.all_queries()
    module = {lane: queries[lane].__module__.rsplit(".", 1)[-1] for lane in LANES}
    sf = os.path.join(ctx.tmp, "sf")
    gen.write_tables(ctx.seed, sf)
    oracle = LaneOracle(ctx.root, sf, list(LANES), registry.all_oracles())
    # Untimed session warm-up (scan, join, aggregate, window) so the
    # cold pass measures an empty artifact store, not a cold JVM.
    spark.read.parquet(os.path.join(sf, "lineitem.parquet")).join(
        spark.read.parquet(os.path.join(sf, "part.parquet")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).groupBy("p_brand").agg(F.sum("l_quantity").alias("q")).withColumn(
        "r", F.rank().over(Window.orderBy(F.desc("q")))).collect()

    checked = wrong = failed = 0

    def run(lane: str, tag: str) -> LaneRun | None:
        nonlocal checked, wrong, failed
        try:
            tr.group(f"{tag}-{lane}-build")
            t0 = time.perf_counter()
            df = queries[lane](spark, sf)
            t1 = time.perf_counter()
            tr.group(f"{tag}-{lane}-exec")
            rows = df.collect()
            t2 = time.perf_counter()
        except Exception:
            log.exception("%s %s failed", tag, lane)
            failed += 1
            return None
        checked += 1
        problems = oracle.problems(lane, df.schema, rows)
        if problems:
            wrong += 1
            log.error("%s %s differs from its oracle: %s", tag, lane, "; ".join(problems))
        return LaneRun(t1 - t0, t2 - t1, tr.stats(f"{tag}-{lane}-build"),
                       tr.stats(f"{tag}-{lane}-exec"))

    t_start = time.perf_counter()
    cold = {lane: run(lane, "cold") for lane in LANES}
    artifact_bytes, artifact_entries = _artifact_store(os.environ["SPARK_GRAFT_ARTIFACT_DIR"])
    warm = {lane: [] for lane in LANES}
    start = time.perf_counter()
    n_pass, pass_s = 0, 0.0
    # Another warm pass only if one as long as the last ends within --seconds.
    while n_pass == 0 or time.perf_counter() - start + pass_s <= ctx.seconds:
        t = time.perf_counter()
        for lane in LANES:
            r = run(lane, f"warm{n_pass}")
            if r is not None:
                warm[lane].append(r)
        n_pass += 1
        pass_s = time.perf_counter() - t
    measured_s = time.perf_counter() - t_start
    log.info("lanes: %d results checked, %d differ from their oracle", checked, wrong)
    if failed or any(cold[lane] is None or not warm[lane] for lane in LANES):
        return Result(len(LANES) * (n_pass + 1), failed, False, {})

    runs = [r.total_s for lane in LANES for r in warm[lane]]
    p50, p90 = _p50_p90_ms(runs)
    metrics = {
        "op_p50_ms": p50,
        "op_p90_ms": p90,
        "ops_per_s": len(runs) / sum(runs),
        "cold_suite_s": sum(cold[lane].total_s for lane in LANES),
        "warm_suite_s": sum(statistics.median(r.total_s for r in warm[lane])
                            for lane in LANES),
        "match_share": 1 - wrong / checked,
    }
    result = Result(len(LANES) * (n_pass + 1), failed, wrong == 0, metrics)
    if tr.enabled:
        result.layers = _lane_layers(cold, warm, module)
        result.layers["lanes.artifact_bytes"] = artifact_bytes
        result.layers["lanes.artifact_entries"] = artifact_entries
        result.layers["trace_overhead_pct"] = 100 * tr.overhead_s / measured_s
    return result


def _artifact_store(root: str) -> tuple[int, int]:
    """Bytes under the artifact store and its entries (one directory
    per kind and data key)."""
    if not os.path.isdir(root):
        return 0, 0
    entries = sum(len(os.listdir(os.path.join(root, kind))) for kind in os.listdir(root)
                  if os.path.isdir(os.path.join(root, kind)))
    return _dir_bytes(root), entries


def _lane_layers(cold: dict, warm: dict, module: dict) -> dict:
    def med(lane, f):
        return statistics.median(f(r) for r in warm[lane])

    out = {}
    for m in LANE_MODULES:
        ls = [lane for lane in LANES if module[lane] == m]
        p = f"lanes.{m}"
        out[f"{p}.build_s.cold"] = sum(cold[lane].build_s for lane in ls)
        out[f"{p}.build_s.warm"] = sum(med(lane, lambda r: r.build_s) for lane in ls)
        out[f"{p}.exec_s.cold"] = sum(cold[lane].exec_s for lane in ls)
        out[f"{p}.exec_s.warm"] = sum(med(lane, lambda r: r.exec_s) for lane in ls)
        out[f"{p}.jobs.cold"] = sum((cold[lane].build + cold[lane].exec).jobs for lane in ls)
        out[f"{p}.jobs.warm"] = sum(med(lane, lambda r: (r.build + r.exec).jobs) for lane in ls)
        out[f"{p}.tasks.warm"] = sum(med(lane, lambda r: (r.build + r.exec).tasks)
                                     for lane in ls)
        out[f"{p}.shuffle_write_bytes.warm"] = sum(
            med(lane, lambda r: (r.build + r.exec).shuffle_write_bytes) for lane in ls)
    for lane in MINING_LANES:
        out[f"lanes.{lane}.mine_s"] = cold[lane].build_s - med(lane, lambda r: r.build_s)
        out[f"lanes.{lane}.mine_jobs"] = cold[lane].build.jobs - med(
            lane, lambda r: r.build.jobs)
    return out
