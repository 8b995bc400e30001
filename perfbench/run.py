"""Benchmark entry point.

    python3 perfbench/run.py --workload poll|schedule|lanes \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds a Spark session on
``local[<cores>]`` (cores = CPUs this process may use), runs one
workload, checks its outputs and prints, as the last stdout line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records the environment. Diagnostics
go to stderr. Everything the run writes (tables, landing files,
checkpoints, artifact store, Spark scratch, temp files) lives in a
private directory under ``.perfbench_tmp/`` that is removed on exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import logging
import os
import resource
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: name → (unit, better); ``setup_s`` is measured here, the rest by the
#: workload. Every run reports all of them.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "op_p90_ms": ("ms", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "cold_suite_s": ("s", "lower"),
    "warm_suite_s": ("s", "lower"),
    "match_share": ("share", "higher"),
}


def _per_layer() -> dict:
    from perfbench.workloads import LANE_MODULES, MINING_LANES

    out = {f"poll.{k}": "ms" for k in ("parse_ms", "build_ms", "submit_ms",
                                        "jobs_ms", "driver_ms")}
    out.update({f"poll.{k}": "count" for k in ("jobs", "stages", "tasks")})
    out["poll.shuffle_write_bytes"] = "bytes"
    out.update({f"schedule.{k}": "ms" for k in (
        "add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms",
        "query_planning_ms", "get_batch_ms", "start_ms")})
    out["schedule.checkpoint_bytes"] = "bytes"
    for m in LANE_MODULES:
        for phase in ("cold", "warm"):
            out[f"lanes.{m}.build_s.{phase}"] = "s"
            out[f"lanes.{m}.exec_s.{phase}"] = "s"
            out[f"lanes.{m}.jobs.{phase}"] = "count"
        out[f"lanes.{m}.tasks.warm"] = "count"
        out[f"lanes.{m}.shuffle_write_bytes.warm"] = "bytes"
    for lane in MINING_LANES:
        out[f"lanes.{lane}.mine_s"] = "s"
        out[f"lanes.{lane}.mine_jobs"] = "count"
    out["lanes.artifact_bytes"] = "bytes"
    out["lanes.artifact_entries"] = "count"
    out["trace_overhead_pct"] = "%"
    return out


#: What each workload imports before building the session (part of
#: ``setup_s``), and the call that finishes its import.
_IMPORTS = {
    "poll": ("etl_wlg_metlink_spark.sources.gtfs",
             "etl_wlg_metlink_spark.pipelines.metlink",
             "etl_wlg_metlink_spark.sinks.geojson"),
    "schedule": ("etl_wlg_metlink_spark.streaming.runners",),
    "lanes": ("etl_wlg_metlink_spark.registry",),
}


def _isolate(tmp: str, cores: int) -> None:
    """Point every place the program and Spark write to inside ``tmp``
    (the default artifact store under /tmp or /dev/shm outlives the
    process, so a "cold" pass could otherwise be warm)."""
    for d in ("artifacts", "scratch", "tmp"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(tmp, "artifacts")
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(tmp, "scratch")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(tmp, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData")
    # Python UDF workers import the package too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _environment(spark, seed: int, cores: int) -> dict:
    from etl_wlg_metlink_spark.session import scratch_root

    rel = lambda p: os.path.relpath(p, ROOT) if p else p  # noqa: E731
    return {
        "seed": seed,
        "cores": cores,
        "scratch_root": rel(scratch_root()),
        "artifact_root": rel(os.environ["SPARK_GRAFT_ARTIFACT_DIR"]),
        "spark": spark.version,
        "jvm": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(_IMPORTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    handler = logging.StreamHandler(sys.stderr)
    handler.setFormatter(logging.Formatter("perfbench %(levelname)s %(message)s"))
    log = logging.getLogger("perfbench")
    log.addHandler(handler)
    log.setLevel(logging.INFO)

    t_run = time.perf_counter()
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    spark = None
    try:
        _isolate(tmp, cores)
        from perfbench import workloads
        from perfbench.trace import Tracer

        t0 = time.perf_counter()
        for name in _IMPORTS[args.workload]:
            importlib.import_module(name)
        if args.workload == "lanes":
            sys.modules["etl_wlg_metlink_spark.registry"].all_queries()
        from etl_wlg_metlink_spark.session import build_session

        spark = build_session(app_name=f"perfbench-{args.workload}")
        setup_s = time.perf_counter() - t0
        env = _environment(spark, args.seed, cores)
        ctx = workloads.Context(spark, ROOT, tmp, args.seed, args.seconds,
                                Tracer(spark, bool(args.trace)))
        result = getattr(workloads, args.workload)(ctx)
    except ImportError as e:
        log.error("cannot import the program: %s", e)
        return 2
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # another run still owns a directory there
            pass

    if args.trace:
        metrics = {name: {"value": result.layers.get(name, 0), "unit": unit}
                   for name, unit in _per_layer().items()}
    else:
        values = {"setup_s": setup_s, **result.metrics}
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, (unit, _) in END_TO_END.items() if name in values}
    # CPU seconds of this process and the (exited) JVM against wall
    # seconds: a low ratio on a slow run points at the host, not the program.
    env["wall_s"] = time.perf_counter() - t_run
    env["cpu_s"] = sum(resource.getrusage(who).ru_utime + resource.getrusage(who).ru_stime
                       for who in (resource.RUSAGE_SELF, resource.RUSAGE_CHILDREN))
    print(json.dumps({"environment": env}))
    print(json.dumps({"correct": result.correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
