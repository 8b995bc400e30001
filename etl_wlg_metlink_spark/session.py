"""SparkSession construction with scale-aware defaults.

Mirrors the reference's "local dev runner" entry point
(/root/reference/task.ts:346 `local(new Task(...))`) — but where the
reference is a single-threaded Node process, this builder configures a
Spark session whose settings are chosen so the same code runs unchanged
from local[N] smoke tests up to a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting);
- shuffle partitions sized to cores locally (a cluster deployment
  overrides via spark-submit conf, not code);
- UTC session timezone so timestamp semantics are deployment-invariant;
- Arrow enabled for the few Pandas-UDF operators (the slow path).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Minimum free /dev/shm for the tmpfs-scratch default to engage (see
#: scratch_root): shuffle spill exists to relieve MEMORY pressure, so
#: RAM-backed scratch is only safe with generous headroom. 16 GiB is
#: far above anything this engine's streaming WALs/state deltas write
#: (MBs per run) yet small enough that typical half-of-RAM /dev/shm
#: mounts on dev/CI boxes qualify; memory-tight production hosts fall
#: through to disk-backed temp unless SPARK_GRAFT_SCRATCH_DIR says
#: otherwise.
_SHM_MIN_FREE_BYTES = 16 << 30


def scratch_root() -> str | None:
    """Fast local scratch for engine-internal I/O: shuffle spill
    (spark.local.dir), streaming checkpoint WALs/state stores, staged
    micro-batch inputs and the artifact store. Production clusters put
    this on local NVMe (guide: shuffle/state belongs on the fastest
    local disk); the sandbox equivalent is tmpfs, where /tmp is
    disk-backed ext4 and every streaming micro-batch otherwise pays
    journalled create/rename metadata I/O for its offset/commit WALs
    and state-store deltas.

    Override with SPARK_GRAFT_SCRATCH_DIR (a cluster submit sets it to
    the NVMe mount); default is /dev/shm when writable AND comfortably
    sized (ADVICE r16: tmpfs scratch consumes RAM at exactly the moment
    spill needs relief, so a box whose /dev/shm is small or already
    under pressure must fall through to disk-backed temp — the guard
    requires >= _SHM_MIN_FREE_BYTES free, which keeps the default safe
    on memory-tight hosts while dev/bench boxes with half-of-RAM tmpfs
    still get it). Else None (keep the system default tempdir).
    Scratch contents are created fresh per run and carry no results
    across runs — this relocates engine-internal I/O, it caches
    nothing."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if not root and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES:
                root = "/dev/shm/spark_graft_scratch"
        except OSError:
            pass
    if root:
        try:
            os.makedirs(root, exist_ok=True)
        except OSError:
            return None
    return root or None


def build_session(
    app_name: str = "etl_wlg_metlink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's defaults.

    ``master``/``shuffle_partitions`` default from the environment
    (SPARK_GRAFT_CPUS) so tests, bench.py and the driver all agree.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events.parquet carries TIMESTAMP(NANOS), which
        # Spark 4.x refuses to read by default (PARQUET_TYPE_ILLEGAL).
        # Read nanos as long; tables.load() normalizes to TimestampType.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Driver testdata ≥ round 4 writes TIMESTAMP(MICROS,
        # isAdjustedToUTC=false), which Spark would infer as
        # TIMESTAMP_NTZ — a type withWatermark/event-time ops reject.
        # Session tz is pinned UTC, so reading it as TimestampType (LTZ)
        # denotes the same instants; disable NTZ inference globally.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # mark the session so ensure_engine_conf never overrides this
    # builder's explicit shuffle_partitions choice
    builder = builder.config("spark.etl_wlg_metlink.shufflePinned", "true")
    # Shuffle/spill scratch on the fastest local storage (see
    # scratch_root). Only effective when THIS builder creates the
    # SparkContext — an externally built session keeps its own local
    # dir, which is correctness-neutral.
    scratch = scratch_root()
    if scratch:
        builder = builder.config(
            "spark.local.dir", os.path.join(scratch, "spark_local")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_override(spark: SparkSession, confs: dict[str, str]):
    """Temporarily set runtime SQL confs, restoring (or unsetting keys
    that had no explicit value) on exit. For confs read at query START
    (streaming state partitioning, no-data progress interval, optimizer
    thresholds) the caller must fully materialize inside the block."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-mutable engine settings to an externally built
    session (the correctness driver constructs its own SparkSession and
    passes it in — pin the confs our semantics depend on)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Runtime-settable SQLConf: required to read the driver's
    # TIMESTAMP(NANOS) events.parquet on sessions we didn't build.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet must surface as
    # TimestampType, not NTZ, for event-time streaming (see build_session).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # r22's month spine recurses once per month of the data's date
    # span; the default 100-level limit dies on a >8-year span — and a
    # single future-dated junk order (routine at 100 TB) stretches the
    # span arbitrarily (r16 adversarial corpus). 10k levels ≈ 800
    # years of months, still a trivially driver-safe spine.
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "10000")
    # Size shuffles to the machine: AQE coalesces ordinary exchanges at
    # runtime, but stateful streaming ops pin their state-store
    # partitioning to this value at query start (200 default = 200
    # state stores on a laptop-sized run). Only applied ONCE per
    # session and never over an explicit choice — build_session marks
    # its sessions, and a repeated call must not clobber a caller's
    # setting (this runs on every tables.load()).
    if spark.conf.get("spark.etl_wlg_metlink.shufflePinned", None) is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
        spark.conf.set("spark.etl_wlg_metlink.shufflePinned", "true")
    return spark
