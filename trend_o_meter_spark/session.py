"""SparkSession construction and runtime tuning.

The engine is designed for a 1000-executor cluster reading ~100 TB; the
defaults here encode that stance (AQE on, skew-join handling, partition
coalescing) while remaining correct on ``local[*]`` test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that must be set at session BUILD time — only JVM sizing truly
# is (everything else runtime-settable lives in RUNTIME_CONF below so
# tune() can apply it to sessions we did not build).
BUILD_CONF: dict[str, str] = {
    # In local mode the driver JVM IS the executor; Spark's 1g default
    # starves 32 concurrent tasks (GC stalls at bench scale, OOM in the
    # 16x scaling probes).  Only takes effect when get_spark launches the
    # JVM itself — a driver-owned session keeps its own sizing.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


def _default_shuffle_partitions() -> str:
    if "SPARK_GRAFT_SHUFFLE" in os.environ:
        return os.environ["SPARK_GRAFT_SHUFFLE"]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    # local[*] or a malformed count is no partition count
    return cpus if cpus.isdigit() and int(cpus) > 0 else "32"


# Conf that is runtime-settable: applied by tune() even on a SparkSession
# we did not build (the driver hands us its own session — without these
# here it would run the suite at shuffle.partitions=200 with arrow off;
# bench.py itself proves shuffle partitions flip at runtime).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Sized to the host get_spark runs on: SPARK_GRAFT_SHUFFLE wins, else
    # the core count it gives the master (SPARK_GRAFT_CPUS), else 32.  A
    # stateful query's partition count is one state-store commit and one
    # Python task per partition per micro-batch, so a constant 32 on a
    # 4-core host is mostly fixed cost.  Resumed streaming queries keep
    # the count recorded in their checkpoint.  A real cluster would size
    # this to ~2-3x total cores via spark-submit conf.
    "spark.sql.shuffle.partitions": _default_shuffle_partitions(),
    # All timeseries arithmetic (epoch conversions, day-bin edges) assumes
    # UTC so results match the DuckDB oracle bit-for-bit.
    "spark.sql.session.timeZone": "UTC",
    # Deterministic timestamp parsing.
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
}


def scratch_dir() -> str | None:
    """Memory-backed scratch directory for Spark's local dirs (shuffle
    files, block-manager spill) and bench checkpoint/source staging.

    The guide's napkin math (§1.3/§9) assumes scratch I/O runs on "fast
    local disks"; a host whose disk sustains ~10 MB/s (measured on the
    round-13 sandbox: 8-12 MB/s fsync'd sequential writes, 85-99% iowait
    under any shuffle) makes every Exchange and state-store commit time
    the DISK, not the engine.  Putting *scratch* data on tmpfs restores
    the fast-local-disk baseline without changing what is computed —
    shuffle bytes are still written and read in full.

    Resolution order:
    * ``SPARK_GRAFT_SCRATCH`` env — explicit override (set it to a real
      NVMe path on a production host; an empty value disables the
      default and falls back to Spark/tempfile defaults).  The directory
      is created if missing so callers can hand it straight to
      ``tempfile.TemporaryDirectory(dir=...)``.
    * ``/dev/shm`` when ``SPARK_GRAFT_LOCAL_SCRATCH`` is set (non-empty,
      non-"0") and >= 8 GiB are free — OPT-IN, set by bench.py and the
      test conftest.  Library consumers that just call ``get_spark()``
      keep the stock disk default: the free-space check is point-in-time,
      and a job whose shuffle/spill outgrows the remaining tmpfs fails
      with ENOSPC (and spills into RAM pressure) where the disk default
      would have succeeded, so tmpfs scratch must be a deliberate choice.
      A real cluster never reaches this branch anyway: executors get
      their local dirs from spark-submit/cluster conf (SPARK_LOCAL_DIRS
      outranks ``spark.local.dir``), and this helper only feeds
      sessions *we* build.
    * ``None`` — caller keeps the stock default.
    """
    if "SPARK_GRAFT_SCRATCH" in os.environ:
        path = os.environ["SPARK_GRAFT_SCRATCH"] or None
        if path:
            os.makedirs(path, exist_ok=True)
        return path
    if os.environ.get("SPARK_GRAFT_LOCAL_SCRATCH", "") in ("", "0"):
        return None
    cand = "/dev/shm"
    try:
        st = os.statvfs(cand)
        if st.f_bavail * st.f_frsize >= 8 << 30:
            path = os.path.join(cand, "spark-graft-scratch")
            os.makedirs(path, exist_ok=True)
            return path
    except OSError:
        pass
    return None


def get_spark(app_name: str = "trend-o-meter-spark", master: str | None = None) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    for k, v in BUILD_CONF.items():
        builder = builder.config(k, v)
    sd = scratch_dir()
    if sd:
        # Only effective when this call launches the JVM (same contract
        # as BUILD_CONF); SPARK_LOCAL_DIRS in the environment outranks it.
        builder = builder.config("spark.local.dir", os.path.join(sd, "local"))
    spark = builder.getOrCreate()
    tune(spark)
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf; safe on externally-built sessions."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this build; build-time default applies
    return spark
