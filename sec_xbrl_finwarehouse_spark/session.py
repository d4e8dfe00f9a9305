"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
settings below are chosen so the same logical plans scale to a real
multi-executor cluster:

* AQE on (runtime coalescing, skew-join splitting) -- at 100 TB the
  static shuffle-partition count is always wrong; AQE re-plans it.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  this would be ~2-3x total cores and AQE coalesces down.
* UTC session timezone, pinned so timestamp semantics match the DuckDB
  oracle (duckdb timestamps are naive-UTC).
* ANSI off: the reference's semantics are Python/Postgres-guarded
  (``safe_div`` returns NULL rather than erroring, casts are lenient);
  every division in this engine is still explicitly zero/NULL-guarded
  so behavior is identical with ANSI on.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

# this process's private shuffle/spill directory, made on first use
_private_local_dir: str | None = None


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def _local_dir() -> str | None:
    """The ``spark.local.dir`` to set, or None to leave it unset.

    A launcher that sets ``SPARK_LOCAL_DIRS`` has chosen the directory
    (Spark prefers it over ``spark.local.dir``), so nothing is set or
    created. Otherwise each process gets its own tmpfs directory,
    removed at exit: a directory shared by concurrent sessions lets one
    session's cleanup delete shuffle files another is still reading."""
    global _private_local_dir
    if os.environ.get("SPARK_LOCAL_DIRS") or not os.path.isdir("/dev/shm"):
        return None
    if _private_local_dir is None:
        _private_local_dir = tempfile.mkdtemp(prefix="spark-local-",
                                              dir="/dev/shm")
        atexit.register(shutil.rmtree, _private_local_dir, ignore_errors=True)
    return _private_local_dir


def get_spark(
    app_name: str = "sec-xbrl-finwarehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The running session, unchanged, if this process has one (from
    any thread); otherwise a new session with the settings below.

    ``builder.getOrCreate()`` would apply its SQL confs to a running
    session, so a second caller (the CLI inside a test process) would
    silently re-tune the first caller's session. The arguments
    therefore only shape a new session: stop the running one first to
    start over with other settings."""
    try:
        return SparkSession.active()
    except PySparkRuntimeError:
        pass
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    nshuffle = shuffle_partitions or default_parallelism()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        # dims (region/nation/customer/supplier/part) stay far below this
        # at any SF that matters for the dim side; fact-fact joins never
        # broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # NOTE deliberately NO spark.driver.memory here: in-process
        # SparkSession creation cannot resize an already-launched JVM, so
        # setting it in the factory silently does nothing. Heap size
        # belongs to the launcher -- perfbench/run.py seeds PYSPARK_SUBMIT_ARGS
        # (which DOES apply, it is read before JVM launch), spark-submit
        # users pass --driver-memory.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    # Shuffle/spill files on tmpfs when available: this host's disk is
    # intermittently IO-throttled (load spikes with 97% idle CPU), which
    # made shuffle-bound queries 5-10x slower run-to-run. RAM-backed
    # local dirs are also the standard production choice (NVMe/ramdisk
    # shuffle volumes) and change no query semantics.
    local_dir = _local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
