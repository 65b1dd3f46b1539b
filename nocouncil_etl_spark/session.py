"""SparkSession factory and runtime tuning.

Local test shape is ``local[32]`` on one JVM, with a driver heap of 40% of
physical memory (at most 16g) unless ``SPARK_DRIVER_MEMORY`` sets it. The
configs below are chosen so the same logical plans scale to a
multi-executor cluster: AQE re-plans post-shuffle (partition coalescing,
skew-join splitting), shuffle partitions match local cores instead of the
200 default, Arrow accelerates every pandas-UDF boundary, and the session
timezone is pinned UTC so timestamp semantics match columnar storage and
the DuckDB oracle.

Python workers start from ``nocouncil_etl_spark.pydaemon`` instead of the
stock ``pyspark.daemon``: ``get_session`` sets ``spark.python.daemon.module``
on its builder, and puts this package's parent directory on the workers'
``PYTHONPATH`` so the daemon imports from any working directory. The stock
daemon re-reads every zip archive on ``sys.path`` before each Python task,
90–180 ms per task on a 4-vCPU VM with pyspark imported from ``pyspark.zip``;
the engine's daemon re-reads one only when it changed (SCALE.md,
"Per-Python-task fixed cost"). Plans, operators and results are unchanged.
``tune()`` cannot carry this to a session built elsewhere: the daemon module
is a core conf, read once when the worker factory starts.

Two more builder-only settings cut the fixed cost of each call (SCALE.md,
"Keeping generated code compiled across calls"):

- ``spark.sql.codegen.cache.maxEntries`` is raised from 100 to 2048, so a
  warm call reuses the whole-stage-codegen classes an earlier call compiled
  instead of recompiling them (about 7 ms each). It is a static conf, so it
  is not in ``RUNTIME_CONFS``: ``tune()`` would fail to set it on every
  ``load()``.
- ``spark.python.sql.dataFrameDebugging.enabled`` is false, which turns off
  PySpark's per-Column call-site capture (about a third of a plan build's
  Py4J round trips). PySpark reads the flag once per process, at the first
  Column call. The cost: an analysis error no longer names the Python line
  that built the failing expression (its "DataFrame context").

A session the driver owns gets neither; both only change how fast the same
plans are built and compiled.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable confs, applied both at build time and defensively at query
# time (the verification driver owns its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized reader
    # rejects; read as long and normalize in io.load (DuckDB truncates to
    # micros on read — io.load matches that exactly).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # local[32]: one shuffle partition per core; on a real cluster this would
    # be ~2-3x total executor cores (or left to AQE's initialPartitionNum).
    "spark.sql.shuffle.partitions": str(os.environ.get("SPARK_GRAFT_CPUS", "32")),
}

# r11 opt: lifted (not pinned) confs — applied by tune() ONLY while the
# session has NOT explicitly set the key, so an explicit caller override
# (a test forcing -1, an operator pinning a value — even pinning the
# built-in default on purpose) is never stomped by the next load() call.
# autoBroadcastJoinThreshold was set on OUR builder only, so sessions
# owned by the verification driver planned dim joins at the 10 MB default
# and demoted broadcast-shaped joins to sort-merge. 64 MB is the
# documented production value too (dim tables ≪ executor memory).
RUNTIME_DEFAULT_LIFTS: dict[str, tuple[str, str]] = {
    # conf → (Spark built-in default, lifted value)
    "spark.sql.autoBroadcastJoinThreshold": ("10485760b", str(64 * 1024 * 1024)),
}


def _explicitly_set(spark: SparkSession, key: str, default: str) -> bool:
    """Whether ``key`` was explicitly set on this session (r12, from the
    r11 advice): SQLConf.contains reads the session's own settings map, so
    detection no longer string-compares against a hard-coded default
    literal — a caller who pins exactly the built-in default is
    distinguishable from unset, and a Spark build whose default formats
    differently can't confuse the check. Where that JVM reach-through
    raises (Spark Connect, another build), fall back to comparing against
    the built-in default literal rather than treating every key as set."""
    try:
        return bool(spark._jsparkSession.sessionState().conf().contains(key))
    except Exception:
        return spark.conf.get(key, default) != default


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-owned session (driver's or ours)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            _LOG.debug("tune(): could not set %s", k, exc_info=True)
    for k, (default, lifted) in RUNTIME_DEFAULT_LIFTS.items():
        try:
            if not _explicitly_set(spark, k, default):
                spark.conf.set(k, lifted)
                _LOG.info("tune(): lifted unset %s to %s", k, lifted)
        except Exception:
            _LOG.debug("tune(): could not lift %s", k, exc_info=True)
    return spark


def default_driver_memory() -> str:
    """The driver heap ``get_session`` asks for unless ``SPARK_DRIVER_MEMORY``
    is set: 40% of physical memory in whole GiB, at most 16g. A heap larger
    than the host lets the JVM grow until the kernel kills it (a fixed 16g
    on a 16 GB host was OOM-killed at 14 GB resident)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, int(phys * 0.4) >> 30))}g"


def get_session(app_name: str = "nocouncil_etl_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "nocouncil_etl_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
