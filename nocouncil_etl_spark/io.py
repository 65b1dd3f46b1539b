"""Declared-schema readers for the synthetic tables (TESTDATA.md).

The reference infers every schema at read time (``pd.read_json(...,
lines=True)`` at transcribe_council.py:96, summarize.py:165, vectorize.py:72);
the engine declares schemas instead (SURVEY.md §1.3-1.4) so plans are stable
and scans prune columns. Parquet already embeds the schema; ``load`` keeps a
single chokepoint where we can assert it and where partition layout / bucketing
decisions would live at 100 TB (partition segments by meeting date, bucket fact
tables by join key).

Every parquet read — tables, published artifacts, the events stream's
schema — goes through ``read_parquet``. A plain ``spark.read.parquet`` runs
a schema-inference Spark job on every call (80-100 ms on a 4-vCPU VM);
``read_parquet`` keeps Spark's own inferred schema in a process-level cache
and re-reads through ``.schema(cached)``, which runs no job (9-14 ms). The
cache is keyed by the path, the path's Hadoop ``FileSystem`` status (one
``getFileStatus``, no job, any filesystem) and the session confs that change
Parquet inference, so a rewritten file, a changed directory listing or a
session with other inference confs re-infers. The first read of each file
still infers: a cold single-shot run gains nothing.
"""

from __future__ import annotations

import re
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nocouncil_etl_spark.session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Spark DDL per table (FIXTURES.md §A) — asserted in tests, relied on by plans.
DDL: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
    "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
    "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
    "l_linestatus STRING, l_shipdate TIMESTAMP",
    "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


# Logical-plan nodes that never imply an exchange: a frame whose analyzed
# plan is built ONLY from these is "scan-rooted" — planning its RDD is free
# (no upstream query stages to materialize), and its partition count is the
# file-split count the scan planned. Anything else (Join/Aggregate/Window/
# Repartition/GlobalLimit/...) is refused: under AQE, probing .rdd on a
# frame with upstream exchanges finalizes the physical plan and eagerly
# EXECUTES the shuffle stages — a hidden job at plan-build time.
_NARROW_NODES = frozenset(
    {
        "Relation",
        "LogicalRelation",
        "LocalRelation",
        "LogicalRDD",
        "Range",
        "Project",
        "Filter",
        "Generate",
        "Union",
        "SubqueryAlias",
        "View",
        "Sample",
        "MapInPandas",
        "PythonMapInArrow",
    }
)
_NODE_RE = re.compile(r"^[\s+:\-]*([A-Za-z]+)")


def _planned_scan_width(df: DataFrame) -> int | None:
    """Planned partition count of a SCAN-ROOTED frame, else None.

    Walks the ANALYZED logical plan (pure metadata — never triggers
    execution) and only if every node is narrow (see _NARROW_NODES) probes
    `df.rdd.getNumPartitions()`, which for such frames just plans the file
    splits. Frames with upstream exchanges return None instead of being
    probed: .rdd would finalize the physical plan and, under AQE, eagerly
    run the shuffle stages — an invisible cost to the caller (round-10
    ADVICE #1). Callers treat None as "already shuffled to session width"."""
    try:
        plan = df._jdf.queryExecution().analyzed().treeString()
    except Exception:  # noqa: BLE001 — best-effort probe, never load-bearing
        return None
    for line in plan.splitlines():
        m = _NODE_RE.match(line)
        if m and m.group(1) not in _NARROW_NODES:
            return None
    try:
        return df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001
        return None


def _est_width(df: DataFrame) -> float:
    """Bytes-implied parallelism estimate: the optimizer's sizeInBytes
    statistic over `spark.sql.files.maxPartitionBytes` — i.e. roughly how
    many splits a scan of this volume plans.

    This is a STATISTIC read (optimizer stats are pure metadata: file sizes
    for relations, scaled through Project), not a physical-plan probe — one
    cheap JVM call, never any execution. It deliberately tracks BYTES, not
    the exact partition count: filters/projects don't change a scan's
    partitioning, so scan volume is what actually determines split count at
    cluster scale, and it's the quantity whose shuffle cost fan_out must
    avoid. Measured ~20 ms per call vs ~110 ms for the treeString +
    df.rdd.getNumPartitions() probe this replaced (round 11: the probe cost
    showed up as +0.2-0.7 s on every fan_out-heavy bench query — ~110 ms ×
    call sites × plan rebuilds). Returns 0.0 when stats are unavailable
    (behaves like the pre-floor fan_out: repartition)."""
    try:
        # py4j converts the scala BigInt to a Python int
        size = float(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        max_pb = float(
            df.sparkSession._jsparkSession.sessionState()
            .conf()
            .filesMaxPartitionBytes()
        )
        return size / max(max_pb, 1.0)
    except Exception:  # noqa: BLE001 — best-effort estimate, never load-bearing
        return 0.0


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ahead of an EXPLOSIVE transform (n-gram /
    shingle / token explode), where output volume is orders of magnitude
    larger than input bytes — with a width FLOOR: it never shuffles a frame
    whose planned scan volume already guarantees the target parallelism.

    Scan parallelism follows input bytes (`spark.sql.files.maxPartitionBytes`)
    — correct for scans, wrong for a 50 kB-compressed doc batch about to
    explode into millions of gram rows: the whole explode lands in however
    few tasks the scan produced (locally: ONE for a single small parquet
    file; at 100 TB: one straggler per oversized text file). One cheap
    shuffle of the compact input buys full-cluster parallelism for the
    expensive stage. Default width = the session's shuffle parallelism.

    The floor (round-10 verdict #1): at 100 TB a parquet scan plans ~one
    task per 128 MB split — far MORE tasks than shuffle.partitions — so an
    unconditional repartition would shuffle the corpus's input bytes AND
    collapse the explode stage to fewer tasks than the scan had. The
    decision reads the optimizer's sizeInBytes statistic (_est_width — pure
    metadata, no physical planning; the round-11 first cut probed
    df.rdd.getNumPartitions(), which cost ~110 ms of plan-build per call
    site): volume ≥ 2× the target width ⇒ the scan's own splits give ample
    parallelism and the frame comes back untouched (identical object, no
    Exchange); below that the repartition targets max(n, bytes-implied
    width), so even the boundary band never REDUCES parallelism. Tiny
    frames therefore always widen to n (the local/test case), and the 2×
    margin absorbs stats drift (Project scales sizeInBytes down by column
    pruning)."""
    n = partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    est = _est_width(df)
    if est >= 2 * n:
        return df
    return df.repartition(max(n, int(est)))


def fan_out_if_narrow(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Conditional fan_out for COMPUTE-DENSE 1:1 maps (heavy per-row
    HOF/regex passes with NO output amplification — readability, PII
    redaction, lang-id, Gopher rules).

    These are not fan_out's contract (nothing explodes), but their cost per
    input byte dwarfs the scan's, so byte-derived scan parallelism still
    under-schedules them LOCALLY: a single small parquet file plans one
    task and the interpreted pass serializes (round 9 measured 6.5 s → 0.8 s
    at sf1 for the lang-id cohort). At 100 TB the same scan already plans
    ~one task per 128 MB split — ample parallelism — and a full-corpus
    round-robin shuffle would be pure overhead. So: repartition ONLY when
    the planned scan parallelism is below the session target; at cluster
    scan widths this is a no-op and the map stays narrow/zero-shuffle.

    Width probing goes through _planned_scan_width, which refuses frames
    with upstream exchanges (probing .rdd there would eagerly execute
    shuffle stages under AQE — round-10 ADVICE #1); such frames come back
    unchanged, correctly: an upstream exchange means the frame is already
    at the session's shuffle width. A stats fast-path (_est_width ≥ 2n)
    skips even the probe when the scan volume already guarantees the
    width — at cluster scale the .rdd probe itself costs a driver-side
    physical plan + full split enumeration."""
    n = partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    if _est_width(df) >= 2 * n:
        return df
    width = _planned_scan_width(df)
    if width is None or width >= n:
        return df
    return df.repartition(n)


# Session confs that change the schema Parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# path → (key, inferred schema); one entry per path, replaced when the key
# changes. The cap only bounds paths that are read once and never again
# (publish stages): insertion order evicts the oldest.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()
_MAX_SCHEMAS = 512


def file_status(spark: SparkSession, path: str) -> tuple:
    """Hadoop ``FileSystem`` status of ``path`` — Py4J calls, never a Spark
    job: (length, mtime) for a file, the sorted (name, length, mtime)
    listing for a directory."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    st = fs.getFileStatus(jpath)
    if not st.isDirectory():
        return (st.getLen(), st.getModificationTime())
    return tuple(
        sorted(
            (c.getPath().getName(), c.getLen(), c.getModificationTime())
            for c in fs.listStatus(jpath)
        )
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version and session inference confs (module docstring). A path the
    ``FileSystem`` cannot stat (missing, a glob) takes the plain read, so
    errors surface exactly as Spark raises them."""
    try:
        key = (
            file_status(spark, path),
            tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
        )
    except Exception:  # noqa: BLE001 — uncacheable path: Spark's own read
        return spark.read.parquet(path)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    entry = (key, df.schema)
    with _SCHEMAS_LOCK:
        _SCHEMAS.pop(path, None)
        if len(_SCHEMAS) >= _MAX_SCHEMAS:
            del _SCHEMAS[next(iter(_SCHEMAS))]
        _SCHEMAS[path] = entry
    return df


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one synthetic table. Scans stay columnar/pushdown-friendly."""
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; expected one of {TABLES}")
    tune(spark)
    df = read_parquet(spark, f"{sf_dir}/{table}.parquet")
    if table == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to µs TIMESTAMP regardless of how
    the writer encoded it. The synthetic generator has shipped both
    TIMESTAMP(NANOS) (surfaces as long nanos under session.RUNTIME_CONFS) and
    plain µs TIMESTAMP/NTZ files across rounds; every reader — batch and
    streaming — must go through this one chokepoint so both agree with
    DuckDB's read of the same file."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # TIMESTAMP(NANOS) read as long nanos; truncate to micros —
        # identical to DuckDB's read of the same file.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        # µs-precision files from other writers surface as NTZ; the
        # session tz is pinned UTC, so the wall-clock cast is lossless
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
