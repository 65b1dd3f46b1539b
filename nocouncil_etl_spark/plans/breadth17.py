"""Breadth batch 17: composed streaming DAG, pass@k, CIDR filtering.

- ``pipeline_streaming_e2e`` — a composed streaming pipeline under one
  batch oracle: file-source stream → exactly-once dedup → static
  broadcast enrichment (event-type → team routing dim) → event-time
  tumbling aggregation, drained complete-mode. The streaming sibling of
  the batch e2e DAGs (curation_e2e, pipeline_rag_e2e): each stage
  exists as its own checked operator; this proves the COMPOSITION holds
  under micro-batched execution.
- ``eval_pass_at_k`` — the code-generation pass@k estimator
  (1 − C(n−c,k)/C(n,k)) with exact integer binomials per problem
  (n=10 samples, c hash-derived successes — the planted-fixture
  discipline): the LLM-eval metric computed as exact millionths, no
  floats. pass@1 and pass@5 side by side.
- ``fn_ip_cidr_contains`` — IPv4 synthesis + CIDR-block membership via
  integer prefix masks (internal-traffic / bot-range filtering at
  ingest): exact bit arithmetic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import query
from nocouncil_etl_spark.streaming.windows import read_events_stream, run_to_memory

WIN_US = 600_000_000  # 10-minute tumbling windows

PASS_N = 10
PASS_K1, PASS_K2 = 1, 5
PASS_SCALE = 1_000_000

# the routing dim: event types a revenue team vs a platform team owns
_TEAM_ROWS = [
    ("purchase", "revenue"),
    ("signup", "revenue"),
    ("click", "growth"),
    ("view", "growth"),
    ("error", "platform"),
]


# --------------------------------------------------------------------------
# 1. Composed streaming pipeline
# --------------------------------------------------------------------------

_TEAM_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS event_type, '{team}' AS team" for t, team in _TEAM_ROWS
)


@query(
    "pipeline_streaming_e2e",
    oracle=f"""
WITH dim AS ({_TEAM_SQL}),
dedup AS (
  SELECT event_id, event_type, ts, value FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts, value) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT CAST(floor(epoch_us(d.ts) / {WIN_US}.0) AS BIGINT) * {WIN_US} AS w_start_us,
       m.team,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(d.value * 100) AS BIGINT)) AS BIGINT) AS v_cents
FROM dedup d JOIN dim m ON d.event_type = m.event_type
GROUP BY 1, 2
""",
)
def pipeline_streaming_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming pipeline composition: stream → dropDuplicates(event_id)
    (T2 exactly-once dedup) → broadcast join to the team routing dim →
    10-minute event-time tumbling aggregation of counts and cents per
    (window, team), drained complete-mode with availableNow. The batch
    oracle replays the same DAG declaratively — composition under
    micro-batching changes nothing, which is the point.

    Scale shape: dedup state is keyed streaming state; the dim join is a
    broadcast against a constant; the windowed agg is the partial-
    aggregating stateful operator — nothing in the DAG holds stream
    history beyond the dedup keys (bounded by id cardinality; the
    watermarked variant of that trade is stream_dedup_watermark)."""
    ev = read_events_stream(spark, sf_dir)
    dim = spark.createDataFrame(_TEAM_ROWS, "event_type STRING, team STRING")
    deduped = ev.dropDuplicates(["event_id"])
    enriched = deduped.join(F.broadcast(dim), "event_type")
    agg = (
        enriched.groupBy(
            F.window("ts", "10 minutes").alias("w"), F.col("team")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("v_cents"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "team",
            "n",
            "v_cents",
        )
    )
    return run_to_memory(agg, mode="complete")


# --------------------------------------------------------------------------
# 2. pass@k
# --------------------------------------------------------------------------


def _comb_prod(n_expr: str, k: int) -> str:
    """C({n_expr}, k) as the explicit falling-factorial product / k! —
    exact for k consecutive integers; 0 when the top argument < k."""
    num = " * ".join(f"(({n_expr}) - {i})" for i in range(k))
    fact = 1
    for i in range(2, k + 1):
        fact *= i
    return f"CASE WHEN ({n_expr}) < {k} THEN 0 ELSE ({num}) // {fact} END"


def _pass_at_k_sql(k: int) -> str:
    top = _comb_prod("10 - c", k)
    bot = _comb_prod("10", k)
    return f"{PASS_SCALE} - ({PASS_SCALE} * ({top})) // ({bot})"


@query(
    "eval_pass_at_k",
    oracle=f"""
WITH probs AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5('pass#' || CAST(doc_id AS VARCHAR)), 1, 15))
              ::BIGINT % {PASS_N + 1} AS BIGINT) AS c
  FROM documents
)
SELECT doc_id, CAST({PASS_N} AS BIGINT) AS n, c,
       CAST({_pass_at_k_sql(PASS_K1)} AS BIGINT) AS pass1_1e6,
       CAST({_pass_at_k_sql(PASS_K2)} AS BIGINT) AS pass5_1e6
FROM probs
""",
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k per problem: with n={PASS_N} generated samples of which c
    pass (c hash-derived per doc — the planted fixture; in production c
    comes from the sandboxed test runner), the unbiased estimator
    1 − C(n−c,k)/C(n,k) evaluated with exact integer falling factorials
    (the k! division is exact — a product of k consecutive integers —
    and the final millionths ratio is one deterministic floor division)
    — pass@{PASS_K1} and pass@{PASS_K2}. The code-eval metric of LLM
    pipelines, float-free.

    Scale shape: a narrow per-row expression — one scan."""
    docs = load(spark, sf_dir, "documents")
    c = (
        hash60(F.concat(F.lit("pass#"), F.col("doc_id").cast("string")))
        % (PASS_N + 1)
    )
    probs = docs.select("doc_id", c.alias("c"))

    def pass_expr(k: int) -> F.Column:
        sql = _pass_at_k_sql(k).replace("//", "div")
        return F.expr(sql).cast("long")

    return probs.select(
        "doc_id",
        F.lit(PASS_N).cast("long").alias("n"),
        "c",
        pass_expr(PASS_K1).alias("pass1_1e6"),
        pass_expr(PASS_K2).alias("pass5_1e6"),
    )


# --------------------------------------------------------------------------
# 3. CIDR membership
# --------------------------------------------------------------------------

# blocks: 10.0.0.0/8 (internal), 192.168.0.0/16 (lab), 203.0.113.0/24 (bots)
_CIDRS = [
    ("internal", 10 << 24, 8),
    ("lab", (192 << 24) + (168 << 16), 16),
    ("bots", (203 << 24) + (0 << 16) + (113 << 8), 24),
]


def _cidr_case(ip_expr: str) -> str:
    whens = " ".join(
        f"WHEN (({ip_expr}) // {1 << (32 - bits)}) * {1 << (32 - bits)} = {base} "
        f"THEN '{name}'"
        for name, base, bits in _CIDRS
    )
    return f"CASE {whens} ELSE 'public' END"


@query(
    "fn_ip_cidr_contains",
    oracle=f"""
WITH ips AS (
  SELECT event_id,
         CAST(('0x' || substring(md5('ip#' || CAST(event_id AS VARCHAR)), 1, 15))
              ::BIGINT % 4294967296 AS BIGINT) AS ip
  FROM events
)
SELECT event_id, ip,
       CAST(ip // 16777216 AS BIGINT) || '.' || CAST((ip // 65536) % 256 AS BIGINT)
         || '.' || CAST((ip // 256) % 256 AS BIGINT) || '.' || CAST(ip % 256 AS BIGINT)
         AS dotted,
       {_cidr_case('ip')} AS net_class
FROM ips
""",
)
def fn_ip_cidr_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 CIDR-block classification: a synthetic 32-bit address per event
    (hash-derived), rendered dotted-quad and classified against
    10.0.0.0/8, 192.168.0.0/16 and 203.0.113.0/24 by exact integer
    prefix-mask arithmetic (floor-div to the block granularity) — the
    ingest-time internal-traffic / bot-range filter, no string parsing in
    the hot path.

    Scale shape: narrow per-row integer expressions — one scan."""
    ev = load(spark, sf_dir, "events")
    ip = (
        hash60(F.concat(F.lit("ip#"), F.col("event_id").cast("string")))
        % 4294967296
    )
    ips = ev.select("event_id", ip.alias("ip"))
    dotted = F.concat_ws(
        ".",
        F.expr("ip div 16777216"),
        F.expr("(ip div 65536) % 256"),
        F.expr("(ip div 256) % 256"),
        F.expr("ip % 256"),
    )
    cls = F.expr(_cidr_case("ip").replace("//", "div"))
    return ips.select("event_id", "ip", dotted.alias("dotted"), cls.alias("net_class"))
