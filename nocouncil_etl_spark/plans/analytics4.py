"""Analytics batch 4: distributed sketches, weighted sampling, boilerplate
mining, SFT rendering, funnels, cohorts.

Six operators rounding out the large-corpus analytics surface (reference
analogue: the summarizer's corpus-wide statistics pass is a single pandas
groupby at summarize.py scale; none of these exist there — they are the ops
the same pipeline needs once the corpus no longer fits one machine):

- ``sketch_kmv_distinct``   — k-minimum-values distinct-count sketch
  (Bar-Yossef et al.): deterministic md5 hash space, per-group k-th smallest
  hash → (k-1)/u_k estimate, reported next to the exact count. Unlike
  HLL/approx_count_distinct, every intermediate is integer-exact, so the
  estimate is bit-reproducible across engines — which is what makes it
  oracle-checkable.
- ``sample_weighted_priority`` — priority sampling (Duffield/Lund/Thorup):
  priority = uniform-hash / weight, keep the m smallest per stratum.
  Deterministic (never rand()/df.sample(): reproducible across retries).
- ``mine_topk_ngrams``      — heavy-hitters: top-10 3-grams per source, the
  boilerplate-mining step that feeds a removal list.
- ``sft_chat_render``       — chat-template rendering: turn rows → ordered
  role-tagged prompt string per conversation (the jsonl→prompt formatting
  step of an SFT data pipeline), with a BIGINT char budget.
- ``funnel_conversion``     — staged funnel (view → click → purchase), each
  stage anchored strictly after the previous stage's first event.
- ``cohort_retention``      — weekly cohort × week-offset active users.

All six have exact DuckDB oracles; integer sums are CAST AS BIGINT (the
HUGEINT digest rule), doubles rounded identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.operators.dedup import make_shingle_udf
from nocouncil_etl_spark.plans.dedup_plans import _sql_shingles
from nocouncil_etl_spark.registry import query

KMV_K = 64
GRAM_N = 3
SAMPLE_M = 5
TOPK = 10
# 2^60: the hash space of a 15-hex-digit md5 prefix
HASH_SPACE = float(1 << 60)

_HV_SQL = "('0x' || substr(md5({col}), 1, 15))::BIGINT"


# --------------------------------------------------------------------------
# 1. KMV distinct sketch
# --------------------------------------------------------------------------


@query(
    "sketch_kmv_distinct",
    oracle=f"""
WITH ws AS (SELECT source, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT source, {_sql_shingles('w', GRAM_N)} AS s FROM ws),
g AS (SELECT DISTINCT source, unnest(s) AS gram FROM sh),
d AS (SELECT DISTINCT source, {_HV_SQL.format(col='gram')} AS hv FROM g),
r AS (
  SELECT source, hv,
         row_number() OVER (PARTITION BY source ORDER BY hv) AS rn,
         count(*) OVER (PARTITION BY source) AS nd
  FROM d
)
SELECT source, nd AS n_exact,
       round(({KMV_K} - 1) / (CAST(hv AS DOUBLE) / {HASH_SPACE!r}), 4) AS kmv_est
FROM r WHERE rn = {KMV_K}
""",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per source over text 3-grams: hash every
    distinct gram into [0,1) via a 60-bit md5 prefix, keep the K smallest,
    estimate distinct = (K-1)/u_K. Reported beside the exact distinct count
    so the estimate's quality is part of the checked result.

    Scale shape: the sketch is mergeable (union of min-K sets → min-K of
    union), which is why it survives 100 TB: per-partition candidates are
    combined by the same order-statistic. Here the per-source K-th value
    comes from one window over the DISTINCT (source, hash) set — the
    distinct itself is the only corpus-sized shuffle, and it is exactly the
    shuffle the exact count needs anyway."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    g = (
        docs.select("source", F.explode(make_shingle_udf(GRAM_N)("text")).alias("gram"))
        .distinct()
    )
    d = g.select("source", hash60(F.col("gram")).alias("hv")).distinct()
    w = Window.partitionBy("source")
    r = d.select(
        "source",
        "hv",
        F.row_number().over(w.orderBy("hv")).alias("rn"),
        F.count("*").over(w).alias("nd"),
    )
    return r.filter(F.col("rn") == KMV_K).select(
        "source",
        F.col("nd").alias("n_exact"),
        F.round(
            F.lit(KMV_K - 1) / (F.col("hv").cast("double") / F.lit(HASH_SPACE)), 4
        ).alias("kmv_est"),
    )


# --------------------------------------------------------------------------
# 2. priority-weighted deterministic sampling
# --------------------------------------------------------------------------


@query(
    "sample_weighted_priority",
    oracle=f"""
WITH p AS (
  SELECT doc_id, source, n_chars,
         (CAST({_HV_SQL.format(col='CAST(doc_id AS VARCHAR)')} AS DOUBLE)
          / {HASH_SPACE!r}) / n_chars AS pri
  FROM documents
),
r AS (
  SELECT doc_id, source, n_chars, pri,
         CAST(row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS INT) AS rk
  FROM p
)
SELECT doc_id, source, n_chars, rk, round(pri, 9) AS priority
FROM r WHERE rk <= {SAMPLE_M}
""",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield/Lund/Thorup): priority = u/weight with
    u = deterministic 60-bit hash of the key normalized to [0,1); the m
    smallest priorities per stratum are the sample, so selection probability
    scales with weight (here n_chars) while staying hash-reproducible across
    runs and engines — df.sample() reseeds per task attempt and cannot be
    oracle-checked.

    Scale shape: a narrow codegen'd md5 + division, then per-stratum top-m —
    at scale the window is replaced by the same mergeable min-m combine as
    the KMV sketch; nothing corpus-sized crosses the shuffle but (stratum,
    priority) pairs."""
    docs = load(spark, sf_dir, "documents")
    pri = (
        hash60(F.col("doc_id").cast("string")).cast("double") / F.lit(HASH_SPACE)
    ) / F.col("n_chars")
    w = Window.partitionBy("source").orderBy("pri", "doc_id")
    return (
        docs.select("doc_id", "source", "n_chars", pri.alias("pri"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= SAMPLE_M)
        .select("doc_id", "source", "n_chars", "rk", F.round("pri", 9).alias("priority"))
    )


# --------------------------------------------------------------------------
# 3. heavy hitters: top-k n-grams per source
# --------------------------------------------------------------------------


@query(
    "mine_topk_ngrams",
    oracle=f"""
WITH ws AS (SELECT source, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT source, {_sql_shingles('w', GRAM_N)} AS s FROM ws),
g AS (SELECT source, unnest(s) AS gram FROM sh),
c AS (SELECT source, gram, count(*) AS n FROM g GROUP BY 1, 2),
r AS (
  SELECT source, gram, n,
         CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, gram) AS INT) AS rk
  FROM c
)
SELECT source, gram, n, rk FROM r WHERE rk <= {TOPK}
""",
)
def mine_topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: the top-10 most frequent 3-grams per source —
    the list a curation pass would subtract as source-level boilerplate
    (nav text, legal footers). Deterministic tie-break on the gram string.

    Scale shape: explode → hash-agg with map-side combine (one row per
    distinct (source, gram) crosses the shuffle) → per-source top-k window
    over the already-aggregated counts. No doc×doc stage."""
    docs = load(spark, sf_dir, "documents")
    c = (
        fan_out(docs)
        .select("source", F.explode(make_shingle_udf(GRAM_N)("text")).alias("gram"))
        .groupBy("source", "gram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("gram"))
    return (
        c.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= TOPK)
        .select("source", "gram", "n", "rk")
    )


# --------------------------------------------------------------------------
# 4. SFT chat-template rendering
# --------------------------------------------------------------------------


@query(
    "sft_chat_render",
    oracle="""
WITH t AS (
  SELECT doc_id // 4 AS conv_id,
         CAST(doc_id % 4 AS INT) AS turn,
         CASE doc_id % 4 WHEN 0 THEN 'system' WHEN 1 THEN 'user'
              WHEN 2 THEN 'assistant' ELSE 'user' END AS role,
         substr(text, 1, 80) AS seg
  FROM documents
)
SELECT conv_id,
       count(*) AS n_turns,
       string_agg('<|' || role || '|>' || seg, chr(10) ORDER BY turn) AS prompt,
       CAST(sum(len(seg) + len(role) + 4) AS BIGINT) AS n_chars
FROM t GROUP BY conv_id
""",
)
def sft_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering for SFT data: consecutive documents become the
    turns of a conversation (conv_id = doc_id/4, role cycling
    system/user/assistant/user), rendered into one role-tagged prompt string
    per conversation in turn order, plus the rendered char budget. This is
    the messages-array → training-string formatting step of an SFT pipeline.

    Scale shape: one shuffle on conv_id; listagg WITHIN GROUP keeps the
    ordered concatenation JVM-side (no Python, no collect). The char sum is
    BIGINT on both sides (HUGEINT digest rule)."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        (F.col("doc_id") / 4).cast("long").alias("conv_id"),
        (F.col("doc_id") % 4).cast("int").alias("turn"),
        F.element_at(
            F.array(F.lit("system"), F.lit("user"), F.lit("assistant"), F.lit("user")),
            (F.col("doc_id") % 4).cast("int") + 1,
        ).alias("role"),
        F.substring("text", 1, 80).alias("seg"),
    )
    t.createOrReplaceTempView("sft_turns")
    return t.sparkSession.sql(
        """
        SELECT conv_id,
               count(*) AS n_turns,
               listagg('<|' || role || '|>' || seg, chr(10))
                 WITHIN GROUP (ORDER BY turn) AS prompt,
               CAST(sum(length(seg) + length(role) + 4) AS BIGINT) AS n_chars
        FROM sft_turns GROUP BY conv_id
        """
    )


# --------------------------------------------------------------------------
# 5. staged funnel
# --------------------------------------------------------------------------


@query(
    "funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1
)
SELECT 'view' AS stage, 1 AS stage_no, count(*) AS n_users FROM v
UNION ALL SELECT 'click', 2, count(*) FROM c
UNION ALL SELECT 'purchase', 3, count(*) FROM p
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged funnel: users who viewed, clicked strictly after their first
    view, and purchased strictly after that first qualifying click. Each
    stage anchors on the previous stage's min event time, so out-of-order
    events can't leak a user forward.

    Scale shape: three keyed aggregations + two equi-joins on user_id —
    every stage's frame is one row per surviving user, so the join input
    shrinks monotonically down the funnel; stage counts are single-row
    aggregates unioned at the end."""
    ev = load(spark, sf_dir, "events")
    steps = [(t, F.col("event_type") == t) for t in ("view", "click", "purchase")]
    return funnel_stages(ev, "user_id", "ts", steps).withColumnRenamed(
        "n_keys", "n_users"
    )


def funnel_stages(
    df: DataFrame, key_col: str, ts_col: str, steps: list
) -> DataFrame:
    """The staged-funnel kernel over (name, predicate-Column) steps: a key
    survives step k only with a step-k event STRICTLY AFTER its first
    qualifying step-(k−1) event. One row per step: (stage, stage_no,
    n_keys)."""
    counts = []
    anchor = None  # survivors so far: (key_col, _t = first qualifying ts)
    for no, (name, pred) in enumerate(steps, start=1):
        stage_events = df.filter(pred)
        if anchor is not None:
            stage_events = stage_events.join(anchor, key_col).filter(
                F.col(ts_col) > F.col("_t")
            )
        anchor = stage_events.groupBy(key_col).agg(F.min(ts_col).alias("_t"))
        counts.append(
            anchor.agg(F.count("*").alias("n_keys")).select(
                F.lit(name).alias("stage"), F.lit(no).alias("stage_no"), "n_keys"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


# --------------------------------------------------------------------------
# 6. cohort retention
# --------------------------------------------------------------------------


@query(
    "cohort_retention",
    oracle="""
WITH f AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw
  FROM events GROUP BY 1
)
SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', f.cw, CAST(e.ts AS DATE)) // 7 AS INT) AS week_offset,
       count(DISTINCT e.user_id) AS n_active
FROM events e JOIN f ON e.user_id = f.user_id
GROUP BY 1, 2
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by ISO week of first event,
    counted as active in each subsequent week offset — the
    activation/retention matrix every growth dashboard computes, and the
    same shape as a training-corpus freshness audit (docs by crawl-week ×
    revision-week).

    Scale shape: one agg for first-seen, one broadcast-or-shuffle join back
    (cohort table is one row per user), one distinct-count agg keyed by
    (cohort, offset). ISO Monday week truncation matches both engines."""
    ev = load(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cw")
    )
    j = ev.join(f, "user_id")
    offset = F.floor(F.datediff(F.to_date("ts"), F.col("cw")) / 7).cast("int")
    return (
        j.select(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
