"""Breadth batch 6: trend forecasting, changepoint detection, BPE merge
mining.

- ``ts_holt_forecast`` — Holt's linear-trend double exponential smoothing
  over the daily event-count series, in per-mille integer fixed point,
  plus an h-step-ahead forecast. The oracle uses a RECURSIVE CTE (the
  recursion depth follows the horizon, so no fixed unroll count is
  baked in — the complement of PageRank's unrolled-CTE technique for
  data-length-dependent recursions).
- ``ts_cusum_changepoint`` — CUSUM changepoint detection on the daily
  event rate: cumulative sum of exactly-scaled deviations D·c_i − total
  (all BIGINT), changepoint = |CUSUM| argmax.
- ``tokenize_bpe_top_merges`` — the first byte-pair-encoding training
  step: most frequent adjacent character pairs over the corpus
  vocabulary, weighted by word frequency — the seed of every BPE/WordPiece
  tokenizer build.

Scale shapes: Holt/CUSUM reduce the corpus to a horizon-length daily
frame first (hash-agg), so the recursion state is bounded by the calendar,
never the data; BPE explodes ≤|word| pairs per DISTINCT vocabulary word
(not per token occurrence — the vocab table is the explode input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.plans.retrieval_plans import _TOK_SPARK, _TOK_SQL
from nocouncil_etl_spark.registry import query

FP = 1000  # per-mille fixed point
ALPHA_N = 300  # level smoothing ×1000
BETA_N = 100  # trend smoothing ×1000
FORECAST_H = 4

BPE_TOP = 20


# --------------------------------------------------------------------------
# 1. Holt linear-trend forecast
# --------------------------------------------------------------------------


@query(
    "ts_holt_forecast",
    oracle=f"""
WITH RECURSIVE bounds AS (
  SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events
),
spine AS (
  SELECT CAST(unnest(generate_series((SELECT lo FROM bounds), (SELECT hi FROM bounds),
                                     INTERVAL 1 DAY)) AS DATE) AS day
),
cnt AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1
),
daily AS (
  SELECT row_number() OVER (ORDER BY s.day) - 1 AS idx, s.day,
         coalesce(c.c, 0) AS c
  FROM spine s LEFT JOIN cnt c ON s.day = c.day
),
maxi AS (SELECT max(idx) AS mi FROM daily),
holt AS (
  SELECT 1::BIGINT AS idx,
         (SELECT c FROM daily WHERE idx = 0) * {FP} AS l,
         ((SELECT c FROM daily WHERE idx = 1) - (SELECT c FROM daily WHERE idx = 0)) * {FP} AS t
  UNION ALL
  SELECT d.idx,
         ({ALPHA_N} * d.c * {FP} + ({FP} - {ALPHA_N}) * (h.l + h.t)) // {FP},
         ({BETA_N} * ((({ALPHA_N} * d.c * {FP} + ({FP} - {ALPHA_N}) * (h.l + h.t)) // {FP}) - h.l)
          + ({FP} - {BETA_N}) * h.t) // {FP}
  FROM holt h JOIN daily d ON d.idx = h.idx + 1
),
fitted AS (
  SELECT h.idx, d.day, d.c AS observed, h.l, h.t,
         CAST(round((h.l + h.t) / {FP}.0, 3) AS DOUBLE) AS one_ahead
  FROM holt h JOIN daily d ON d.idx = h.idx
),
terminal AS (SELECT l, t FROM holt WHERE idx = (SELECT mi FROM maxi)),
forecast AS (
  SELECT (SELECT mi FROM maxi) + s.h AS idx,
         CAST((SELECT hi FROM bounds) + to_days(CAST(s.h AS INT)) AS DATE) AS day,
         CAST(NULL AS BIGINT) AS observed,
         (SELECT l FROM terminal) AS l, (SELECT t FROM terminal) AS t,
         CAST(round(((SELECT l FROM terminal) + s.h * (SELECT t FROM terminal)) / {FP}.0, 3)
              AS DOUBLE) AS one_ahead
  FROM (SELECT unnest(generate_series(1, {FORECAST_H})) AS h) s
)
SELECT CAST(idx AS BIGINT) AS idx, CAST(day AS VARCHAR) AS day, observed,
       CAST(l AS BIGINT) AS level_fp, CAST(t AS BIGINT) AS trend_fp, one_ahead
FROM fitted WHERE idx >= 1
UNION ALL
SELECT CAST(idx AS BIGINT), CAST(day AS VARCHAR), observed,
       CAST(l AS BIGINT), CAST(t AS BIGINT), one_ahead
FROM forecast
""",
)
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing on the dense daily event-count series
    (α={ALPHA_N}/1000, β={BETA_N}/1000, per-mille integer fixed point, init
    l₁=c₀·FP, t₁=(c₁−c₀)·FP), plus a {FORECAST_H}-day linear forecast from
    the terminal state. Truncating integer division keeps both engines
    bit-identical (negative trends truncate toward zero on both — DuckDB
    ``//`` on the oracle side, Python tdiv in the driver loop).

    The recursion state is bounded by the CALENDAR, not the data: the
    corpus reduces to one row per day first (distributed hash-agg + dense
    spine), and the driver iterates that horizon-length series — the PCA /
    k-means bounded-driver-state contract. The oracle mirrors it with a
    RECURSIVE CTE whose depth follows the same horizon."""
    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    daily = (
        spine.join(cnt, "day", "left")
        .select("day", F.coalesce("c", F.lit(0)).alias("c"))
        .orderBy("day")
        .collect()
    )  # horizon-length series — bounded driver state by design

    def tdiv(x: int, d: int) -> int:
        return abs(x) // d if x >= 0 else -(abs(x) // d)

    c = [r.c for r in daily]
    days = [r.day for r in daily]
    l = c[0] * FP
    t = (c[1] - c[0]) * FP
    rows = [(1, str(days[1]), c[1], l, t, round((l + t) / float(FP), 3))]
    for i in range(2, len(c)):
        nl = tdiv(ALPHA_N * c[i] * FP + (FP - ALPHA_N) * (l + t), FP)
        t = tdiv(BETA_N * (nl - l) + (FP - BETA_N) * t, FP)
        l = nl
        rows.append((i, str(days[i]), c[i], l, t, round((l + t) / float(FP), 3)))
    import datetime as _dt

    for h in range(1, FORECAST_H + 1):
        rows.append(
            (
                len(c) - 1 + h,
                str(days[-1] + _dt.timedelta(days=h)),
                None,
                l,
                t,
                round((l + h * t) / float(FP), 3),
            )
        )
    return spark.createDataFrame(
        rows,
        "idx BIGINT, day STRING, observed BIGINT, level_fp BIGINT, "
        "trend_fp BIGINT, one_ahead DOUBLE",
    )


# --------------------------------------------------------------------------
# 2. CUSUM changepoint
# --------------------------------------------------------------------------


@query(
    "ts_cusum_changepoint",
    oracle="""
WITH cnt AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1
),
meta AS (SELECT CAST(count(*) AS BIGINT) AS d, CAST(sum(c) AS BIGINT) AS total FROM cnt),
cus AS (
  SELECT day, c,
         sum((SELECT d FROM meta) * c - (SELECT total FROM meta))
           OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cusum
  FROM cnt
),
mx AS (SELECT max(abs(cusum)) AS m FROM cus),
flagged AS (
  SELECT day, c, cusum,
         CASE WHEN abs(cusum) = (SELECT m FROM mx) THEN 1 ELSE 0 END AS is_peak
  FROM cus
),
first_peak AS (SELECT min(day) AS pd FROM flagged WHERE is_peak = 1)
SELECT CAST(day AS VARCHAR) AS day, c, CAST(cusum AS BIGINT) AS cusum,
       CASE WHEN day = (SELECT pd FROM first_peak) THEN 1 ELSE 0 END AS changepoint
FROM flagged
""",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily event rate: the running
    sum of exactly-scaled deviations D·cᵢ − total (≡ D·(cᵢ − mean), kept
    BIGINT so no float mean exists anywhere); the changepoint is the
    first day attaining max |CUSUM| — where the cumulative drift from the
    global rate peaks, the classic single-changepoint estimator.

    Scale shape: corpus → per-day hash-agg (calendar-sized), one window
    over that frame, one 1-row max broadcast back."""
    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    meta = cnt.agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("c").cast("long").alias("total"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cus = cnt.crossJoin(F.broadcast(meta)).withColumn(
        "cusum", F.sum(F.col("d") * F.col("c") - F.col("total")).over(w)
    )
    mx = cus.agg(F.max(F.abs(F.col("cusum"))).alias("m"))
    flagged = cus.crossJoin(F.broadcast(mx)).withColumn(
        "is_peak", (F.abs(F.col("cusum")) == F.col("m")).cast("int")
    )
    first_peak = flagged.filter(F.col("is_peak") == 1).agg(
        F.min("day").alias("pd")
    )
    return flagged.crossJoin(F.broadcast(first_peak)).select(
        F.col("day").cast("string").alias("day"),
        "c",
        F.col("cusum").cast("long").alias("cusum"),
        (F.col("day") == F.col("pd")).cast("int").alias("changepoint"),
    )


# --------------------------------------------------------------------------
# 3. BPE first-merge mining
# --------------------------------------------------------------------------


@query(
    "tokenize_bpe_top_merges",
    oracle=f"""
WITH tok AS (SELECT unnest({_TOK_SQL}) AS term FROM documents),
vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS wc FROM tok GROUP BY term),
pairs AS (
  SELECT substring(v.term, CAST(p.i AS INT), 2) AS pair, CAST(sum(v.wc) AS BIGINT) AS n
  FROM vocab v, LATERAL (SELECT unnest(range(1, length(v.term))) AS i) p
  WHERE length(v.term) >= 2
  GROUP BY 1
)
SELECT pair, n FROM pairs ORDER BY n DESC, pair LIMIT {BPE_TOP}
""",
)
def tokenize_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE training step: most frequent adjacent character pairs
    across the corpus, weighted by word frequency (pair count = Σ over
    vocabulary words containing it at each position × word count) — what a
    BPE/WordPiece tokenizer would merge first. Top-{BPE_TOP} by (count
    desc, pair).

    Scale shape: token stream → vocabulary hash-agg FIRST (the explode
    runs over distinct words, so pair fan-out is vocabulary-sized — at
    100 TB the vocabulary is millions of rows while the token stream is
    trillions); then ≤|word| pairs per vocab row → combine-agg →
    TakeOrdered."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(F.expr(_TOK_SPARK)).alias("term"))
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("wc"))
    pairs = (
        vocab.filter(F.length("term") >= 2)
        .select(
            "term",
            "wc",
            F.explode(F.expr("sequence(1, length(term) - 1)")).alias("i"),
        )
        .select(
            F.expr("substring(term, cast(i as int), 2)").alias("pair"), "wc"
        )
        .groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n"))
    )
    return pairs.orderBy(F.desc("n"), "pair").limit(BPE_TOP)
