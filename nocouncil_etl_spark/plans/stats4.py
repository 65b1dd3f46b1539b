"""Stats wave 4: algorithmic windows and exact resampling inference.

- ``ts_max_window_gain`` — maximum-sum contiguous run of daily deltas
  (Kadane's problem) solved set-at-a-time: best = max over days j of
  prefix(j) − min prefix before j — one running-min window over the
  daily table instead of a sequential scan, exact integer cents. The
  "best stretch / worst stretch" question (window_drawdown is the dual).
- ``stat_permutation_test`` — paired sign-flip permutation test on
  per-user pre/post spend deltas with DETERMINISTIC md5-seeded flips
  (the agg_bootstrap_ci discipline applied to hypothesis testing):
  every replica flips each user's delta by md5(user, replica) % 2; the
  p-value counts replicas whose |mean| reaches the observed |mean|.
  Exact integers end to end — an engine-portable exact-inference recipe
  that needs no distributional assumption and no CDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.plans.experiment_plans import SPLIT_DAY
from nocouncil_etl_spark.registry import query

N_PERMS = 64


@query(
    "ts_max_window_gain",
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
),
mu AS (SELECT CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS m FROM daily),
delta AS (
  SELECT day, x - (SELECT m FROM mu) AS d FROM daily
),
pref AS (
  SELECT day,
         CAST(sum(d) OVER (ORDER BY day) AS BIGINT) AS p
  FROM delta
),
runmin AS (
  SELECT day, p,
         CAST(coalesce(min(p) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS minp
  FROM pref
),
best AS (
  SELECT day, p - minp AS gain FROM runmin
),
mx AS (SELECT CAST(max(gain) AS BIGINT) AS best_gain FROM best)
SELECT m.best_gain,
       CAST(min(b.day) AS BIGINT) AS end_day,
       CAST(any_value(t.n) AS BIGINT) AS n_days
FROM mx m, best b, (SELECT CAST(count(*) AS BIGINT) AS n FROM daily) t
WHERE b.gain = m.best_gain
GROUP BY m.best_gain
""",
)
def ts_max_window_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kadane's maximum-subarray over mean-centered daily revenue (raw
    sums are all positive, so deltas vs the integer-floor daily mean make
    the problem non-trivial): best contiguous gain = max_j (prefix_j −
    min_{i<j} prefix_i), computed with ONE running-min window — the
    set-at-a-time formulation of an algorithm usually written as a
    sequential loop. Emits the best gain and its earliest end day, exact
    cents.

    Scale shape: the stream collapses to the daily table; both windows
    are over the span-bounded series. The same rewrite runs per-key with
    partitioned windows for millions of series at once."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    daily.persist()
    mu = daily.agg(
        F.expr("CAST(sum(x) AS BIGINT) div CAST(count(1) AS BIGINT)").alias(
            "m"
        )
    )
    delta = daily.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("x") - F.col("m")).alias("d")
    )
    w = Window.orderBy("day")
    pref = delta.select(
        "day", F.sum("d").over(w).cast("long").alias("p")
    )
    runmin = pref.select(
        "day",
        "p",
        F.coalesce(
            F.min("p").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("minp"),
    )
    best = runmin.select("day", (F.col("p") - F.col("minp")).alias("gain"))
    mx = best.agg(F.max("gain").cast("long").alias("best_gain"))
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        best.crossJoin(F.broadcast(mx))
        .filter(F.col("gain") == F.col("best_gain"))
        .groupBy("best_gain")
        .agg(F.min("day").cast("long").alias("end_day"))
        .crossJoin(F.broadcast(n))
        .select("best_gain", "end_day", F.col("n_days").alias("n_days"))
    )


@query(
    "stat_permutation_test",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                       >= {SPLIT_DAY} THEN CAST(round(value * 100) AS BIGINT)
                  ELSE -CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS d
  FROM events GROUP BY user_id
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per_user),
obs AS (SELECT CAST(abs(sum(d)) AS BIGINT) AS t_obs FROM per_user),
reps AS (SELECT unnest(range(0, {N_PERMS})) AS b),
flipped AS (
  SELECT r.b,
         CAST(abs(sum(CASE WHEN ('0x' || substring(md5(
               CAST(u.user_id AS VARCHAR) || '|' || CAST(r.b AS VARCHAR)), 1, 15))::BIGINT
               % 2 = 0 THEN u.d ELSE -u.d END)) AS BIGINT) AS t_rep
  FROM reps r CROSS JOIN per_user u
  GROUP BY r.b
)
SELECT (SELECT n FROM n) AS n_users,
       (SELECT t_obs FROM obs) AS t_obs,
       CAST(count(*) AS BIGINT) AS n_perms,
       CAST(sum(CASE WHEN t_rep >= (SELECT t_obs FROM obs) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_extreme,
       round((1 + sum(CASE WHEN t_rep >= (SELECT t_obs FROM obs)
                      THEN 1 ELSE 0 END)) / ({N_PERMS} + 1.0), 6) AS p_value
FROM flipped
""",
)
def stat_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-flip permutation test for "did per-user spend change after the
    split day": the statistic is |Σ_user (post − pre)| in exact cents; each
    of the {N_PERMS} replicas deterministically flips every user's delta
    by md5(user, replica) % 2 (the portable pseudo-randomness every
    sampled operator here uses); p = (1 + #extreme)/({N_PERMS} + 1) —
    the add-one estimator, exact integers until that one division. No
    normality assumption, no CDF, fully engine-checkable inference.

    Scale shape: one per-user hash-agg, then a {N_PERMS}-way replicated
    agg (broadcast replica list; each replica is a map-side-combined sum)
    — the same replicate-and-agg shape as the Poisson bootstrap, linear
    in users × replicas with tiny state."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(day >= SPLIT_DAY, cents).otherwise(-cents))
        .cast("long")
        .alias("d")
    )
    per_user.persist()
    n = per_user.count()  # one scalar
    t_obs = per_user.agg(
        F.abs(F.sum("d")).cast("long").alias("t_obs")
    )
    reps = spark.range(0, N_PERMS).select(F.col("id").alias("b"))
    flip = F.when(
        hash60(F.concat_ws(
            "|",
            F.col("user_id").cast("string"),
            F.col("b").cast("string"),
        ))
        % 2
        == 0,
        F.col("d"),
    ).otherwise(-F.col("d"))
    flipped = (
        per_user.crossJoin(F.broadcast(reps))
        .groupBy("b")
        .agg(F.abs(F.sum(flip)).cast("long").alias("t_rep"))
    )
    agg = flipped.crossJoin(F.broadcast(t_obs)).agg(
        F.any_value("t_obs").alias("t_obs"),
        F.count(F.lit(1)).cast("long").alias("n_perms"),
        F.sum(F.when(F.col("t_rep") >= F.col("t_obs"), 1).otherwise(0))
        .cast("long")
        .alias("n_extreme"),
    )
    return agg.select(
        F.lit(n).cast("long").alias("n_users"),
        "t_obs",
        "n_perms",
        "n_extreme",
        F.round((1 + F.col("n_extreme")) / float(N_PERMS + 1), 6).alias(
            "p_value"
        ),
    )


# --------------------------------------------------------------------------
# Hill tail-index estimator
# --------------------------------------------------------------------------

HILL_K = 50


@query(
    "agg_hill_tail_index",
    oracle=f"""
WITH per_user AS (
  SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents DESC, user_id) AS BIGINT) AS rn
  FROM per_user
),
kth AS (SELECT cents AS x_k FROM ranked WHERE rn = {HILL_K} + 1),
parts AS (
  SELECT CAST(round(ln(CAST(r.cents AS DOUBLE) / (SELECT x_k FROM kth)), 6)
              AS DECIMAL(18, 6)) AS lr
  FROM ranked r WHERE r.rn <= {HILL_K}
)
SELECT CAST({HILL_K} AS BIGINT) AS k,
       (SELECT CAST(x_k AS BIGINT) FROM kth) AS x_k,
       CAST(sum(lr) AS DOUBLE) AS sum_log_ratio,
       round(CAST(sum(lr) AS DOUBLE) / {HILL_K}, 6) AS hill_gamma,
       round({HILL_K} / CAST(sum(lr) AS DOUBLE), 6) AS tail_alpha
FROM parts
""",
)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the spend distribution's tail index: over the top
    {HILL_K} user totals, γ̂ = (1/k)·Σ ln(x_(i)/x_(k+1)) and α̂ = 1/γ̂ —
    the standard heavy-tail diagnostic (α < 2 ⇒ infinite variance: means
    and A/B tests on the raw metric are unstable, winsorize or CUPED
    first). Log ratios of exact integers quantize to DECIMAL(18,6) before
    the sum; ordering is total on (cents desc, user).

    Scale shape: per-user agg then a top-(k+1) selection — at scale a
    TakeOrdered of k+1 rows; the estimator itself is k-bounded."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # r7: only the top k+1 order statistics matter — take them with
    # orderBy().limit() (TakeOrderedAndProject) and rank the survivors;
    # the window's input is k+1 rows, never the user table
    ranked = (
        per_user.orderBy(F.desc("cents"), "user_id")
        .limit(HILL_K + 1)
        .select(
            "cents",
            F.row_number()
            .over(Window.orderBy(F.desc("cents"), "user_id"))
            .cast("long")
            .alias("rn"),
        )
    )
    ranked.persist()
    kth = ranked.filter(F.col("rn") == HILL_K + 1).select(
        F.col("cents").alias("x_k")
    )
    parts = (
        ranked.filter(F.col("rn") <= HILL_K)
        .crossJoin(F.broadcast(kth))
        .select(
            F.round(
                F.log(F.col("cents").cast("double") / F.col("x_k")), 6
            )
            .cast("decimal(18,6)")
            .alias("lr"),
            "x_k",
        )
    )
    return parts.agg(
        F.lit(HILL_K).cast("long").alias("k"),
        F.any_value("x_k").cast("long").alias("x_k"),
        F.sum("lr").cast("double").alias("sum_log_ratio"),
        F.round(F.sum("lr").cast("double") / HILL_K, 6).alias("hill_gamma"),
        F.round(HILL_K / F.sum("lr").cast("double"), 6).alias("tail_alpha"),
    )
