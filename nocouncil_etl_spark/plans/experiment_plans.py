"""Experimentation-analysis batch: the two workhorses of A/B measurement
beyond the t-test (evalstats.agg_ttest_welch).

- ``eval_diff_in_diff`` — difference-in-differences over a deterministic
  md5 treatment assignment and a pre/post split: the causal estimate that
  survives group-level baseline differences (simple post-period deltas
  don't). All four cell means from exact integer cents; the DiD point
  estimate and its pooled standard error finish in identical scalar
  doubles.
- ``eval_cuped_adjustment`` — CUPED (Deng et al., 2013): use each user's
  PRE-period metric as a control variate, θ = cov(pre, post)/var(pre),
  adjusted = post − θ·(pre − mean(pre)); report the variance-reduction
  ratio. The standard way to shrink experiment runtimes; every moment is
  an exact BIGINT over per-user cent totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import query

SPLIT_DAY = 19746  # 2024-01-24: pre = Jan 1-23, post = Jan 24-30 (epoch days)

_ASSIGN_SQL = (
    "('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2"
)


@query(
    "eval_diff_in_diff",
    oracle=f"""
WITH base AS (
  SELECT user_id,
         {_ASSIGN_SQL} AS treated,
         CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
              >= {SPLIT_DAY} THEN 1 ELSE 0 END AS post,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
cells AS (
  SELECT treated, post, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s, CAST(sum(cents * cents) AS BIGINT) AS ss
  FROM base GROUP BY treated, post
),
wide AS (
  SELECT
    max(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS m_t1,
    max(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS m_t0,
    max(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS m_c1,
    max(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS m_c0,
    max(CASE WHEN treated = 1 AND post = 1 THEN
        (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) / n END) AS v_t1,
    max(CASE WHEN treated = 1 AND post = 0 THEN
        (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) / n END) AS v_t0,
    max(CASE WHEN treated = 0 AND post = 1 THEN
        (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) / n END) AS v_c1,
    max(CASE WHEN treated = 0 AND post = 0 THEN
        (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) / n END) AS v_c0,
    CAST(sum(n) AS BIGINT) AS n_events
  FROM cells
)
SELECT n_events,
       round((m_t1 - m_t0) / 100.0, 6) AS delta_treated,
       round((m_c1 - m_c0) / 100.0, 6) AS delta_control,
       round(((m_t1 - m_t0) - (m_c1 - m_c0)) / 100.0, 6) AS did_estimate,
       round(sqrt(v_t1 + v_t0 + v_c1 + v_c0) / 100.0, 6) AS did_se,
       round(((m_t1 - m_t0) - (m_c1 - m_c0))
             / sqrt(v_t1 + v_t0 + v_c1 + v_c0), 6) AS z_stat
FROM wide
""",
)
def eval_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on event value: treatment = md5(user) % 2
    (the engine's portable hash assignment — an A/A in this synthetic
    data, so the estimate should hover near zero: the null calibration
    every experiment platform ships first), pre/post split at epoch day
    {SPLIT_DAY}. Four cell means and their variances from exact BIGINT
    Σcents/Σcents²; DiD = (T₁−T₀)−(C₁−C₀) with the four-cell pooled SE,
    all in identical scalar doubles rounded 6dp.

    Scale shape: ONE hash-agg into four cells, then scalar math — the
    estimator costs a single shuffle of (treated, post) keys at any
    corpus size."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        (
            hash60(F.col("user_id").cast("string"))
            % 2
        ).alias("treated"),
        F.when(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            >= SPLIT_DAY,
            1,
        )
        .otherwise(0)
        .alias("post"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cells = base.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss"),
    )

    def pick(expr, t, p):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), expr)
        )

    mean = F.col("s").cast("double") / F.col("n")
    var_of_mean = (
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("n") - 1)
        / F.col("n")
    )
    wide = cells.agg(
        pick(mean, 1, 1).alias("m_t1"),
        pick(mean, 1, 0).alias("m_t0"),
        pick(mean, 0, 1).alias("m_c1"),
        pick(mean, 0, 0).alias("m_c0"),
        pick(var_of_mean, 1, 1).alias("v_t1"),
        pick(var_of_mean, 1, 0).alias("v_t0"),
        pick(var_of_mean, 0, 1).alias("v_c1"),
        pick(var_of_mean, 0, 0).alias("v_c0"),
        F.sum("n").cast("long").alias("n_events"),
    )
    did = (F.col("m_t1") - F.col("m_t0")) - (F.col("m_c1") - F.col("m_c0"))
    se = F.sqrt(
        F.col("v_t1") + F.col("v_t0") + F.col("v_c1") + F.col("v_c0")
    )
    return wide.select(
        "n_events",
        F.round((F.col("m_t1") - F.col("m_t0")) / 100.0, 6).alias(
            "delta_treated"
        ),
        F.round((F.col("m_c1") - F.col("m_c0")) / 100.0, 6).alias(
            "delta_control"
        ),
        F.round(did / 100.0, 6).alias("did_estimate"),
        F.round(se / 100.0, 6).alias("did_se"),
        F.round(did / se, 6).alias("z_stat"),
    )


@query(
    "eval_cuped_adjustment",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                       < {SPLIT_DAY} THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS pre,
         CAST(sum(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                       >= {SPLIT_DAY} THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS post
  FROM events GROUP BY user_id
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pre) AS BIGINT) AS sx, CAST(sum(post) AS BIGINT) AS sy,
         CAST(sum(pre * pre) AS BIGINT) AS sxx,
         CAST(sum(post * post) AS BIGINT) AS syy,
         CAST(sum(pre * post) AS BIGINT) AS sxy
  FROM per_user
),
s AS (
  SELECT n,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS theta,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS var_y,
         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1) AS var_x,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1) AS cov_xy
  FROM mom
)
SELECT n AS n_users,
       round(theta, 6) AS theta,
       round(var_y / 10000.0, 6) AS var_post,
       round((var_y - cov_xy * cov_xy / var_x) / 10000.0, 6) AS var_adjusted,
       round(1.0 - (var_y - cov_xy * cov_xy / var_x) / var_y, 6)
         AS variance_reduction
FROM s
""",
)
def eval_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED over per-user pre/post spend: θ = cov(pre, post)/var(pre)
    from exact BIGINT cross-moments; the adjusted-metric variance is
    var(post) − cov²/var(pre) and the headline number is the variance
    reduction ratio 1 − var_adj/var_post = ρ² (how much shorter the
    experiment can run). All moments integer-exact; the four derived
    statistics are identical scalar doubles rounded 6dp.

    Scale shape: one per-user hash-agg (the only data-sized shuffle),
    then a 5-moment 1-row agg — CUPED at 100 TB costs the same as a
    groupBy(user).sum()."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(day < SPLIT_DAY, cents).otherwise(0))
        .cast("long")
        .alias("pre"),
        F.sum(F.when(day >= SPLIT_DAY, cents).otherwise(0))
        .cast("long")
        .alias("post"),
    )
    return cuped_stats(per_user, "pre", "post", var_div=10000.0).withColumnRenamed(
        "n", "n_users"
    )


def cuped_stats(
    df: DataFrame, pre_col: str, post_col: str, var_div: float = 1.0
) -> DataFrame:
    """The CUPED kernel: exact BIGINT cross-moments of (pre, post) in one
    1-row agg, then (n, theta, var_post, var_adjusted, variance_reduction)
    as scalar doubles rounded 6dp; the two variances are divided by
    ``var_div`` first (10⁴ turns cents² into currency²)."""
    mom = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(pre_col).cast("long").alias("sx"),
        F.sum(post_col).cast("long").alias("sy"),
        F.sum(F.col(pre_col) * F.col(pre_col)).cast("long").alias("sxx"),
        F.sum(F.col(post_col) * F.col(post_col)).cast("long").alias("syy"),
        F.sum(F.col(pre_col) * F.col(post_col)).cast("long").alias("sxy"),
    )
    n = F.col("n")
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n
    s = mom.select(
        n.alias("n"),
        (cxy / cxx).alias("theta"),
        (cyy / (n - 1)).alias("var_y"),
        (cxx / (n - 1)).alias("var_x"),
        (cxy / (n - 1)).alias("cov_xy"),
    )
    var_adj = F.col("var_y") - F.col("cov_xy") * F.col("cov_xy") / F.col("var_x")
    return s.select(
        "n",
        F.round("theta", 6).alias("theta"),
        F.round(F.col("var_y") / var_div, 6).alias("var_post"),
        F.round(var_adj / var_div, 6).alias("var_adjusted"),
        F.round(1.0 - var_adj / F.col("var_y"), 6).alias(
            "variance_reduction"
        ),
    )
