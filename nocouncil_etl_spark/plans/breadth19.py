"""Breadth batch 19: audience decomposition, Bayesian A/B summary, IPW.

- ``agg_new_vs_returning`` — per-day split of active users into first-
  time vs returning (first-seen join against the per-user minimum day):
  the growth dashboard's most-asked decomposition, beside DAU/WAU
  stickiness and cohort retention.
- ``stat_beta_posterior`` — Beta-Bernoulli posterior summary per
  experiment arm (md5 A/B assignment, purchase conversion): with a
  Beta(1,1) prior the posterior is Beta(1+c, 1+n−c), whose mean and
  variance are closed-form rationals of exact integer counts — Bayesian
  A/B reporting with no integrals and no samplers.
- ``eval_ipw_ate`` — inverse-propensity-weighted average treatment
  effect on a synthesized confounded assignment: treatment probability
  depends on a covariate (high-value users are treated at 70%, others
  at 30% — KNOWN design propensities), the outcome carries a planted
  additive effect, and IPW reweighting recovers it where the naive
  difference is confounded. Completes the causal family
  (diff-in-diff, CUPED) with the observational leg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import query

# IPW design: known propensities ×10, planted additive effect in cents
P_HI_X10 = 7  # P(treat | high-value user) = 0.7
P_LO_X10 = 3  # P(treat | other) = 0.3
EFFECT_CENTS = 500
HIVAL_MOD = 3  # every 3rd user is "high-value" (the confounder)


# --------------------------------------------------------------------------
# 1. New vs returning users per day
# --------------------------------------------------------------------------


@query(
    "agg_new_vs_returning",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
first_seen AS (
  SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
)
SELECT CAST(u.day AS VARCHAR) AS day,
       CAST(sum(CASE WHEN u.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(sum(CASE WHEN u.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returning
FROM ud u JOIN first_seen f ON u.user_id = f.user_id
GROUP BY u.day
""",
)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into first-time vs returning: the user-day
    dedup, a per-user min-day aggregate, and one keyed join back — every
    day's actives decompose exactly (new + returning = DAU).

    Scale shape: the user-day distinct is the only corpus-sized shuffle
    (shared with the stickiness query); first-seen is a per-user combine;
    the join is keyed on user."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    first_seen = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        ud.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("n_returning"),
        )
        .select(F.col("day").cast("string").alias("day"), "n_new", "n_returning")
    )


# --------------------------------------------------------------------------
# 2. Beta posterior per arm
# --------------------------------------------------------------------------


@query(
    "stat_beta_posterior",
    oracle="""
WITH assigned AS (
  SELECT user_id,
         CASE WHEN ('0x' || substring(md5('arm#' || CAST(user_id AS VARCHAR)), 1, 15))
                   ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
)
SELECT arm, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(converted) AS BIGINT) AS c,
       CAST(1 + sum(converted) AS BIGINT) AS alpha,
       CAST(1 + count(*) - sum(converted) AS BIGINT) AS beta,
       round(CAST(1 + sum(converted) AS DOUBLE) / (2 + count(*)), 6)
         AS post_mean,
       round((CAST(1 + sum(converted) AS DOUBLE)
              * (1 + count(*) - sum(converted)))
             / ((2.0 + count(*)) * (2.0 + count(*)) * (3.0 + count(*))), 9)
         AS post_var
FROM assigned GROUP BY arm
""",
)
def stat_beta_posterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-Bernoulli posterior per md5-assigned arm on per-user purchase
    conversion: Beta(1,1) prior → posterior Beta(1+c, 1+n−c) with mean
    α/(α+β) and variance αβ/((α+β)²(α+β+1)) — closed-form rationals of
    exact integer counts (round 6/9dp), so Bayesian A/B reporting needs
    neither integrals nor samplers. Decision thresholds on P(B>A) live
    downstream of these sufficient statistics.

    Scale shape: one per-user combine + one per-arm combine — counts
    only."""
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        hash60(F.concat(F.lit("arm#"), F.col("user_id").cast("string")))
        % 2
        == 0,
        "A",
    ).otherwise("B")
    assigned = ev.groupBy("user_id").agg(
        F.first(arm).alias("arm"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
    )
    g = assigned.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("c"),
    )
    alpha = (1 + F.col("c")).cast("long")
    beta = (1 + F.col("n") - F.col("c")).cast("long")
    return g.select(
        "arm",
        "n",
        "c",
        alpha.alias("alpha"),
        beta.alias("beta"),
        F.round((1 + F.col("c")).cast("double") / (2 + F.col("n")), 6).alias(
            "post_mean"
        ),
        F.round(
            ((1 + F.col("c")).cast("double") * (1 + F.col("n") - F.col("c")))
            / (
                (2.0 + F.col("n"))
                * (2.0 + F.col("n"))
                * (3.0 + F.col("n"))
            ),
            9,
        ).alias("post_var"),
    )


# --------------------------------------------------------------------------
# 3. Inverse-propensity-weighted ATE
# --------------------------------------------------------------------------

_HIVAL = f"(user_id % {HIVAL_MOD} = 0)"
_TREAT = (
    f"CASE WHEN ('0x' || substring(md5('tr#' || CAST(user_id AS VARCHAR)), 1, 15))"
    f"::BIGINT % 10 < CASE WHEN {_HIVAL} THEN {P_HI_X10} ELSE {P_LO_X10} END "
    "THEN 1 ELSE 0 END"
)


@query(
    "eval_ipw_ate",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS base_cents
  FROM events GROUP BY user_id
),
design AS (
  SELECT user_id,
         CASE WHEN {_HIVAL} THEN 1 ELSE 0 END AS hival,
         {_TREAT} AS treat,
         base_cents
  FROM per_user
),
outcomes AS (
  SELECT user_id, hival, treat,
         base_cents % 1000 + treat * {EFFECT_CENTS}
           + hival * 2000 AS y
  FROM design
),
cells AS (
  SELECT treat, hival, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
  FROM outcomes GROUP BY treat, hival
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM cells),
ipw AS (
  SELECT
    sum(CASE WHEN treat = 1 THEN sy * 10.0
             / CASE WHEN hival = 1 THEN {P_HI_X10} ELSE {P_LO_X10} END
        ELSE 0 END) / (SELECT n_all FROM tot) AS mu1,
    sum(CASE WHEN treat = 0 THEN sy * 10.0
             / CASE WHEN hival = 1 THEN {10 - P_HI_X10} ELSE {10 - P_LO_X10} END
        ELSE 0 END) / (SELECT n_all FROM tot) AS mu0,
    sum(CASE WHEN treat = 1 THEN CAST(sy AS DOUBLE) ELSE 0 END)
      / sum(CASE WHEN treat = 1 THEN n ELSE 0 END) AS naive1,
    sum(CASE WHEN treat = 0 THEN CAST(sy AS DOUBLE) ELSE 0 END)
      / sum(CASE WHEN treat = 0 THEN n ELSE 0 END) AS naive0
  FROM cells
)
SELECT round(mu1, 6) AS mu1_cents, round(mu0, 6) AS mu0_cents,
       round(mu1 - mu0, 6) AS ate_ipw_cents,
       round(naive1 - naive0, 6) AS ate_naive_cents
FROM ipw
""",
)
def eval_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted ATE on a synthesized confounded design:
    high-value users (the confounder, +2000¢ outcome shift) are treated
    at {P_HI_X10}0%, others at {P_LO_X10}0%, and treatment adds a planted
    {EFFECT_CENTS}¢ effect on a bounded base outcome (spend mod 1000 —
    bounding the nuisance variance so the planted structure, not noise,
    decides the comparison). The Horvitz-Thompson reweighting Σ y·(1/p) /N
    per arm uses the KNOWN design propensities (exact tenths), so the IPW
    estimate lands near the planted effect while the naive difference of
    means is inflated by the confounding — both are emitted, which is the
    whole lesson. All sums are exact integers until four final double
    divisions.

    Scale shape: one per-user combine, then FOUR design cells carry all
    state (the diff-in-diff cell discipline) — constant-size arithmetic
    after the first agg."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("base_cents")
    )
    hival = F.when(F.col("user_id") % HIVAL_MOD == 0, 1).otherwise(0)
    h = (
        hash60(F.concat(F.lit("tr#"), F.col("user_id").cast("string")))
        % 10
    )
    treat = F.when(
        h < F.when(hival == 1, P_HI_X10).otherwise(P_LO_X10), 1
    ).otherwise(0)
    outcomes = per_user.select(
        "user_id",
        hival.alias("hival"),
        treat.alias("treat"),
        (
            F.col("base_cents") % 1000
            + treat * EFFECT_CENTS
            + hival * 2000
        ).alias("y"),
    )
    cells = outcomes.groupBy("treat", "hival").agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("sy")
    )
    tot = cells.agg(F.sum("n").cast("long").alias("n_all"))
    p_t = F.when(F.col("hival") == 1, P_HI_X10).otherwise(P_LO_X10)
    p_c = F.when(F.col("hival") == 1, 10 - P_HI_X10).otherwise(10 - P_LO_X10)
    ipw = cells.crossJoin(F.broadcast(tot)).agg(
        (
            F.sum(
                F.when(F.col("treat") == 1, F.col("sy") * 10.0 / p_t).otherwise(0)
            )
            / F.first("n_all")
        ).alias("mu1"),
        (
            F.sum(
                F.when(F.col("treat") == 0, F.col("sy") * 10.0 / p_c).otherwise(0)
            )
            / F.first("n_all")
        ).alias("mu0"),
        (
            F.sum(F.when(F.col("treat") == 1, F.col("sy").cast("double")).otherwise(0))
            / F.sum(F.when(F.col("treat") == 1, F.col("n")).otherwise(0))
        ).alias("naive1"),
        (
            F.sum(F.when(F.col("treat") == 0, F.col("sy").cast("double")).otherwise(0))
            / F.sum(F.when(F.col("treat") == 0, F.col("n")).otherwise(0))
        ).alias("naive0"),
    )
    return ipw.select(
        F.round("mu1", 6).alias("mu1_cents"),
        F.round("mu0", 6).alias("mu0_cents"),
        F.round(F.col("mu1") - F.col("mu0"), 6).alias("ate_ipw_cents"),
        F.round(F.col("naive1") - F.col("naive0"), 6).alias("ate_naive_cents"),
    )
