"""ML-prep batch 4: isotonic calibration and multiple-testing control.

- ``ml_isotonic_calibration`` — isotonic (monotone non-decreasing)
  regression of observed positive rate on predicted probability over
  fixed calibration bins, via the minimax identity
  iso(i) = max_{j≤i} min_{k≥i} mean(y over bins j..k) — the closed form
  of pool-adjacent-violators, which lets an intrinsically SEQUENTIAL
  algorithm run as three joins over a B-row aggregate and take an exact
  SQL oracle. Calibrated probabilities are what model-scored curation
  thresholds (quality filters, router confidences) should be cut on;
  eval_calibration_bins diagnoses miscalibration, this operator FIXES it.
- ``stat_fdr_bh`` — Benjamini-Hochberg false-discovery-rate control over
  per-segment permutation tests: each event_type gets the
  stat_permutation_test sign-flip p-value (exact rational, add-one
  estimator), plus one PLANTED always-positive segment, and the BH
  step-up picks the discovery set with every comparison in cross-
  multiplied integers (p_num·m ≤ 10·rank ⟺ p ≤ rank/m · 0.05). The
  "we ran 50 A/B metrics, which moved?" discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.operators.calibration import calibration_bins, isotonic_fit
from nocouncil_etl_spark.plans.experiment_plans import SPLIT_DAY
from nocouncil_etl_spark.registry import query

HASH_SPACE = float(1 << 60)

ISO_BINS = 20
ISO_SCALE = 1_000_000_000

FDR_PERMS = 199  # p denominator = 200 → exact rationals
PLANTED_GROUP = "planted_effect"
# BH at alpha = 0.05 with p = p_num/(FDR_PERMS+1):
#   p_num/200 <= r/m * 5/100  <=>  p_num * m <= 10 * r


# --------------------------------------------------------------------------
# 1. Isotonic calibration (minimax form of PAVA)
# --------------------------------------------------------------------------


@query(
    "ml_isotonic_calibration",
    oracle=f"""
WITH scored AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         round((2.0 * (CAST(('0x' || substring(md5('iso#' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                / {HASH_SPACE!r})
                + CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / 3.0, 6) AS p
  FROM events
),
bins AS MATERIALIZED (
  SELECT least({ISO_BINS - 1}, CAST(floor(p * {ISO_BINS}) AS BIGINT)) AS bin,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1
),
seg AS MATERIALIZED (
  SELECT j.bin AS j, k.bin AS k,
         ({ISO_SCALE} * sum(x.pos)) // sum(x.n) AS m
  FROM bins j
  JOIN bins k ON j.bin <= k.bin
  JOIN bins x ON x.bin BETWEEN j.bin AND k.bin
  GROUP BY j.bin, k.bin
),
inn AS (
  SELECT i.bin AS i, s.j, min(s.m) AS mn
  FROM bins i JOIN seg s ON s.j <= i.bin AND s.k >= i.bin
  GROUP BY i.bin, s.j
),
iso AS (SELECT i AS bin, CAST(max(mn) AS BIGINT) AS iso_1e9 FROM inn GROUP BY i)
SELECT b.bin, b.n, b.pos,
       CAST(({ISO_SCALE} * b.pos) // b.n AS BIGINT) AS obs_1e9, iso.iso_1e9
FROM bins b JOIN iso ON b.bin = iso.bin
""",
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of the breadth9 pseudo-probability against the
    purchase label over {ISO_BINS} bins: iso(i) = max_{{j<=i}} min_{{k>=i}}
    pooled-rate(j..k), pooled rates in exact integer 1e-9 units (floor
    division), so the fitted curve is bit-identical across engines and
    provably monotone (max over a growing j-set, min over a shrinking
    k-set).

    Scale shape: one map-side-combined bin aggregation over the events
    scan, then ALL remaining work is joins among B={ISO_BINS}-row frames —
    O(B³) pairs but B is a fixed constant independent of data size, so
    the post-aggregation cost is literally constant at 100 TB (the same
    fixed-small-frame argument as the TPC-H dimension joins)."""
    ev = load(spark, sf_dir, "events")
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    u = hash60(F.concat(F.lit("iso#"), F.col("event_id").cast("string")))
    u = u / F.lit(HASH_SPACE)
    scored = ev.select(F.round((2.0 * u + y) / 3.0, 6).alias("p"), y.alias("y"))
    bins = calibration_bins(scored, "p", "y", ISO_BINS)
    return isotonic_fit(bins, scale=ISO_SCALE)


# --------------------------------------------------------------------------
# 2. Benjamini-Hochberg FDR over per-segment permutation tests
# --------------------------------------------------------------------------


@query(
    "stat_fdr_bh",
    oracle=f"""
WITH real_deltas AS (
  SELECT event_type AS g, user_id,
         CAST(sum(CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                       >= {SPLIT_DAY} THEN CAST(round(value * 100) AS BIGINT)
                  ELSE -CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS d
  FROM events GROUP BY event_type, user_id
),
planted AS (
  SELECT '{PLANTED_GROUP}' AS g, user_id,
         CAST(user_id % 5 + 1 AS BIGINT) AS d
  FROM (SELECT DISTINCT user_id FROM events)
),
per AS MATERIALIZED (
  SELECT * FROM real_deltas UNION ALL SELECT * FROM planted
),
obs AS MATERIALIZED (
  SELECT g, CAST(abs(sum(d)) AS BIGINT) AS t_obs FROM per GROUP BY g
),
reps AS (SELECT unnest(range(0, {FDR_PERMS})) AS b),
flipped AS (
  SELECT u.g, r.b,
         CAST(abs(sum(CASE WHEN ('0x' || substring(md5(
               u.g || '|' || CAST(u.user_id AS VARCHAR) || '|' || CAST(r.b AS VARCHAR)),
               1, 15))::BIGINT % 2 = 0 THEN u.d ELSE -u.d END)) AS BIGINT) AS t_rep
  FROM reps r CROSS JOIN per u
  GROUP BY u.g, r.b
),
pvals AS MATERIALIZED (
  SELECT o.g, o.t_obs,
         CAST(1 + sum(CASE WHEN f.t_rep >= o.t_obs THEN 1 ELSE 0 END) AS BIGINT) AS p_num
  FROM obs o JOIN flipped f ON f.g = o.g
  GROUP BY o.g, o.t_obs
),
ranked AS MATERIALIZED (
  SELECT g, t_obs, p_num,
         CAST(row_number() OVER (ORDER BY p_num, g) AS INT) AS rk,
         (SELECT count(*) FROM pvals) AS m
  FROM pvals
),
rmax AS (
  SELECT coalesce(max(rk), 0) AS rmax FROM ranked WHERE p_num * m <= 10 * rk
)
SELECT g AS segment, t_obs, p_num, CAST({FDR_PERMS + 1} AS BIGINT) AS p_den, rk,
       CAST(CASE WHEN rk <= (SELECT rmax FROM rmax) THEN 1 ELSE 0 END AS INT)
         AS discovery
FROM ranked
""",
)
def stat_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control at α=5% across per-segment sign-flip
    permutation tests: one "did per-user spend shift after day
    {SPLIT_DAY}" test per event_type (the stat_permutation_test statistic,
    per segment, {FDR_PERMS} md5-keyed deterministic flips, add-one
    p = p_num/{FDR_PERMS + 1}) plus one planted all-positive segment that
    must be discovered — so the step-up's discovery set is provably
    non-empty and every comparison stays in cross-multiplied integers
    (p_num·m ≤ 10·rank), no float thresholds anywhere.

    Scale shape: the per-(segment,user) delta is one hash-agg over the
    events scan; the permutation stage replicates that SMALL frame
    {FDR_PERMS}× (broadcast replica list, map-side-combined sums — the
    Poisson-bootstrap shape, linear in segments × users × replicas); the
    BH step-up itself runs on the m-row p-value frame, a constant-size
    tail no matter the corpus."""
    ev = load(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    cents = F.round(F.col("value") * 100).cast("long")
    real_deltas = ev.groupBy(
        F.col("event_type").alias("g"), F.col("user_id")
    ).agg(
        F.sum(F.when(day >= SPLIT_DAY, cents).otherwise(-cents))
        .cast("long")
        .alias("d")
    )
    planted = (
        ev.select("user_id")
        .distinct()
        .select(
            F.lit(PLANTED_GROUP).alias("g"),
            "user_id",
            (F.col("user_id") % 5 + 1).cast("long").alias("d"),
        )
    )
    per = real_deltas.unionByName(planted)
    per = per.persist()
    obs = per.groupBy("g").agg(F.abs(F.sum("d")).cast("long").alias("t_obs"))
    reps = spark.range(0, FDR_PERMS).select(F.col("id").alias("b"))
    flip_sign = F.when(
        hash60(F.concat_ws(
            "|",
            F.col("g"),
            F.col("user_id").cast("string"),
            F.col("b").cast("string"),
        ))
        % 2
        == 0,
        F.col("d"),
    ).otherwise(-F.col("d"))
    flipped = (
        reps.crossJoin(per)
        .groupBy("g", "b")
        .agg(F.abs(F.sum(flip_sign)).cast("long").alias("t_rep"))
    )
    pvals = (
        obs.join(flipped, "g")
        .groupBy("g", "t_obs")
        .agg(
            (1 + F.sum(F.when(F.col("t_rep") >= F.col("t_obs"), 1).otherwise(0)))
            .cast("long")
            .alias("p_num")
        )
    )
    pvals = pvals.persist()
    m = pvals.count()  # one scalar: the number of hypotheses
    ranked = pvals.select(
        "g",
        "t_obs",
        "p_num",
        F.row_number()
        .over(Window.orderBy(F.asc("p_num"), F.asc("g")))
        .cast("int")
        .alias("rk"),
    )
    ranked = ranked.persist()
    ranked.count()  # materialize so the parent caches can be dropped
    per.unpersist()
    pvals.unpersist()
    rmax_row = (
        ranked.filter(F.col("p_num") * m <= 10 * F.col("rk"))
        .agg(F.coalesce(F.max("rk"), F.lit(0)).alias("rmax"))
        .collect()[0]
    )
    rmax = rmax_row.rmax  # one scalar: the BH step-up cut
    return ranked.select(
        F.col("g").alias("segment"),
        "t_obs",
        "p_num",
        F.lit(FDR_PERMS + 1).cast("long").alias("p_den"),
        "rk",
        F.when(F.col("rk") <= rmax, 1).otherwise(0).cast("int").alias("discovery"),
    )
