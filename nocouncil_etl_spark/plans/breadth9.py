"""Breadth batch 9: probabilistic record linkage, calibration analysis,
multi-touch attribution.

- ``join_record_linkage_fs`` — Fellegi-Sunter-style record linkage: a
  synthesized dirty feed (mutated names, drifted balances — the
  dedup-plans planted-copy discipline applied to ENTITIES instead of
  documents) is matched against the customer master through blocked
  candidate generation and per-field agreement log-weights. The
  entity-resolution counterpart of the document dedup family.
- ``eval_calibration_bins`` — reliability diagram + Brier score for a
  deterministic pseudo-probability: per-bin mean prediction vs observed
  positive rate. Completes the evaluation family (AUC ranks, confusion
  thresholds classify, calibration checks the PROBABILITIES).
- ``attribution_position_based`` — position-based (U-shaped) multi-touch
  attribution: each purchase credits its prior same-user touches 40/20/40
  in integer basis points. The batch form of stream_join_attribution's
  first-touch model, generalized to multi-touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import query

HASH_SPACE = float(1 << 60)

# Fellegi-Sunter agreement weights ×1000 (ln(m/u) fixed by design — a
# production build would EM-estimate them; the operator under test is the
# blocked scoring join)
W_NAME_EXACT, W_NAME_EXACT_DIS = 4000, -1000
W_PREFIX5, W_PREFIX5_DIS = 2000, -500
W_BAL, W_BAL_DIS = 3000, -2000
W_SEG, W_SEG_DIS = 1000, -1500
FS_MATCH, FS_POSSIBLE = 4500, 2000
DIRTY_MOD = 7  # every 7th customer gets a mutated duplicate
DIRTY_OFFSET = 900000

CAL_BINS = 10

TOUCH_WINDOW_DAYS = 1
BP = 10000  # credit basis points per conversion


# --------------------------------------------------------------------------
# 1. Fellegi-Sunter record linkage
# --------------------------------------------------------------------------


@query(
    "join_record_linkage_fs",
    oracle=f"""
WITH base AS (
  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
         c_mktsegment AS seg
  FROM customer
),
dirty AS (
  SELECT id + {DIRTY_OFFSET} AS id,
         substr(name, 1, p - 1) || 'x' || substr(name, p + 1) AS name,
         nat, bal_cents + 37 AS bal_cents, seg
  FROM (
    SELECT *, CAST(id % greatest(length(name) - 10, 1) + 6 AS INT) AS p
    FROM base WHERE id % {DIRTY_MOD} = 0
  )
),
uni AS (SELECT * FROM base UNION ALL SELECT * FROM dirty),
blocked AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CASE WHEN a.name = b.name THEN {W_NAME_EXACT} ELSE {W_NAME_EXACT_DIS} END
           + CASE WHEN substr(a.name, 1, 5) = substr(b.name, 1, 5)
                  THEN {W_PREFIX5} ELSE {W_PREFIX5_DIS} END
           + CASE WHEN abs(a.bal_cents - b.bal_cents) <= 100
                  THEN {W_BAL} ELSE {W_BAL_DIS} END
           + CASE WHEN a.seg = b.seg THEN {W_SEG} ELSE {W_SEG_DIS} END AS score
  FROM uni a JOIN uni b
    ON a.nat = b.nat AND substr(a.name, length(a.name) - 3, 4) = substr(b.name, length(b.name) - 3, 4)
    AND a.id < b.id
)
SELECT id_a, id_b, CAST(score AS BIGINT) AS score,
       CASE WHEN score >= {FS_MATCH} THEN 'match'
            WHEN score >= {FS_POSSIBLE} THEN 'possible'
            ELSE 'non_match' END AS cls
FROM blocked WHERE score >= {FS_POSSIBLE}
""",
)
def join_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage over the customer master ∪ a planted
    dirty feed (every {DIRTY_MOD}th customer duplicated with one mutated
    name character past the prefix-5 agreement zone and BEFORE the
    blocking suffix, plus a 37-cent balance drift).
    Blocking = (nation, name-4-SUFFIX) equi-join — the suffix varies where
    these names' shared "Customer#" prefix does not (prefix blocking made
    every per-nation population ONE block: 450M candidates / 255 s at sf1;
    suffix blocks are O(replica-group)-sized and the mutation is capped
    below the suffix so planted recall stays 100%) — quadratic only inside
    a block; scoring = Σ fixed per-field agreement log-weights (×1000
    integers), classified match / possible by thresholds. Only scored
    candidates ≥ possible emit (the review queue + auto-link set).

    Scale shape: the blocked self-join is the fuzzy-dedup shape on entity
    keys; every weight is an integer literal, so the score is exact."""
    cust = load(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        F.col("c_mktsegment").alias("seg"),
    )
    dirty = (
        base.filter(F.col("id") % DIRTY_MOD == 0)
        .withColumn(
            "p",
            (F.col("id") % F.greatest(F.length("name") - 10, F.lit(1)) + 6).cast(
                "int"
            ),
        )
        .select(
            (F.col("id") + DIRTY_OFFSET).alias("id"),
            F.concat(
                F.expr("substr(name, 1, p - 1)"),
                F.lit("x"),
                F.expr("substr(name, p + 1)"),
            ).alias("name"),
            "nat",
            (F.col("bal_cents") + 37).alias("bal_cents"),
            "seg",
        )
    )
    uni = base.unionByName(dirty)
    a = uni.select(
        F.col("id").alias("id_a"),
        F.col("name").alias("na"),
        F.col("nat").alias("nat"),
        F.col("bal_cents").alias("ba"),
        F.col("seg").alias("sa"),
        F.expr("substr(name, length(name) - 3, 4)").alias("blk"),
    )
    b = uni.select(
        F.col("id").alias("id_b"),
        F.col("name").alias("nb"),
        F.col("nat").alias("nat"),
        F.col("bal_cents").alias("bb"),
        F.col("seg").alias("sb"),
        F.expr("substr(name, length(name) - 3, 4)").alias("blk"),
    )
    score = (
        F.when(F.col("na") == F.col("nb"), W_NAME_EXACT).otherwise(W_NAME_EXACT_DIS)
        + F.when(
            F.substring("na", 1, 5) == F.substring("nb", 1, 5), W_PREFIX5
        ).otherwise(W_PREFIX5_DIS)
        + F.when(F.abs(F.col("ba") - F.col("bb")) <= 100, W_BAL).otherwise(W_BAL_DIS)
        + F.when(F.col("sa") == F.col("sb"), W_SEG).otherwise(W_SEG_DIS)
    )
    pairs = (
        a.join(b, ["nat", "blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score.cast("long").alias("score"))
        .filter(F.col("score") >= FS_POSSIBLE)
    )
    return pairs.select(
        "id_a",
        "id_b",
        "score",
        F.when(F.col("score") >= FS_MATCH, "match")
        .otherwise("possible")
        .alias("cls"),
    )


# --------------------------------------------------------------------------
# 2. calibration bins + Brier score
# --------------------------------------------------------------------------


@query(
    "eval_calibration_bins",
    oracle=f"""
WITH scored AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         round((2.0 * (CAST(('0x' || substring(md5('cal#' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                / {HASH_SPACE!r})
                + CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / 3.0, 6) AS p
  FROM events
),
binned AS (
  SELECT least({CAL_BINS - 1}, CAST(floor(p * {CAL_BINS}) AS BIGINT)) AS bin, y, p,
         CAST(round(p * 1000000) AS BIGINT) AS p6,
         CAST(round((p - y) * (p - y) * 1000000) AS BIGINT) AS sq6
  FROM scored
)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       round(CAST(sum(p6) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean_pred,
       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos,
       round(CAST((SELECT sum(sq6) FROM binned) AS DOUBLE)
             / (SELECT count(*) FROM binned) / 1000000.0, 6) AS brier
FROM binned GROUP BY bin
""",
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier score for a deterministic pseudo-
    probability p = (2·u + y)/3 (hash-uniform u ⇒ negatives live in
    [0, ⅔), positives in [⅓, 1) — a mixed middle band, like a real
    imperfect model). Per bin: mean prediction vs observed positive rate;
    the global Brier score rides every row. Predictions and squared
    errors quantize to micro-units so sums are exact BIGINTs.

    Scale shape: narrow hash column → {CAL_BINS}-group agg + one 1-row
    global; nothing row-sized survives the shuffle."""
    ev = load(spark, sf_dir, "events")
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    u = hash60(F.concat(F.lit("cal#"), F.col("event_id").cast("string"))) / F.lit(
        HASH_SPACE
    )
    scored = ev.select(
        y.alias("y"), F.round((2.0 * u + y) / 3.0, 6).alias("p")
    )
    binned = scored.select(
        F.least(
            F.lit(CAL_BINS - 1), F.floor(F.col("p") * CAL_BINS).cast("long")
        ).alias("bin"),
        "y",
        F.round(F.col("p") * 1000000).cast("long").alias("p6"),
        F.round((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")) * 1000000)
        .cast("long")
        .alias("sq6"),
    )
    glob = binned.agg(
        F.sum("sq6").alias("gsq"), F.count(F.lit(1)).alias("gn")
    )
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.round(
            F.sum("p6").cast("double") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("mean_pred"),
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
            "frac_pos"
        ),
    )
    return per.crossJoin(F.broadcast(glob)).select(
        "bin",
        "n",
        "n_pos",
        "mean_pred",
        "frac_pos",
        F.round(F.col("gsq").cast("double") / F.col("gn") / 1000000.0, 6).alias(
            "brier"
        ),
    )


# --------------------------------------------------------------------------
# 3. position-based multi-touch attribution
# --------------------------------------------------------------------------


@query(
    "attribution_position_based",
    oracle=f"""
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts AS conv_ts FROM events
  WHERE event_type = 'purchase'
),
touch AS (
  SELECT event_id AS touch_id, user_id, ts AS touch_ts, event_type
  FROM events WHERE event_type IN ('view', 'click')
),
paths AS (
  SELECT c.conv_id, t.touch_id, t.event_type,
         row_number() OVER (PARTITION BY c.conv_id ORDER BY t.touch_ts, t.touch_id) AS pos,
         count(*) OVER (PARTITION BY c.conv_id) AS n
  FROM conv c JOIN touch t
    ON c.user_id = t.user_id
    AND t.touch_ts < c.conv_ts
    AND t.touch_ts >= c.conv_ts - INTERVAL {TOUCH_WINDOW_DAYS} DAY
),
credit AS (
  SELECT conv_id, event_type,
         CASE WHEN n = 1 THEN {BP}
              WHEN n = 2 THEN {BP} // 2
              WHEN pos = 1 THEN {BP * 4} // 10
              WHEN pos = n THEN {BP * 4} // 10
              ELSE ({BP * 2} // 10) // (n - 2) END AS bp
  FROM paths
)
SELECT event_type,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions_touched,
       CAST(sum(bp) AS BIGINT) AS credit_bp,
       CAST(count(*) AS BIGINT) AS n_touches
FROM credit GROUP BY event_type
""",
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each purchase
    credits its same-user view/click touches from the prior
    {TOUCH_WINDOW_DAYS}-day window — 40% first, 40% last, 20% split over
    the middle (integer basis points, truncating division; 1-touch paths
    get 100%, 2-touch 50/50). Reported per touch channel. The multi-touch
    generalization of the stream attribution join's first-touch model.

    Scale shape: conversions ⋈ touches is a user-keyed equi-join with a
    time-range residual (the interval-join discipline — pair volume is
    conversions × window-bounded touches, linear in its true workload);
    per-conversion windows rank inside each path only."""
    ev = load(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("ts").alias("touch_ts"),
        "event_type",
    )
    paths = (
        conv.join(touch, "user_id")
        .filter(
            (F.col("touch_ts") < F.col("conv_ts"))
            & (
                F.col("touch_ts")
                >= F.col("conv_ts") - F.expr(f"INTERVAL {TOUCH_WINDOW_DAYS} DAY")
            )
        )
        .select(
            "conv_id",
            "touch_id",
            "event_type",
            F.row_number()
            .over(
                Window.partitionBy("conv_id").orderBy("touch_ts", "touch_id")
            )
            .alias("pos"),
            F.count(F.lit(1))
            .over(Window.partitionBy("conv_id"))
            .alias("n"),
        )
    )
    bp = (
        F.when(F.col("n") == 1, F.lit(BP))
        .when(F.col("n") == 2, F.lit(BP // 2))
        .when(F.col("pos") == 1, F.lit(BP * 4 // 10))
        .when(F.col("pos") == F.col("n"), F.lit(BP * 4 // 10))
        .otherwise(F.expr(f"{BP * 2 // 10} div (n - 2)"))
    )
    credit = paths.select("conv_id", "event_type", bp.alias("bp"))
    return credit.groupBy("event_type").agg(
        F.countDistinct("conv_id").cast("long").alias("n_conversions_touched"),
        F.sum("bp").cast("long").alias("credit_bp"),
        F.count(F.lit(1)).cast("long").alias("n_touches"),
    )
