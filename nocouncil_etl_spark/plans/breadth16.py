"""Breadth batch 16: sequential testing and inter-rater agreement.

- ``stat_sprt_sequential`` — Wald's sequential probability ratio test
  on the daily purchase-conversion stream: the log-likelihood ratio for
  H1: p=p1 vs H0: p=p0 accumulates per-event CONSTANT increments
  (ln-ratios quantized to integer millionths at design time), so the
  whole sequential procedure is one running sum over days with
  boundary-crossing flags — "stop the experiment early" monitoring with
  exact arithmetic and no per-day CDFs. Complements the fixed-horizon
  tests (Welch t, permutation, FDR): SPRT is the always-valid,
  look-every-day one.
- ``eval_fleiss_kappa`` — Fleiss' κ over three deterministic synthetic
  raters labeling events into three categories (hash-perturbed copies
  of a base rating — the planted-fixture discipline): per-item
  agreement P̄ and chance agreement P̄e from exact integer vote counts,
  κ as a round-6 double. The multi-rater generalization of
  eval_lang_id_kappa's Cohen κ — the labeling-pipeline QA gate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import query

# SPRT design: H0 conversion p0 vs H1 p1, alpha=beta=5%.
P0, P1 = 0.18, 0.22
LLR_SCALE = 1_000_000
# per-event LLR increments in integer millionths — DESIGN constants, baked
# identically into both engines (math.log at module import, not at runtime)
A_CONV = round(math.log(P1 / P0) * LLR_SCALE)  # conversion increment (>0)
A_NONC = round(math.log((1 - P1) / (1 - P0)) * LLR_SCALE)  # non-conv (<0)
# Wald boundaries ln((1-β)/α), ln(β/(1-α)) at α=β=0.05
B_UP = round(math.log(0.95 / 0.05) * LLR_SCALE)
B_LO = round(math.log(0.05 / 0.95) * LLR_SCALE)

N_RATERS = 3
N_CATS = 3


# --------------------------------------------------------------------------
# 1. SPRT
# --------------------------------------------------------------------------


@query(
    "stat_sprt_sequential",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS conv,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS BIGINT)
           AS nonc
  FROM events GROUP BY 1
),
llr AS (
  SELECT day, conv, nonc,
         CAST(sum(conv * {A_CONV} + nonc * {A_NONC})
              OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS llr_1e6
  FROM daily
),
flagged AS (
  SELECT day, conv, nonc, llr_1e6,
         CASE WHEN llr_1e6 >= {B_UP} THEN 'accept_h1'
              WHEN llr_1e6 <= {B_LO} THEN 'accept_h0'
              ELSE 'continue' END AS decision
  FROM llr
)
SELECT CAST(day AS VARCHAR) AS day, conv, nonc, llr_1e6, decision,
       CAST(CASE WHEN day = (SELECT min(day) FROM flagged
                             WHERE decision <> 'continue')
                 THEN 1 ELSE 0 END AS INT) AS is_stop_day
FROM flagged
""",
)
def stat_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT monitoring of the purchase-conversion rate, H0 p={P0} vs
    H1 p={P1} at α=β=5%: each day adds conv·ln(p1/p0) +
    nonconv·ln((1−p1)/(1−p0)) to the running log-likelihood ratio — both
    ln-ratios are DESIGN-time constants quantized to integer millionths,
    so the whole always-valid sequential test is one exact running sum
    with Wald-boundary decisions per day and the first stopping day
    flagged.

    Scale shape: the event stream collapses to one row per day
    (map-side-combined), then a calendar-length running-sum window —
    the CUSUM shape with a decision rule."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("conv"),
        F.sum(F.when(F.col("event_type") == "purchase", 0).otherwise(1))
        .cast("long")
        .alias("nonc"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    llr = daily.select(
        "day",
        "conv",
        "nonc",
        F.sum(F.col("conv") * A_CONV + F.col("nonc") * A_NONC)
        .over(w)
        .cast("long")
        .alias("llr_1e6"),
    )
    flagged = llr.withColumn(
        "decision",
        F.when(F.col("llr_1e6") >= B_UP, "accept_h1")
        .when(F.col("llr_1e6") <= B_LO, "accept_h0")
        .otherwise("continue"),
    )
    stop = flagged.filter(F.col("decision") != "continue").agg(
        F.min("day").alias("stop_day")
    )
    return flagged.crossJoin(F.broadcast(stop)).select(
        F.col("day").cast("string").alias("day"),
        "conv",
        "nonc",
        "llr_1e6",
        "decision",
        F.when(F.col("day") == F.col("stop_day"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_stop_day"),
    )


# --------------------------------------------------------------------------
# 2. Fleiss' kappa
# --------------------------------------------------------------------------

_BASE_CAT = (
    "CASE WHEN event_type IN ('purchase', 'signup') THEN 0 "
    "WHEN event_type = 'error' THEN 1 ELSE 2 END"
)


def _rater_sql(r: int) -> str:
    """Rater r's category: the base category, flipped to a hash category on
    ~15% of items (per-rater noise) — three correlated-but-imperfect
    raters."""
    h = (
        f"('0x' || substring(md5('rate{r}#' || CAST(event_id AS VARCHAR)), 1, 15))"
        "::BIGINT"
    )
    return (
        f"CASE WHEN {h} % 100 < 15 THEN CAST({h} % {N_CATS} AS BIGINT) "
        f"ELSE CAST({_BASE_CAT} AS BIGINT) END"
    )


@query(
    "eval_fleiss_kappa",
    oracle=f"""
WITH votes AS (
  SELECT event_id, {_rater_sql(1)} AS r1, {_rater_sql(2)} AS r2,
         {_rater_sql(3)} AS r3
  FROM events
),
longf AS (
  SELECT event_id, r1 AS cat FROM votes
  UNION ALL SELECT event_id, r2 FROM votes
  UNION ALL SELECT event_id, r3 FROM votes
),
per_item AS (
  SELECT event_id, CAST(sum(c * (c - 1)) AS BIGINT) AS agree_pairs
  FROM (SELECT event_id, cat, count(*) AS c FROM longf GROUP BY event_id, cat)
  GROUP BY event_id
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(agree_pairs) AS BIGINT) AS sum_pairs
  FROM per_item
),
cats AS (
  SELECT cat, CAST(count(*) AS BIGINT) AS votes FROM longf GROUP BY cat
),
pe AS (
  SELECT sum((CAST(votes AS DOUBLE) / ((SELECT n_items FROM tot) * {N_RATERS}.0))
             * (CAST(votes AS DOUBLE) / ((SELECT n_items FROM tot) * {N_RATERS}.0)))
           AS p_e
  FROM cats
)
SELECT t.n_items,
       round(CAST(t.sum_pairs AS DOUBLE)
             / (t.n_items * {N_RATERS * (N_RATERS - 1)}.0), 6) AS p_bar,
       round((SELECT p_e FROM pe), 6) AS p_e,
       round((CAST(t.sum_pairs AS DOUBLE)
              / (t.n_items * {N_RATERS * (N_RATERS - 1)}.0)
              - (SELECT p_e FROM pe)) / (1.0 - (SELECT p_e FROM pe)), 6) AS kappa
FROM tot t
""",
)
def eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' κ across {N_RATERS} deterministic synthetic raters (base
    category from the event type, hash-flipped on ~15% of each rater's
    items): observed agreement P̄ = Σ_items Σ_cats c(c−1) / (n·m·(m−1))
    and chance agreement P̄e = Σ_cats share², both from exact integer
    vote counts, κ = (P̄−P̄e)/(1−P̄e) rounded 6dp with the identical double
    expression on both engines. The multi-rater labeling-QA gate.

    Scale shape: votes explode to one row per (item, rater) — a 3×
    linear pass; per-item and per-category counts are map-side-combined
    aggs; everything after is constant-size arithmetic."""
    ev = load(spark, sf_dir, "events")

    def rater(r: int) -> F.Column:
        h = hash60(F.concat(
            F.lit(f"rate{r}#"), F.col("event_id").cast("string")
        ))
        base = (
            F.when(F.col("event_type").isin("purchase", "signup"), 0)
            .when(F.col("event_type") == "error", 1)
            .otherwise(2)
        )
        return F.when(h % 100 < 15, (h % N_CATS).cast("long")).otherwise(
            base.cast("long")
        )

    votes = ev.select(
        "event_id", rater(1).alias("r1"), rater(2).alias("r2"), rater(3).alias("r3")
    )
    longf = (
        votes.select("event_id", F.col("r1").alias("cat"))
        .unionByName(votes.select("event_id", F.col("r2").alias("cat")))
        .unionByName(votes.select("event_id", F.col("r3").alias("cat")))
    )
    per_item = (
        longf.groupBy("event_id", "cat")
        .agg(F.count("*").alias("c"))
        .groupBy("event_id")
        .agg(F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("agree_pairs"))
    )
    tot = per_item.agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("agree_pairs").cast("long").alias("sum_pairs"),
    )
    cats = longf.groupBy("cat").agg(F.count("*").cast("long").alias("votes"))
    pe = (
        cats.crossJoin(F.broadcast(tot.select("n_items")))
        .agg(
            F.sum(
                (F.col("votes").cast("double") / (F.col("n_items") * float(N_RATERS)))
                * (
                    F.col("votes").cast("double")
                    / (F.col("n_items") * float(N_RATERS))
                )
            ).alias("p_e")
        )
    )
    denom = float(N_RATERS * (N_RATERS - 1))
    p_bar = F.col("sum_pairs").cast("double") / (F.col("n_items") * denom)
    return tot.crossJoin(F.broadcast(pe)).select(
        "n_items",
        F.round(p_bar, 6).alias("p_bar"),
        F.round(F.col("p_e"), 6).alias("p_e"),
        F.round((p_bar - F.col("p_e")) / (1.0 - F.col("p_e")), 6).alias("kappa"),
    )
