"""Breadth batch 8: PCA projection, optimal allocation, seasonal
decomposition.

- ``vec_pca_project_hist`` — project every embedding onto the trained top
  principal component (vec_pca_power's integer loading vector) and
  histogram the projections: the downstream half of PCA — whitening
  checks, 1-bit semantic hashing, and drift monitoring all consume this
  projection. The dot product is exact integer (quantized embedding ×
  fixed-point loading), so bucketing cannot flicker.
- ``sample_neyman_allocation`` — Neyman-optimal stratified sample sizes
  n_h ∝ N_h·σ_h for a fixed total budget: the design step a survey/eval
  pipeline runs BEFORE sampling (sample_quantile_strata and friends then
  draw). σ_h from exact integer-cent moments.
- ``ts_seasonal_decompose`` — additive decomposition of the daily event
  count series: centered 7-day moving-average trend, weekday-mean
  seasonal on the detrended remainder, residual. The classical STL-lite
  every metrics dashboard runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.plans.pca_plans import (
    D,
    QUANT,
    _pca_oracle,
    vec_pca_power,
)
from nocouncil_etl_spark.registry import query

PROJ_BINS = 10
NEYMAN_BUDGET = 100  # total sample size to allocate across sources


# --------------------------------------------------------------------------
# 1. PCA projection histogram
# --------------------------------------------------------------------------

# the oracle reuses the whole PCA CTE chain, then projects and buckets;
# _pca_oracle() ends with the final SELECT — wrap it as a subquery
_PCA_SUB = _pca_oracle().replace("\n", "\n  ")


@query(
    "vec_pca_project_hist",
    oracle=f"""
WITH pc AS MATERIALIZED (
  SELECT dim, loading FROM ({_PCA_SUB})
),
q2 AS (
  SELECT vec_id, i, CAST(round(CAST(embedding[i] AS DOUBLE) * {QUANT}) AS BIGINT) AS x
  FROM embeddings, range(1, {D + 1}) t(i)
),
proj AS (
  SELECT q2.vec_id, CAST(sum(q2.x * pc.loading) AS BIGINT) AS p
  FROM q2 JOIN pc ON pc.dim = q2.i GROUP BY q2.vec_id
),
bounds AS (SELECT min(p) AS lo, max(p) AS hi FROM proj),
binned AS (
  SELECT CAST(least({PROJ_BINS - 1},
           ((p - (SELECT lo FROM bounds)) * {PROJ_BINS})
             // greatest(1, (SELECT hi FROM bounds) - (SELECT lo FROM bounds) + 1))
         AS BIGINT) AS bin
  FROM proj
)
SELECT bin, CAST(count(*) AS BIGINT) AS n_vectors
FROM binned GROUP BY bin
""",
)
def vec_pca_project_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of the corpus projected onto its own top principal
    component: p(v) = Σ q(v_i)·loading_i — an exact integer dot product
    (quantized grid × {VSCALE}-scale fixed-point loading, {PCA_ITERS}
    trained iterations), binned into {PROJ_BINS} equal-width integer
    buckets over the observed range. A healthy top component shows a
    spread histogram; drift shows as mass migration between runs
    (vec_centroid_drift's PCA-flavored sibling).

    Scale shape: the projection is one broadcast-join (D rows) + combiner
    agg; min/max is a 1-row broadcast; the histogram is a {PROJ_BINS}-group
    agg. The PCA training itself is the documented bounded-driver-state
    pass."""
    pc_rows = vec_pca_power(spark, sf_dir).collect()  # D rows — bounded
    loading = {r.dim: r.loading for r in pc_rows}
    pc = spark.createDataFrame(
        [(d, loading[d]) for d in sorted(loading)], "i INT, loading BIGINT"
    )
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.slice("embedding", 1, D)).alias("pos", "val"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.round(F.col("val").cast("double") * QUANT).cast("long").alias("x"),
    )
    proj = (
        x.join(F.broadcast(pc), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("loading")).cast("long").alias("p"))
    )
    bounds = proj.agg(F.min("p").alias("lo"), F.max("p").alias("hi"))
    binned = proj.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(PROJ_BINS - 1),
            F.expr(
                f"((p - lo) * {PROJ_BINS}) div greatest(1, hi - lo + 1)"
            ),
        )
        .cast("long")
        .alias("bin")
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )


# --------------------------------------------------------------------------
# 2. Neyman allocation
# --------------------------------------------------------------------------


@query(
    "sample_neyman_allocation",
    oracle=f"""
WITH cents AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(v) AS BIGINT) AS s1, CAST(sum(v * v) AS BIGINT) AS s2
  FROM cents GROUP BY source
),
m AS (
  SELECT source, n_h,
         sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_h) / (n_h - 1))
           AS sigma
  FROM s
),
tot AS (SELECT sum(n_h * sigma) AS z FROM m)
SELECT source, n_h,
       round(sigma, 4) AS sigma,
       CAST(round({NEYMAN_BUDGET} * n_h * sigma / (SELECT z FROM tot)) AS BIGINT)
         AS n_alloc,
       round(n_h * sigma / (SELECT z FROM tot), 6) AS weight
FROM m
""",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation of a {NEYMAN_BUDGET}-unit sample budget
    across sources: n_h ∝ N_h·σ_h minimizes the stratified-mean variance
    for a fixed total — the design step before any stratified draw
    (uniform allocation oversamples homogeneous strata). σ from exact
    integer moments (Σv, Σv² BIGINT; the Welch-t second-moment
    discipline); the allocation share and rounded counts are identical
    double expressions on both engines.

    Scale shape: one hash-agg to per-stratum moments, a 1-row total,
    |strata| rows out."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(F.col("n_chars")).cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
    )
    sigma = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n_h")
        )
        / (F.col("n_h") - 1)
    )
    m = s.select("source", "n_h", sigma.alias("sigma"))
    tot = m.agg(F.sum(F.col("n_h") * F.col("sigma")).alias("z"))
    return m.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_h",
        F.round("sigma", 4).alias("sigma"),
        F.round(F.lit(NEYMAN_BUDGET) * F.col("n_h") * F.col("sigma") / F.col("z"))
        .cast("long")
        .alias("n_alloc"),
        F.round(F.col("n_h") * F.col("sigma") / F.col("z"), 6).alias("weight"),
    )


# --------------------------------------------------------------------------
# 3. additive seasonal decomposition
# --------------------------------------------------------------------------

_ISO_DOW_DUCK = (
    "CAST(CASE WHEN dayofweek(day) = 0 THEN 7 ELSE dayofweek(day) END AS INT)"
)
_ISO_DOW_SPARK = (
    "CAST(CASE WHEN dayofweek(day) = 1 THEN 7 ELSE dayofweek(day) - 1 END AS INT)"
)


@query(
    "ts_seasonal_decompose",
    oracle=f"""
WITH cnt AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1
),
trend AS (
  SELECT day, c, {_ISO_DOW_DUCK} AS dow,
         CASE WHEN count(*) OVER w = 7
              THEN CAST(sum(c) OVER w AS BIGINT) END AS t7
  FROM cnt
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
detr AS (
  SELECT day, c, dow, t7, 7 * c - t7 AS d7  -- ×7-scaled detrended value
  FROM trend WHERE t7 IS NOT NULL
),
seas AS (
  SELECT dow, CAST(sum(d7) AS BIGINT) AS sd, CAST(count(*) AS BIGINT) AS nd
  FROM detr GROUP BY dow
)
SELECT d.day::VARCHAR AS day, d.c, d.dow,
       round(d.t7 / 7.0, 4) AS trend,
       round(CAST(s.sd AS DOUBLE) / (7.0 * s.nd), 4) AS seasonal,
       round(d.c - d.t7 / 7.0 - CAST(s.sd AS DOUBLE) / (7.0 * s.nd), 4)
         AS residual
FROM detr d JOIN seas s ON d.dow = s.dow
""",
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive decomposition of the daily event counts: trend = centered
    7-day moving average (only full windows — edges drop), seasonal =
    weekday mean of the detrended series, residual = the rest. The
    detrended series stays integral by carrying it ×7-scaled (7c − Σ7),
    so the weekday means are single divisions of exact BIGINTs; weekday is
    ISO-normalized on both engines. The residual diagnoses what the
    weekday-baseline model (ts_seasonal_weekday_baseline) leaves behind.

    Scale shape: calendar-sized frame after one hash-agg; one 7-row
    window; one 7-group agg."""
    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trend = cnt.select(
        "day",
        "c",
        F.expr(_ISO_DOW_SPARK).alias("dow"),
        F.when(
            F.count(F.lit(1)).over(w) == 7, F.sum("c").over(w).cast("long")
        ).alias("t7"),
    )
    detr = trend.filter(F.col("t7").isNotNull()).withColumn(
        "d7", 7 * F.col("c") - F.col("t7")
    )
    seas = detr.groupBy("dow").agg(
        F.sum("d7").cast("long").alias("sd"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    seasonal = F.col("sd").cast("double") / (7.0 * F.col("nd"))
    return detr.join(F.broadcast(seas), "dow").select(
        F.col("day").cast("string").alias("day"),
        "c",
        "dow",
        F.round(F.col("t7") / 7.0, 4).alias("trend"),
        F.round(seasonal, 4).alias("seasonal"),
        F.round(F.col("c") - F.col("t7") / 7.0 - seasonal, 4).alias("residual"),
    )
