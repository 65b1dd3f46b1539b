"""Spatial batch: radius self-join via grid-cell bucketing.

``geo_radius_join`` — find all user pairs within a radius, the spatial
join primitive (store clustering, fraud rings, dedup of venue records).
The testdata has no coordinates, so each user gets a deterministic
synthetic position from the established 60-bit hash (documented synthetic
input, like the link graph derives edges from doc ids — the OPERATOR
under test is the join, not the geocoder).

Exactness: positions live on an integer millidegree grid; distance is
integer squared euclidean (planar approximation, documented), so the
radius predicate d² ≤ R² never touches a float — no trig, no 1-ulp
boundary flips.

Scale shape: the classic grid-cell equi-join — each point lands in one
R×R cell and probes its 3×3 neighborhood by exploding 9 (cell, point)
keys on ONE side only (so every nearby pair meets in exactly the
neighbor's home cell — no double fan-out, no all-pairs). Join volume is
Σ per-cell density², bounded by the grid resolution, never n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import query

HASH_SPACE = 1 << 60
LAT_RANGE = 400  # synthetic city extent in millidegrees (dense enough for pairs at every sf)
LON_RANGE = 600
RADIUS_MDEG = 50  # pair radius in millidegrees (~5.5 km N-S)


@query(
    "geo_radius_join",
    oracle=f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
pts AS (
  SELECT user_id,
         CAST(('0x' || substring(md5('lat#' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % {LAT_RANGE} AS y,
         CAST(('0x' || substring(md5('lon#' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % {LON_RANGE} AS x
  FROM users
),
home AS (
  SELECT user_id, x, y, (x // {RADIUS_MDEG}) AS cx, (y // {RADIUS_MDEG}) AS cy
  FROM pts
),
probe AS (
  SELECT user_id, x, y,
         (x // {RADIUS_MDEG}) + dx.d AS cx, (y // {RADIUS_MDEG}) + dy.d AS cy
  FROM pts,
       (SELECT unnest([-1, 0, 1]) AS d) dx,
       (SELECT unnest([-1, 0, 1]) AS d) dy
),
pairs AS (
  SELECT DISTINCT p.user_id AS id_a, h.user_id AS id_b,
         (p.x - h.x) * (p.x - h.x) + (p.y - h.y) * (p.y - h.y) AS d2
  FROM probe p JOIN home h ON p.cx = h.cx AND p.cy = h.cy
    AND p.user_id < h.user_id
  WHERE (p.x - h.x) * (p.x - h.x) + (p.y - h.y) * (p.y - h.y)
        <= {RADIUS_MDEG * RADIUS_MDEG}
)
SELECT id_a, id_b, CAST(d2 AS BIGINT) AS d2 FROM pairs
""",
)
def geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All user pairs within {RADIUS_MDEG} millidegrees (integer squared
    euclidean on the synthetic grid — see module docstring). One side
    explodes its 3×3 cell neighborhood, the other keeps only its home
    cell, so each qualifying pair matches in exactly one (or a few,
    de-duplicated) cells and the join is a bucketed equi-join on
    (cx, cy) — the spatial analogue of LSH banding, AQE-splittable when a
    downtown cell gets hot.

    Scale shape: distinct users → narrow hash geocode → ×9 explode on the
    probe side only → equi-join → integer filter. Never all-pairs."""
    ev = load(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    pts = users.select(
        "user_id",
        (
            hash60(F.concat(F.lit("lat#"), F.col("user_id").cast("string")))
            % LAT_RANGE
        ).alias("y"),
        (
            hash60(F.concat(F.lit("lon#"), F.col("user_id").cast("string")))
            % LON_RANGE
        ).alias("x"),
    )
    return radius_pairs(pts, "user_id", "x", "y", RADIUS_MDEG)


def radius_pairs(
    pts: DataFrame, id_col: str, x_col: str, y_col: str, radius: int
) -> DataFrame:
    """The grid-cell radius join over a points frame → every (id_a, id_b,
    d2) with id_a < id_b and integer squared distance d2 ≤ radius²; the
    probe side explodes its 3×3 cell neighborhood, the home side keeps
    its own cell (module docstring)."""
    p = pts.select(
        F.col(id_col).alias("_id"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    cell = lambda c: F.expr(f"{c} div {radius}")  # noqa: E731
    home = p.select(
        F.col("_id").alias("id_b"),
        F.col("_x").alias("xb"),
        F.col("_y").alias("yb"),
        cell("_x").alias("cx"),
        cell("_y").alias("cy"),
    )
    offs = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    probe = (
        p.withColumn("dx", F.explode(offs))
        .withColumn("dy", F.explode(offs))
        .select(
            F.col("_id").alias("id_a"),
            F.col("_x").alias("xa"),
            F.col("_y").alias("ya"),
            (cell("_x") + F.col("dx")).alias("cx"),
            (cell("_y") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(home, ["cx", "cy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", d2.alias("d2"))
        .filter(F.col("d2") <= radius * radius)
        .distinct()
        .select("id_a", "id_b", F.col("d2").cast("long").alias("d2"))
    )
