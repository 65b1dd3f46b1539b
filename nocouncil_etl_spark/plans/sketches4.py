"""Sketch batch 4: theta-sketch set operations.

- ``sketch_theta_intersection`` — pairwise intersection-size estimates
  between per-source 3-gram sets from their KMV (bottom-k) sketches:
  θ = min of the two K-th order statistics, the sub-θ sketch overlap is
  a uniform p=θ sample of the true intersection, so |A∩B| ≈ n_s/θ.
  Emitted beside the EXACT intersection count, so the estimate's error
  is part of the value-hashed result (the sketch_kmv_distinct
  discipline applied to SET OPERATIONS — union/intersection over
  sketches is what makes bottom-k sketches an algebra, not just a
  counter: cross-corpus overlap dashboards at 100 TB never touch the
  raw sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.operators.dedup import make_shingle_udf
from nocouncil_etl_spark.plans.analytics4 import (
    GRAM_N,
    HASH_SPACE,
    KMV_K,
    _HV_SQL,
)
from nocouncil_etl_spark.plans.dedup_plans import _sql_shingles
from nocouncil_etl_spark.registry import query


@query(
    "sketch_theta_intersection",
    oracle=f"""
WITH ws AS (SELECT source, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT source, {_sql_shingles('w', GRAM_N)} AS s FROM ws),
g AS (SELECT DISTINCT source, unnest(s) AS gram FROM sh),
d AS MATERIALIZED (
  SELECT DISTINCT source, {_HV_SQL.format(col='gram')} AS hv FROM g
),
r AS MATERIALIZED (
  SELECT source, hv,
         row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
  FROM d
),
sk AS (SELECT source, hv FROM r WHERE rn <= {KMV_K}),
kth AS (SELECT source, hv AS kv FROM r WHERE rn = {KMV_K}),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         least(a.kv, b.kv) AS theta
  FROM kth a JOIN kth b ON a.source < b.source
),
ns AS (
  SELECT p.src_a, p.src_b,
         CAST(count(*) AS BIGINT) AS n_sub_theta
  FROM pairs p
  JOIN sk sa ON sa.source = p.src_a
  JOIN sk sb ON sb.source = p.src_b AND sb.hv = sa.hv
  WHERE sa.hv < p.theta
  GROUP BY p.src_a, p.src_b
),
exact AS (
  SELECT da.source AS src_a, db.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_exact
  FROM d da JOIN d db ON da.hv = db.hv AND da.source < db.source
  GROUP BY da.source, db.source
)
SELECT p.src_a, p.src_b,
       CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(coalesce(n.n_sub_theta, 0) AS BIGINT) AS n_sub_theta,
       round(coalesce(n.n_sub_theta, 0)
             / (CAST(p.theta AS DOUBLE) / {HASH_SPACE!r}), 4) AS est_inter
FROM pairs p
LEFT JOIN ns n ON n.src_a = p.src_a AND n.src_b = p.src_b
LEFT JOIN exact e ON e.src_a = p.src_a AND e.src_b = p.src_b
""",
)
def sketch_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch intersection per source pair over text 3-grams: keep
    each source's {KMV_K} smallest 60-bit gram hashes (the KMV sketch),
    set θ = min of the pair's K-th order statistics, count sketch hashes
    shared by both sides below θ (a uniform p=θ/2⁶⁰ coordinated sample of
    the true intersection) and scale by 1/p. Exact intersection counts
    ride along, so the sketch's error is value-checked, not asserted.

    Scale shape: sketches are mergeable bottom-k sets (the same combine as
    sketch_kmv_distinct), so per-partition sketching + one tiny per-source
    combine replaces any corpus-sized pairwise scan; the pairwise stage
    then runs entirely on K-row sketches — n_sources² pairs of ≤{KMV_K}
    hashes, constant in corpus size. The exact-count join on the distinct
    hash set is the audit path (one hash-keyed shuffle), not the serving
    path — at 100 TB you'd publish only the sketches."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    # r11 opt (guide §2.3): hash BEFORE deduplicating — the old shape ran
    # distinct on (source, gram STRING) and then a second distinct on
    # (source, hv), shuffling every gram's bytes once for no reason
    # (distinct-then-hash ≡ hash-then-distinct on the hashed pairs).
    # Per-doc array_distinct also collapses in-row repeats before the
    # explode ever emits them. One narrow-key distinct total.
    g = docs.select(
        "source",
        F.explode(F.array_distinct(make_shingle_udf(GRAM_N)("text"))).alias(
            "gram"
        ),
    )
    d = g.select("source", hash60(F.col("gram")).alias("hv")).distinct()
    d = d.persist()
    w = Window.partitionBy("source").orderBy("hv")
    # bottom-K once; the K-th order statistic is the sketch's max, present
    # exactly when the source filled the sketch — so kth derives from sk
    # instead of running the rank window a second time
    # r12 (r11 verdict item 8): one-shot pin → recoverable persist. The
    # sketch is consumed by kth + both pair sides; persist keeps the
    # lineage so a lost block recomputes instead of killing the job at
    # 100 TB (localCheckpoint is executor-local, non-replicated — kept
    # only for ITERATIVE state where lineage growth is the enemy).
    # Materialized once up front so the three consumers can't race the
    # cache fill; caller-owned (cleared per query by the harness).
    sk = (
        d.select("source", "hv", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= KMV_K)
        .select("source", "hv")
        .persist()
    )
    sk.count()
    kth = (
        sk.groupBy("source")
        .agg(F.max("hv").alias("kv"), F.count("*").alias("_c"))
        .filter(F.col("_c") == KMV_K)
        .select("source", "kv")
    )
    pairs = (
        kth.alias("a")
        .join(kth.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            F.least(F.col("a.kv"), F.col("b.kv")).alias("theta"),
        )
    )
    ska = sk.select(F.col("source").alias("src_a"), "hv")
    skb = sk.select(F.col("source").alias("src_b"), F.col("hv").alias("hvb"))
    ns = (
        pairs.join(ska, "src_a")
        .join(skb, (skb["src_b"] == pairs["src_b"]) & (F.col("hvb") == F.col("hv")))
        .filter(F.col("hv") < F.col("theta"))
        .groupBy(pairs["src_a"], pairs["src_b"])
        .agg(F.count("*").cast("long").alias("n_sub_theta"))
    )
    da = d.select(F.col("source").alias("src_a"), "hv")
    db = d.select(F.col("source").alias("src_b"), F.col("hv").alias("hvb"))
    exact = (
        da.join(db, (F.col("hv") == F.col("hvb")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_exact"))
    )
    out = (
        pairs.join(ns, ["src_a", "src_b"], "left")
        .join(exact, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce(F.col("n_exact"), F.lit(0)).cast("long").alias("n_exact"),
            F.coalesce(F.col("n_sub_theta"), F.lit(0))
            .cast("long")
            .alias("n_sub_theta"),
            F.round(
                F.coalesce(F.col("n_sub_theta"), F.lit(0))
                / (F.col("theta").cast("double") / F.lit(HASH_SPACE)),
                4,
            ).alias("est_inter"),
        )
    )
    return out
