"""Feature-store batch: bitemporal point-in-time correctness — the join
that decides whether a trained model saw the world as it actually was.

A feature value has TWO times: when it became true (valid_from) and when
the pipeline learned it (load_day — late by up to 60 days here). Training
data built "as of" a date must only read features that were both valid at
the observation's event time AND loaded before the as-of date; joining on
valid time alone silently trains on information the serving system did
not have (train-serve skew / leakage).

- ``join_feature_store_pit`` — the two-axis as-of join itself.
- ``dq_feature_leakage_audit`` — counts, per feature version, how many
  observations the naive (valid-time-only) join would have served a
  LEAKED value — the audit that justifies the bitemporal machinery.

The versioned feature table is synthesized deterministically from the
customer table (md5-derived deltas and load lateness), so both engines
build the identical fixture — the established planted-fixture discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.operators.pit import point_in_time_join
from nocouncil_etl_spark.registry import query

N_VERSIONS = 4
BASE_DAY = 9131           # 1995-01-01
VERSION_GAP = 365
AS_OF_DAY = 10256         # 1998-01-31 — inside v3's load-lag window
MAX_LOAD_LAG = 60
OBS_MOD = 37              # o_orderkey % 37 == 0 → bounded observation set

_H = "('0x' || substring(md5({s}), 1, 15))::BIGINT"

_FEATURES_SQL = f"""
versions AS (SELECT unnest(range(0, {N_VERSIONS})) AS v),
features AS (
  SELECT c.c_custkey AS custkey, v.v AS version,
         {BASE_DAY} + v.v * {VERSION_GAP} AS valid_from,
         {BASE_DAY} + v.v * {VERSION_GAP}
           + {_H.format(s="CAST(c.c_custkey AS VARCHAR) || '|' || CAST(v.v AS VARCHAR) || '|load'")}
             % {MAX_LOAD_LAG} AS load_day,
         CAST(round(c.c_acctbal * 100) AS BIGINT) + v.v * 1000
           + {_H.format(s="CAST(c.c_custkey AS VARCHAR) || '|' || CAST(v.v AS VARCHAR)")}
             % 500 AS feature_cents
  FROM customer c CROSS JOIN versions v
),
obs AS (
  SELECT o_orderkey, o_custkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS event_day
  FROM orders WHERE o_orderkey % {OBS_MOD} = 0
        AND CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) <= {AS_OF_DAY}
)
"""


def _features_spark(spark: SparkSession, sf_dir: str):
    c = load(spark, sf_dir, "customer")
    versions = spark.range(0, N_VERSIONS).select(F.col("id").alias("v"))
    h = lambda s: hash60(F.expr(s))
    feats = c.crossJoin(F.broadcast(versions)).select(
        F.col("c_custkey").alias("custkey"),
        F.col("v").alias("version"),
        (F.lit(BASE_DAY) + F.col("v") * VERSION_GAP).alias("valid_from"),
        (
            F.lit(BASE_DAY)
            + F.col("v") * VERSION_GAP
            + h("CAST(c_custkey AS STRING) || '|' || CAST(v AS STRING) || '|load'")
            % MAX_LOAD_LAG
        ).alias("load_day"),
        (
            F.round(F.col("c_acctbal") * 100).cast("long")
            + F.col("v") * 1000
            + h("CAST(c_custkey AS STRING) || '|' || CAST(v AS STRING)") % 500
        ).alias("feature_cents"),
    )
    o = load(spark, sf_dir, "orders")
    obs = o.filter(F.col("o_orderkey") % OBS_MOD == 0).select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("event_day"),
    ).filter(F.col("event_day") <= AS_OF_DAY)
    return feats, obs


@query(
    "join_feature_store_pit",
    oracle=f"""
WITH {_FEATURES_SQL},
pit AS (
  SELECT o.o_orderkey, o.o_custkey, o.event_day,
         f.version, f.feature_cents,
         row_number() OVER (PARTITION BY o.o_orderkey
                            ORDER BY f.valid_from DESC) AS rn
  FROM obs o
  JOIN features f ON f.custkey = o.o_custkey
   AND f.valid_from <= o.event_day
   AND f.load_day <= {AS_OF_DAY}
)
SELECT o.o_orderkey, o.o_custkey, o.event_day,
       p.version, p.feature_cents
FROM obs o
LEFT JOIN (SELECT * FROM pit WHERE rn = 1) p ON p.o_orderkey = o.o_orderkey
""",
)
def join_feature_store_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store point-in-time join: for each observation (order),
    the newest feature version that was VALID at the order's event day AND
    LOADED by the as-of cutoff ({AS_OF_DAY}) — both axes enforced, the
    NULL rows (no version qualifies) kept, because silently dropping them
    is itself a training-data bug. Versions have distinct valid_from per
    customer, so the top-1 window pick is total.

    Scale shape: the feature side prunes on load_day ≤ as-of BEFORE the
    join (predicate pushdown into the snapshot scan); the join is keyed on
    the entity and the per-observation candidate set is ≤ versions; the
    window partitions by observation. At 100 TB this is one keyed shuffle
    — the same discipline as join_asof_tolerance, with the second time
    axis as a pushed filter."""
    feats, obs = _features_spark(spark, sf_dir)
    return point_in_time_join(
        obs,
        feats,
        obs_key="o_orderkey",
        entity_col="o_custkey",
        event_time_col="event_day",
        feat_entity_col="custkey",
        valid_col="valid_from",
        load_col="load_day",
        as_of=AS_OF_DAY,
        value_cols=["version", "feature_cents"],
    ).select(
        "o_orderkey", "o_custkey", "event_day", "version", "feature_cents"
    )


@query(
    "dq_feature_leakage_audit",
    oracle=f"""
WITH {_FEATURES_SQL},
pit AS (
  SELECT o.o_orderkey, f.version,
         row_number() OVER (PARTITION BY o.o_orderkey
                            ORDER BY f.valid_from DESC) AS rn
  FROM obs o
  JOIN features f ON f.custkey = o.o_custkey
   AND f.valid_from <= o.event_day
   AND f.load_day <= {AS_OF_DAY}
),
naive AS (
  SELECT o.o_orderkey, f.version,
         row_number() OVER (PARTITION BY o.o_orderkey
                            ORDER BY f.valid_from DESC) AS rn
  FROM obs o
  JOIN features f ON f.custkey = o.o_custkey
   AND f.valid_from <= o.event_day
),
cmp AS (
  SELECT n.o_orderkey, n.version AS naive_version, p.version AS pit_version
  FROM (SELECT * FROM naive WHERE rn = 1) n
  LEFT JOIN (SELECT * FROM pit WHERE rn = 1) p ON p.o_orderkey = n.o_orderkey
)
SELECT naive_version,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(CASE WHEN pit_version IS NULL
                      OR pit_version <> naive_version THEN 1 ELSE 0 END)
            AS BIGINT) AS n_leaked,
       round(sum(CASE WHEN pit_version IS NULL
                       OR pit_version <> naive_version THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS leak_rate
FROM cmp GROUP BY naive_version
""",
)
def dq_feature_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-serve-skew audit: per feature version the NAIVE (valid-time
    only) join would serve, how many observations actually get a DIFFERENT
    (or no) value under the bitemporal rule — every such row is a training
    example built on information the serving system had not loaded yet.
    Late-arriving versions (load lag up to {MAX_LOAD_LAG} days, as-of near
    a version boundary) make the leak rate non-trivial by construction.

    Scale shape: two keyed as-of joins over the same pruned candidate
    sets + one small agg — the audit costs what the PIT join costs."""
    feats, obs = _features_spark(spark, sf_dir)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("valid_from"))

    def top1(j: DataFrame, name: str) -> DataFrame:
        return (
            j.select(
                "o_orderkey",
                "version",
                F.row_number().over(w).alias("rn"),
            )
            .filter(F.col("rn") == 1)
            .select("o_orderkey", F.col("version").alias(name))
        )

    base = (F.col("custkey") == F.col("o_custkey")) & (
        F.col("valid_from") <= F.col("event_day")
    )
    pit = top1(
        obs.join(feats.filter(F.col("load_day") <= AS_OF_DAY), base),
        "pit_version",
    )
    naive = top1(obs.join(feats, base), "naive_version")
    cmp = naive.join(pit, "o_orderkey", "left")
    leaked = F.when(
        F.col("pit_version").isNull()
        | (F.col("pit_version") != F.col("naive_version")),
        1,
    ).otherwise(0)
    return cmp.groupBy("naive_version").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum(leaked).cast("long").alias("n_leaked"),
        F.round(F.sum(leaked) / F.count(F.lit(1)).cast("double"), 6).alias(
            "leak_rate"
        ),
    )
