"""Learning-curve evaluation: does more training data help?

``ml_learning_curve_centroid`` trains a nearest-class-centroid classifier
on nested md5-sampled fractions of the labeled embeddings (5% ⊂ 25% ⊂
100% — the same hash, rising threshold, so each stage strictly extends the
last) and scores ALL points at every stage. The accuracy-vs-data curve is
the first question any data-curation investment must answer ("would more
curated data move the metric?") — here answered entirely inside the
engine with the integer-grid arithmetic of operators/kmeans (quantized
centroids = per-dim ``sum div count``; integer squared-L2 argmin with
label-ASC ties), so the whole curve is one exact value-hash check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.operators.kmeans import quantize_vectors
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.plans.clustering import quantize_sql
from nocouncil_etl_spark.registry import query

FRACS = (5, 25, 100)
DIMS = 64

_H = "('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 100"


def _curve_oracle() -> str:
    dist = (
        f"CAST(list_sum(list_transform(range(1, {DIMS + 1}), "
        f"i -> (p.xq[i] - c.cv[i]) * (p.xq[i] - c.cv[i]))) AS BIGINT)"
    )
    stages = []
    for f in FRACS:
        stages.append(f""",
train{f} AS (
  SELECT label, xq FROM base WHERE {_H} < {f}
),
cent{f} AS (
  SELECT label, list(m ORDER BY pos) AS cv FROM (
    SELECT label, pos, CAST(sum(x) // count(*) AS BIGINT) AS m
    FROM (SELECT label, unnest(xq) AS x,
                 generate_subscripts(xq, 1) AS pos FROM train{f})
    GROUP BY label, pos
  ) GROUP BY label
),
asg{f} AS (
  SELECT vec_id, actual, predicted FROM (
    SELECT p.vec_id, p.label AS actual, c.label AS predicted,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY {dist}, c.label) AS rn
    FROM base p CROSS JOIN cent{f} c
  ) WHERE rn = 1
),
acc{f} AS (
  SELECT CAST({f} AS BIGINT) AS frac_pct,
         (SELECT CAST(count(*) AS BIGINT) FROM train{f}) AS n_train,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN predicted = actual THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM asg{f}
)""")
    union = " UNION ALL ".join(f"SELECT * FROM acc{f}" for f in FRACS)
    return f"""
WITH base AS (
  SELECT vec_id, label, {quantize_sql("embedding::DOUBLE[]")} AS xq
  FROM embeddings
){"".join(stages)}
SELECT frac_pct, n_train, n_total, n_correct,
       round(n_correct / CAST(n_total AS DOUBLE), 6) AS accuracy
FROM ({union})
"""


@query("ml_learning_curve_centroid", oracle=_curve_oracle())
def ml_learning_curve_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-centroid learning curve over the labeled embeddings:
    for nested md5-sampled training fractions {FRACS}%, compute integer
    per-label centroids (per-dim ``sum div count`` on the quantized grid),
    classify EVERY point by integer squared-L2 argmin (ties → label ASC),
    and emit (fraction, n_train, n_total, n_correct, accuracy). Nested
    sampling means each stage's training set strictly contains the last —
    the curve isolates the effect of MORE data, not different data.

    Scale shape: per stage, one filtered posexplode combine-agg into
    |labels|·dims groups (centroids) + one narrow scoring pass against
    the broadcast |labels|×dims matrix — the same closure discipline as
    operators/kmeans.assign_l2; stages share the one persisted quantized
    corpus. Linear in n per stage at any scale."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    eq = quantize_vectors(e, "v", "xq").select("vec_id", "label", "xq")
    eq.persist()
    h = (
        hash60(F.col("vec_id").cast("string"))
        % 100
    )
    out = None
    for frac in FRACS:
        train = eq.filter(h < frac)
        sums = (
            train.select("label", F.posexplode("xq").alias("pos", "x"))
            .groupBy("label", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .select("label", "pos", F.expr("s div n").alias("m"))
            .collect()
        )
        n_train = train.count()
        labels = sorted({r["label"] for r in sums})
        cm = np.zeros((len(labels), DIMS), dtype=np.int64)
        lidx = {lb: i for i, lb in enumerate(labels)}
        for r in sums:
            cm[lidx[r["label"]], r["pos"]] = r["m"]
        cent = spark.createDataFrame(
            [(int(lb), [int(x) for x in cm[lidx[lb]]]) for lb in labels],
            "clabel int, cv array<long>",
        )
        asg = (
            eq.crossJoin(F.broadcast(cent))
            .select(
                "vec_id",
                "label",
                "clabel",
                F.expr(
                    "aggregate(zip_with(xq, cv, (a, b) -> (a - b) * (a - b)), "
                    "0L, (acc, x) -> acc + x)"
                ).alias("d"),
            )
            .groupBy("vec_id", "label")
            .agg(
                F.min_by("clabel", F.struct("d", "clabel")).alias("predicted")
            )
        )
        stage = asg.agg(
            F.lit(frac).cast("long").alias("frac_pct"),
            F.lit(n_train).cast("long").alias("n_train"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(
                F.when(F.col("predicted") == F.col("label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        out = stage if out is None else out.unionByName(stage)
    return out.select(
        "frac_pct",
        "n_train",
        "n_total",
        "n_correct",
        F.round(F.col("n_correct") / F.col("n_total").cast("double"), 6).alias(
            "accuracy"
        ),
    )
