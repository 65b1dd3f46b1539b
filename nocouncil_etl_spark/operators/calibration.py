"""Shared calibration kernels (plan ml_isotonic_calibration + Engine verb).

Reference has no calibration surface; this exists because model-scored
curation (quality filters, router confidences, dedup thresholds) should cut
on calibrated probabilities — summarize.py's downstream consumers treat
LLM scores as if they were probabilities, which is exactly the gap isotonic
regression closes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ISO_SCALE = 1_000_000_000


def calibration_bins(
    df: DataFrame, prob_col: str, label_col: str, n_bins: int
) -> DataFrame:
    """isotonic_fit's input from any (probability ∈ [0, 1], 0/1 label)
    frame: (bin, n, pos) over ``n_bins`` equal-width bins, p = 1 landing
    in the last bin."""
    binned = df.select(
        F.least(F.lit(n_bins - 1), F.floor(F.col(prob_col) * n_bins))
        .cast("long")
        .alias("bin"),
        F.col(label_col).cast("long").alias("y"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )


def isotonic_fit(bins: DataFrame, scale: int = ISO_SCALE) -> DataFrame:
    """Isotonic (monotone non-decreasing) fit of positive rate over ordered
    bins via the minimax identity iso(i) = max_{j≤i} min_{k≥i} pooled-rate
    (j..k) — the closed form of pool-adjacent-violators, evaluated as three
    joins so an intrinsically sequential algorithm runs set-at-a-time and
    stays engine-exact (pooled rates in floor-divided 1/scale units).

    ``bins``: (bin, n, pos) — one row per ordered bin. Returns (bin, n,
    pos, obs_{scale}, iso_{scale}); obs/iso column names carry the scale
    as ``obs_1e9``/``iso_1e9`` for the default.

    Scale shape: everything here joins B-row aggregates — B is a fixed
    design constant (10-50 bins), so the cost is constant regardless of
    how many rows were binned upstream. Monotonicity is structural: max
    over a growing j-set of min over a shrinking k-set."""
    j = bins.select(F.col("bin").alias("j"))
    k = bins.select(F.col("bin").alias("k"))
    x = bins.select(F.col("bin").alias("xb"), "n", "pos")
    seg = (
        j.join(k, F.col("j") <= F.col("k"))
        .join(x, (F.col("xb") >= F.col("j")) & (F.col("xb") <= F.col("k")))
        .groupBy("j", "k")
        .agg(F.expr(f"({scale} * sum(pos)) div sum(n)").alias("m"))
    )
    i = bins.select(F.col("bin").alias("i"))
    inn = (
        i.join(seg, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("m").alias("mn"))
    )
    iso = inn.groupBy("i").agg(F.max("mn").cast("long").alias("iso_1e9"))
    return bins.join(iso, bins["bin"] == iso["i"]).select(
        "bin",
        "n",
        "pos",
        F.expr(f"({scale} * pos) div n").cast("long").alias("obs_1e9"),
        "iso_1e9",
    )
