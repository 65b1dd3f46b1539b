"""SemDeDup-style semantic near-duplicate detection (the embedding-space
sibling of the MinHash/SimHash text dedup in operators/dedup.py).

Two Arrow/numpy kernels — nothing quadratic ever leaves a vectorized batch:

1. ``assign_nearest_centroid`` ships the (k × dim) centroid matrix in the
   task closure and scores each Arrow batch of vectors against ALL centroids
   with one matmul; the argmax tie-breaks on (rounded-6dp cosine DESC,
   centroid id ASC) — the same rule a SQL window would apply, so results are
   engine-portable.
2. ``cluster_pair_scan`` is applyInPandas per cluster: a (|cluster| × dim)
   self-matmul emits only pairs at/above the threshold, with Spark's HALF_UP
   decimal rounding (similarity._round6_like_spark) on the emitted sims.

Reference analogue: the newscrawler's identity gate (newscrawler.py:59-61)
is exact-match only; SemDeDup (Abbas et al., 2023) is the standard recipe
for catching paraphrase-level duplicates at pretraining scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nocouncil_etl_spark.operators.kmeans import (
    assign_l2,
    kmeans_fit,
    quantize_vectors,
)
from nocouncil_etl_spark.operators.similarity import _round6_like_spark

# Element budget for one tile of an in-cluster score matrix: pair kernels
# chunk their row side so the sims/denominator intermediates hold at most
# this many float64s (2M ≈ 16 MB each) regardless of cluster cardinality —
# per-task memory is the cluster's vectors (n × dim, linear) plus one
# bounded tile, never the n² matrix. Tests shrink this to force multi-tile
# execution on small clusters.
PAIR_TILE_ELEMS = 1 << 21
# Row cap for EXACT in-cluster pair scanning (round-10 verdict #4): tiling
# bounds memory but work is still O(n²) per cluster. Clusters over this cap
# split into sign-LSH sub-cells (operators/celling.subcell_over_cap) and the
# scan runs per sub-cell — per-cluster work bounded at ~cap², pairs
# straddling a sub-cell boundary missed at the documented SimHash recall
# (the SAME trade SemDeDup's own clustering already makes at the cluster
# boundary, one level down). Under the cap results are exact; every
# test/bench scale is under it. Tests shrink the cap to force celling.
PAIR_BLOCK_CAP = 4096


def assign_nearest_centroid(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cv",
) -> DataFrame:
    """(id, vec) × (cent_id, cent_vec) → (id, cent_id) nearest-centroid
    assignment. The centroid side is collected to the driver (it is the
    small, broadcast-shaped side — k ≪ n by construction, and guarded by
    kmeans.MAX_CENTROIDS so a corpus-sized centroid set fails fast instead
    of OOMing the driver); the corpus side streams through mapInPandas in
    Arrow batches, O(n·k) fused MACs."""
    from nocouncil_etl_spark.operators.kmeans import MAX_CENTROIDS

    cent_rows = (
        centroids.select(cent_id_col, cent_vec_col)
        .limit(MAX_CENTROIDS + 1)
        .collect()
    )
    if len(cent_rows) > MAX_CENTROIDS:
        raise ValueError(
            f"assign_nearest_centroid collects the centroid matrix on the "
            f"driver and got more than {MAX_CENTROIDS} centroids; a centroid "
            "set that scales with the corpus defeats SemDeDup's O(n·k) "
            "design — train a fixed k with operators/kmeans.kmeans_fit."
        )
    cent_ids = np.array([r[cent_id_col] for r in cent_rows])
    cm = np.array([r[cent_vec_col] for r in cent_rows], dtype=np.float64)
    cn = np.linalg.norm(cm, axis=1)

    def assign(batches):
        for pdf in batches:
            vm = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(vm, axis=1, keepdims=True)
            raw = (vm @ cm.T) / (vn * cn[None, :])
            sims = np.round(raw, 6)
            # np.round is half-even on the binary value; the oracle's window
            # (and cluster_pair_scan below) use HALF_UP on the decimal repr.
            # Re-round only near-tie candidates (within two rounding ulps of
            # the row max — anything further can't win under either rule) so
            # the argmax rule matches the SQL one while the kernel stays
            # vectorized: the fix-up set is O(rows), not O(rows·k).
            near = np.nonzero(raw >= raw.max(axis=1, keepdims=True) - 2e-6)
            sims[near] = np.array(
                [_round6_like_spark(x) for x in raw[near]]
            )
            order = np.lexsort(
                (cent_ids[None, :].repeat(len(vm), 0), -sims), axis=1
            )
            best = cent_ids[order[:, 0]]
            yield pd.DataFrame({id_col: pdf[id_col], cent_id_col: best})

    return vectors.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, {cent_id_col} long"
    )


def cluster_pair_scan(
    clustered: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "v",
    cent_id_col: str = "cent_id",
) -> DataFrame:
    """(cent_id, id, vec) → (cluster_id, id_keep, id_dup, sim) pairs with
    cosine ≥ threshold, quadratic only WITHIN a cluster (applyInPandas per
    cent_id group). Pairs are oriented id_keep < id_dup. The row side is
    TILED (PAIR_TILE_ELEMS): work stays quadratic in cluster size but
    per-task memory stays linear — an oversized cluster slows down
    instead of OOMing the executor. Clusters over PAIR_BLOCK_CAP rows are
    additionally split into sign-LSH sub-cells so work per task is
    bounded too (see PAIR_BLOCK_CAP; exact below the cap)."""
    from nocouncil_etl_spark.operators.celling import subcell_over_cap

    def pair_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        vm = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        vn = np.linalg.norm(vm, axis=1)
        n = len(ids)
        tile = max(1, PAIR_TILE_ELEMS // max(n, 1))
        col = np.arange(n)
        out_i: list = []
        out_j: list = []
        out_s: list = []
        for t0 in range(0, n, tile):
            t1 = min(t0 + tile, n)
            sims = (vm[t0:t1] @ vm.T) / np.outer(vn[t0:t1], vn)
            # global upper triangle: column index > this tile's row index
            rr, jj = np.nonzero(col[None, :] > np.arange(t0, t1)[:, None])
            raw = sims[rr, jj]
            # decimal-round only near-threshold candidates (one rounding
            # ulp of margin); everything below can't round up past the
            # threshold
            near = raw >= threshold - 1e-5
            rr, jj, raw = rr[near], jj[near], raw[near]
            s = np.array([_round6_like_spark(x) for x in raw])
            m = s >= threshold
            out_i.extend(rr[m] + t0)
            out_j.extend(jj[m])
            out_s.extend(s[m])
        ii = np.array(out_i, dtype=np.int64)
        jj = np.array(out_j, dtype=np.int64)
        s = np.array(out_s, dtype=np.float64)
        lo = np.minimum(ids[ii], ids[jj]) if len(ii) else np.array([], dtype=np.int64)
        hi = np.maximum(ids[ii], ids[jj]) if len(ii) else np.array([], dtype=np.int64)
        cid = pdf[cent_id_col].to_numpy()[0] if len(pdf) else 0
        return pd.DataFrame(
            {
                "cluster_id": np.full(len(lo), cid, dtype=np.int64),
                "id_keep": lo,
                "id_dup": hi,
                "sim": s,
            }
        )

    celled = subcell_over_cap(clustered, [cent_id_col], vec_col, PAIR_BLOCK_CAP)
    return celled.groupBy(cent_id_col, "_cell").applyInPandas(
        pair_scan, schema="cluster_id long, id_keep long, id_dup long, sim double"
    )


def semantic_near_duplicates(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Full SemDeDup pass: assign every vector to its nearest centroid, then
    scan for near-duplicate pairs inside each cluster only. Recall is
    bounded by the clustering (copies straddling a cluster boundary are
    missed — the documented cost of not doing all-pairs); precision is exact
    at the threshold."""
    cent = centroids.select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
    )
    best = assign_nearest_centroid(vectors, cent, id_col=id_col, vec_col=vec_col)
    clustered = vectors.join(best, id_col).select("cent_id", id_col, vec_col)
    return cluster_pair_scan(
        clustered, threshold, id_col=id_col, vec_col=vec_col
    )


def trained_near_duplicates(
    vectors: DataFrame,
    k: int,
    iters: int,
    threshold: float,
    fit=kmeans_fit,
) -> DataFrame:
    """SemDeDup with TRAINED centroids over (vec_id, v): quantize, fit a
    fixed-k integer k-means (``fit(quantized, k, iters)`` → (cent_ids,
    matrix); kmeans_fit by default, or a manifest-served matrix), assign
    each vector its cell carrying v along (assign_l2), then
    cluster_pair_scan. The quantized frame is pinned for the fit and
    released before returning."""
    vq = quantize_vectors(vectors, "v", "xq").persist()
    try:
        cent_ids, cm = fit(vq, k, iters)
        clustered = assign_l2(vq, cent_ids, cm, carry="v").select(
            F.col("cid").alias("cent_id"), "vec_id", "v"
        )
        return cluster_pair_scan(clustered, threshold)
    finally:
        vq.unpersist()
