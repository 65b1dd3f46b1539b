"""Fixed-k Lloyd's k-means in integer fixed-point — the trained-clustering
primitive behind SemDeDup centroids and IVF coarse cells.

Why this exists: sampling centroids from the corpus (`vec_id % MOD`) makes
k grow with n, so nearest-centroid assignment is O(n²/MOD) and the driver
ships an ever-growing centroid matrix — the one scale flaw round 4 left
open. Training a FIXED k of centroids makes assignment O(n·k) with k a
constant, the closure a constant size, and cluster quality adaptive to the
data (the reference's index adapts the same way: HNSW builds its graph from
the actual vectors, vectorize.py:119-123, article_vectorize.py:353-356).

Determinism rules — what lets an ITERATIVE clustering have an exact DuckDB
oracle (the unrolled-CTE technique PageRank uses, operators/graph.py):

- vectors are quantized to a NON-NEGATIVE integer grid:
  q(x) = round(x·1e6) + 1e6  (embeddings live in (-1, 1), so q ∈ (0, 2e6));
  the +1e6 offset keeps every value non-negative, where Spark ``div`` and
  DuckDB ``//`` agree (both truncate toward zero ≡ floor), and squared
  distances are translation-invariant so the offset never changes an argmin;
- assignment = argmin of integer squared L2 (all int64 — products ≤ 4e12,
  64-dim sums ≤ 2.6e14, far inside both int64 and exact-double range),
  ties broken on centroid id ASC;
- centroid update = per-dimension floor-division mean (``sum div count``);
  empty clusters carry the previous centroid forward;
- seeds = the k points first in (md5(id), id) order — a deterministic
  pseudo-random draw both engines compute identically.

Scale shape: each iteration is one narrow Arrow assignment pass (the k×dim
centroid matrix rides the task closure — guarded by MAX_CENTROIDS) plus one
map-side-combined agg into k·dim groups; only k·dim rows ever reach the
driver. No corpus-sized collect anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANT = 10**6
OFFSET = 10**6

# Driver-side cap for the centroid matrix shipped in every task closure —
# the k-means twin of similarity.MAX_BLOCKED_QUERIES. 4096 × 64 dims × 8 B
# ≈ 2 MB; a k beyond this belongs in a hierarchical / distributed-centroid
# strategy, not in a closure.
MAX_CENTROIDS = 4096


def quantize_vectors(
    df: DataFrame, vec_col: str = "v", out_col: str = "xq"
) -> DataFrame:
    """Append the non-negative integer-grid quantization of ``vec_col``."""
    return df.withColumn(
        out_col,
        F.transform(
            vec_col, lambda x: F.round(x * QUANT, 0).cast("long") + OFFSET
        ),
    )


def seed_centroids(
    points: DataFrame, k: int, id_col: str = "vec_id", q_col: str = "xq"
) -> tuple[np.ndarray, np.ndarray]:
    """First k points in (md5(id), id) order → (cent_ids 1..k, k×dim int64
    matrix). TakeOrderedAndProject on the cluster; only k rows collect."""
    _guard_k(k)
    rows = (
        points.select(id_col, q_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    cm = np.array([r[q_col] for r in rows], dtype=np.int64)
    return np.arange(1, len(rows) + 1, dtype=np.int64), cm


def _guard_k(k: int) -> None:
    if k > MAX_CENTROIDS:
        raise ValueError(
            f"k-means centroid matrix is driver-collected and shipped in "
            f"every task closure; k={k} exceeds MAX_CENTROIDS="
            f"{MAX_CENTROIDS}. Use a hierarchical clustering (cluster the "
            "centroids of per-partition k-means) instead of one flat k."
        )


def assign_l2(
    points: DataFrame,
    cent_ids: np.ndarray,
    cm: np.ndarray,
    id_col: str = "vec_id",
    q_col: str = "xq",
    with_dist: bool = False,
    carry: str | None = None,
) -> DataFrame:
    """Integer nearest-centroid assignment: one int64 matmul per Arrow batch
    (dist = ‖x‖² − 2x·c + ‖c‖², exact), argmin tie-broken on centroid id
    ASC via lexsort — no floats anywhere, so no rounding-parity hazard.
    ``carry`` names a column of ``points`` (the raw vector, say) passed
    through the batch beside its cell, so callers need no join back."""
    if len(cent_ids) > MAX_CENTROIDS:
        _guard_k(len(cent_ids))
    c2 = np.einsum("ij,ij->i", cm, cm)

    cols = f"{id_col} long, cid long"
    if with_dist:
        cols += ", dist long"
    in_cols = [id_col, q_col]
    if carry is not None:
        cols += f", {carry} {points.schema[carry].dataType.simpleString()}"
        in_cols.append(carry)

    def assign(batches):
        for pdf in batches:
            vm = np.vstack(pdf[q_col].to_numpy()).astype(np.int64)
            x2 = np.einsum("ij,ij->i", vm, vm)
            dist = x2[:, None] - 2 * (vm @ cm.T) + c2[None, :]
            order = np.lexsort(
                (cent_ids[None, :].repeat(len(vm), 0), dist), axis=1
            )
            best = order[:, 0]
            out = {id_col: pdf[id_col], "cid": cent_ids[best]}
            if with_dist:
                out["dist"] = dist[np.arange(len(vm)), best]
            if carry is not None:
                out[carry] = pdf[carry]
            yield pd.DataFrame(out)

    return points.select(*in_cols).mapInPandas(assign, schema=cols)


def assign_l2_topn(
    points: DataFrame,
    cent_ids: np.ndarray,
    cm: np.ndarray,
    nprobe: int,
    id_col: str = "vec_id",
    q_col: str = "xq",
) -> DataFrame:
    """Top-``nprobe`` nearest centroids per point (the IVF probe step):
    same integer kernel as assign_l2, keeping the first nprobe columns of
    the (dist, cid) lexsort instead of just the argmin. Emits one row per
    (point, probed cell), crk = 1..nprobe."""
    if len(cent_ids) > MAX_CENTROIDS:
        _guard_k(len(cent_ids))
    n_keep = min(nprobe, len(cent_ids))
    c2 = np.einsum("ij,ij->i", cm, cm)

    def probe(batches):
        for pdf in batches:
            vm = np.vstack(pdf[q_col].to_numpy()).astype(np.int64)
            x2 = np.einsum("ij,ij->i", vm, vm)
            dist = x2[:, None] - 2 * (vm @ cm.T) + c2[None, :]
            order = np.lexsort(
                (cent_ids[None, :].repeat(len(vm), 0), dist), axis=1
            )[:, :n_keep]
            rows = len(vm)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(n_keep),
                    "cid": cent_ids[order].reshape(-1),
                    "crk": np.tile(np.arange(1, n_keep + 1), rows),
                }
            )

    return points.select(id_col, q_col).mapInPandas(
        probe, schema=f"{id_col} long, cid long, crk int"
    )


def _assign_stats(
    points: DataFrame,
    cent_ids: np.ndarray,
    cm: np.ndarray,
    q_col: str = "xq",
) -> DataFrame:
    """Fused Lloyd's statistics kernel (r11 opt, guide §2.3 "aggregate
    before you shuffle" + §4.2): the assignment matmul already holds the
    batch's vectors and their argmin cluster, so the per-(cluster, dim)
    SUMS and per-cluster COUNTS are one np.add.at away — each Arrow batch
    emits ≤ k·dim partial rows instead of round-tripping n vectors back
    to the JVM and posexploding them into n·dim agg inputs. The argmin is
    byte-for-byte assign_l2's (same integer distances, same lexsort
    tie-break); int64 partial sums re-associate exactly, so the final
    floor-division means are unchanged."""
    if len(cent_ids) > MAX_CENTROIDS:
        _guard_k(len(cent_ids))
    c2 = np.einsum("ij,ij->i", cm, cm)
    k = len(cent_ids)

    def stats(batches):
        for pdf in batches:
            vm = np.vstack(pdf[q_col].to_numpy()).astype(np.int64)
            x2 = np.einsum("ij,ij->i", vm, vm)
            dist = x2[:, None] - 2 * (vm @ cm.T) + c2[None, :]
            order = np.lexsort(
                (cent_ids[None, :].repeat(len(vm), 0), dist), axis=1
            )
            best = order[:, 0]  # position into cent_ids
            dim = vm.shape[1]
            sums = np.zeros((k, dim), dtype=np.int64)
            np.add.at(sums, best, vm)
            counts = np.bincount(best, minlength=k)
            live = np.nonzero(counts)[0]
            if len(live) == 0:
                continue
            yield pd.DataFrame(
                {
                    "cid": np.asarray(cent_ids)[live].repeat(dim),
                    "pos": np.tile(np.arange(dim), len(live)),
                    "s": sums[live].reshape(-1),
                    "n": counts[live].repeat(dim),
                }
            )

    return points.select(q_col).mapInPandas(
        stats, schema="cid long, pos int, s long, n long"
    )


def kmeans_fit(
    points: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    q_col: str = "xq",
) -> tuple[np.ndarray, np.ndarray]:
    """Fixed-iteration Lloyd's loop → (cent_ids, final k×dim centroid
    matrix). ``points`` should be persisted by the caller when iters > 1 —
    each iteration re-reads it once. Per iteration the fused
    ``_assign_stats`` kernel ships only ≤ k·dim partial-sum rows per Arrow
    batch to the (cid, pos) agg — the pre-r11 shape returned every
    assigned vector to the JVM and posexploded n·dim rows into the same
    aggregation, with identical resulting means."""
    cent_ids, cm = seed_centroids(points, k, id_col=id_col, q_col=q_col)
    for _ in range(iters):
        partial = _assign_stats(points, cent_ids, cm, q_col=q_col)
        cm = _lloyd_update(partial, cent_ids, cm)
    return cent_ids, cm


def _lloyd_update(
    partial: DataFrame, cent_ids: np.ndarray, cm: np.ndarray
) -> np.ndarray:
    """One Lloyd's update from ``_assign_stats`` partials: per-(cluster,
    dim) floor-division means of the summed partials; only k·dim rows
    reach the driver. Clusters that drew no points keep their previous
    centroid."""
    sums = (
        partial.groupBy("cid", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .select("cid", "pos", F.expr("s div n").alias("m"))
        .collect()
    )
    new_cm = cm.copy()
    idx = {int(c): i for i, c in enumerate(cent_ids)}
    for r in sums:
        new_cm[idx[r["cid"]], r["pos"]] = r["m"]
    return new_cm
