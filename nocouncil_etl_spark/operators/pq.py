"""Product-quantization training that touches the corpus ONCE per Lloyd's
iteration — all M subspace codebooks advance together.

The naive PQ trainer runs M independent k-means loops = M·iters corpus
passes (at 100 TB, M=8 × 2 iters = 16 full scans). But the subspace
problems are independent only in their STATE, not their input rows: one
Arrow pass can score every subspace's batch against its own codebook and
emit per-batch partial sums — so training costs iters+1 corpus passes
total, with the shuffle carrying only M·K·SUBD aggregate rows per batch
(a few KB), never per-point assignments.

Determinism is inherited wholesale from operators/kmeans.py: same integer
grid, same (md5(id), id) seed order (the seed ROWS are shared by all
subspaces — one limit-k collect, sliced per subspace), same integer
squared-L2 argmin with cid-ASC ties, same ``sum div count`` updates with
empty-cluster carry-forward. The DuckDB oracle for a consumer is therefore
exactly M spliced ``clustering.kmeans_cte`` blocks — byte-identical state
to M independent trainings, computed in 1/M the passes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nocouncil_etl_spark.operators.kmeans import _guard_k


def pq_seed(
    points: DataFrame, m: int, subd: int, k: int, id_col: str = "vec_id",
    q_col: str = "xq",
) -> list[np.ndarray]:
    """Seed all ``m`` codebooks from ONE k-row collect: the first k points
    in (md5(id), id) order, sliced per subspace — identical to seeding each
    subspace separately because the order ignores the vector."""
    _guard_k(k * m)
    rows = (
        points.select(id_col, q_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    full = np.array([r[q_col] for r in rows], dtype=np.int64)
    return [full[:, j * subd : (j + 1) * subd].copy() for j in range(m)]


def _dists(vm: np.ndarray, cm: np.ndarray) -> np.ndarray:
    x2 = np.einsum("ij,ij->i", vm, vm)
    c2 = np.einsum("ij,ij->i", cm, cm)
    return x2[:, None] - 2 * (vm @ cm.T) + c2[None, :]


def _best(vm: np.ndarray, cm: np.ndarray) -> np.ndarray:
    """Argmin of integer squared L2, ties → smallest cid (= smallest row
    index + 1, matching kmeans.seed_centroids' 1-based ids)."""
    d = _dists(vm, cm)
    ids = np.arange(1, len(cm) + 1, dtype=np.int64)
    order = np.lexsort((ids[None, :].repeat(len(vm), 0), d), axis=1)
    return order[:, 0]  # 0-based row index of winning centroid


def pq_update_pass(
    points: DataFrame, cms: list[np.ndarray], subd: int, q_col: str = "xq"
) -> list[np.ndarray]:
    """One Lloyd's update for ALL subspaces in one corpus pass: the Arrow
    kernel assigns each batch in every subspace and emits per-batch partial
    (m, cid, pos, s, n) sums — map-side combine inside the kernel, so the
    shuffle carries O(M·K·SUBD) rows per batch regardless of batch size.
    Empty clusters carry their previous centroid forward."""
    M = len(cms)
    bl = [np.ascontiguousarray(c) for c in cms]

    def partials(batches):
        for pdf in batches:
            full = np.vstack(pdf[q_col].to_numpy()).astype(np.int64)
            out_m, out_c, out_p, out_s, out_n = [], [], [], [], []
            for j in range(M):
                vm = full[:, j * subd : (j + 1) * subd]
                best = _best(vm, bl[j])
                for cid in np.unique(best):
                    mask = best == cid
                    s = vm[mask].sum(axis=0)
                    n = int(mask.sum())
                    for pos in range(subd):
                        out_m.append(j)
                        out_c.append(int(cid))
                        out_p.append(pos)
                        out_s.append(int(s[pos]))
                        out_n.append(n)
            yield pd.DataFrame(
                {"m": out_m, "cid": out_c, "pos": out_p, "s": out_s,
                 "n": out_n}
            )

    agg = (
        points.select(q_col)
        .mapInPandas(partials, schema="m int, cid int, pos int, s long, n long")
        .groupBy("m", "cid", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .select("m", "cid", "pos", F.expr("s div n").alias("mean"))
        .collect()
    )
    new = [c.copy() for c in cms]
    for r in agg:
        new[r["m"]][r["cid"], r["pos"]] = r["mean"]
    return new


def pq_fit(
    points: DataFrame, m: int, subd: int, k: int, iters: int,
    id_col: str = "vec_id", q_col: str = "xq",
) -> list[np.ndarray]:
    """Train all ``m`` codebooks in ``iters`` single-pass updates.
    ``points`` should be persisted by the caller. Returns the list of
    k×subd int64 codebook matrices (cid = row index + 1)."""
    cms = pq_seed(points, m, subd, k, id_col=id_col, q_col=q_col)
    for _ in range(iters):
        cms = pq_update_pass(points, cms, subd, q_col=q_col)
    return cms


def pq_assign_codes(
    points: DataFrame, cms: list[np.ndarray], subd: int,
    id_col: str = "vec_id", q_col: str = "xq",
) -> DataFrame:
    """Encode the corpus against pinned codebooks in one pass:
    (id, m, code) long-format rows, code = 1-based centroid id."""
    M = len(cms)
    bl = [np.ascontiguousarray(c) for c in cms]

    def encode(batches):
        for pdf in batches:
            full = np.vstack(pdf[q_col].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            frames = []
            for j in range(M):
                vm = full[:, j * subd : (j + 1) * subd]
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: ids,
                            "m": np.full(len(ids), j, dtype=np.int64),
                            "code": _best(vm, bl[j]) + 1,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return points.select(id_col, q_col).mapInPandas(
        encode, schema=f"{id_col} long, m long, code long"
    )
