"""Trained-IVF ANN index artifact: publish once, serve many, upsert in place.

The trained sibling of operators/ann_index.py (whose coarse cells are
data-independent LSH signatures). Here the coarse quantizer is a fixed-k
integer k-means trained on the corpus (operators/kmeans.py), and the whole
artifact is pinned to storage through operators/centroid_artifact.py's
commit protocol — the reference's build-nightly/serve-always split
(vectorize.py:119-123 builds the HNSW once; sample_cron_job.sh:10 ships
it):

  {path}/index/         parquet (vec_id, v array<double>, cid) — each vector
                        with its PINNED coarse cell; build and upsert both
                        write exactly these columns (``_write_index``)
  {path}/centroids.npy  the quantized centroid matrix (k rows), written and
                        read by the driver (centroid_artifact.write_centroids)
  {path}/manifest.json  corpus fingerprint + {k, iters, auto, layout}

Because cells are pinned after training, incremental upserts assign the
INCOMING batch against the stored centroids (one Arrow pass over the batch
alone) and append — existing assignments never move, exactly the property
that makes ann_index upserts cheap, now with data-adaptive cell boundaries.
Search quantizes the (tiny) query side, ranks the pinned cells by exact
integer L2, probes the top-nprobe, and cosine-ranks inside probed cells
with similarity.blocked_topk keyed by the pinned cell — the corpus is never
re-signed or re-assigned.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import read_parquet
from nocouncil_etl_spark.operators.centroid_artifact import (
    LAYOUT,
    corpus_fingerprint,
    invalidate,
    publish,
    read_centroids,
    serve,
    write_centroids,
)
from nocouncil_etl_spark.operators.kmeans import (
    MAX_CENTROIDS,
    assign_l2,
    assign_l2_topn,
    kmeans_fit,
    quantize_vectors,
)

# Floor for auto-sized nlist: below this the probe set is a table scan
# anyway and the training cost isn't worth it.
MIN_NLIST = 8


def auto_nlist(n: int) -> int:
    """Corpus-size-adaptive IVF cell count: the FAISS nlist ≈ √n rule,
    bucketed to a power of two so the manifest pins a stable value (small
    corpus growth does not thrash rebuilds), clamped to
    [MIN_NLIST, MAX_CENTROIDS].

    This enforces what SCALE.md's "Trained-IVF nlist must track corpus
    size" incident documented: with nlist pinned at 8, probed-candidate
    volume per query is ~nprobe·n/nlist, so total search cost grows
    ∝ n²/nlist — at sf1 (500k vectors) the 8-cell index degraded to
    near-brute-force (40 s). √n keeps per-cell population ≈ √n, so the
    probe volume per query grows as √n instead of n."""
    if n <= MIN_NLIST * MIN_NLIST:
        return MIN_NLIST
    return int(min(MAX_CENTROIDS, 2 ** round(math.log2(math.sqrt(n)))))


def _write_index(
    eq: DataFrame, cent_ids, cm, path: str, id_col: str, vec_col: str, mode: str
) -> None:
    """The one index-row writer, for build and upsert alike: one Arrow pass
    over ``eq`` (id_col, vec_col, xq) assigns each vector its cell and
    carries the raw vector beside it — (id_col, vec_col, cid), no join."""
    assign_l2(eq, cent_ids, cm, id_col=id_col, carry=vec_col).select(
        id_col, vec_col, "cid"
    ).write.mode(mode).parquet(f"{path}/index")


def _builder(
    e: DataFrame, k: int | None, iters: int, id_col: str, vec_col: str, fp: dict
):
    """The artifact writer: quantize, train the coarse quantizer (``k=None``
    sizes nlist from the corpus count, auto_nlist ≈ √n), pin every
    vector's cell, write index + centroid sidecar. The payload records the
    resolved k and the auto flag so serving can validate."""

    def write(stage: str) -> dict:
        eq = quantize_vectors(e, vec_col, "xq").select(id_col, vec_col, "xq").persist()
        try:
            kk = auto_nlist(eq.count()) if k is None else k
            cent_ids, cm = kmeans_fit(eq, kk, iters, id_col=id_col)
            _write_index(eq, cent_ids, cm, stage, id_col, vec_col, "error")
            write_centroids(cent_ids, cm, stage)
        finally:
            eq.unpersist()
        return {"fp": fp, "k": kk, "iters": iters, "auto": k is None, **LAYOUT}

    return write


def publish_kmeans_index(
    e: DataFrame,
    k: int | None,
    iters: int,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> int:
    """Full build (``_builder``) committed onto ``path``. ``e`` carries
    (id_col, vec_col array<double>). Returns the resolved k."""
    fp = corpus_fingerprint(e, id_col)
    return publish(path, _builder(e, k, iters, id_col, vec_col, fp))["k"]


def read_kmeans_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    """(stored index frame, cent_ids, k×dim centroid matrix) straight from
    the artifact."""
    return (read_parquet(spark, f"{path}/index"), *read_centroids(path))


def serve_kmeans_index(
    e: DataFrame,
    k: int | None,
    iters: int,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    """Publish-if-absent: manifest hit → pure artifact read (no training,
    no corpus signature pass); miss → build and publish. Warm calls are the
    100 TB serving number. With ``k=None`` the artifact must have been
    auto-sized (manifest ``auto`` flag) — the fingerprint match implies the
    same corpus count, hence the same auto_nlist, so a warm serve never
    recounts, never retrains."""
    fp = corpus_fingerprint(e, id_col)
    size = {"auto": True} if k is None else {"k": k}
    key = {"fp": fp, "iters": iters, **size, **LAYOUT}
    serve(path, key, _builder(e, k, iters, id_col, vec_col, fp))
    return read_kmeans_index(e.sparkSession, path)


def upsert_kmeans_index(
    incoming: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> None:
    """Incremental growth: assign ONLY the incoming batch against the
    STORED centroids (cells are pinned — existing rows never move) and
    append to the index parquet. The expensive step touches the batch
    alone; at 100 TB this is one narrow Arrow pass over the delta.
    The manifest is invalidated first: its fingerprint described the
    corpus before the append, so a later ``serve_kmeans_index`` of any
    corpus rebuilds instead of serving the appended rows (a crash
    mid-append leaves the same invalid manifest). Reads by path
    (``search_kmeans_index``) see the grown index.
    Note: append-only by design (the epoch-idempotent merge discipline
    lives in the caller's foreachBatch, see streaming tests); keep-latest
    dedup by id composes on read if ids can repeat across batches."""
    ids, cm = read_centroids(path)
    invalidate(path)
    inq = quantize_vectors(incoming, vec_col, "xq")
    _write_index(inq, ids, cm, path, id_col, vec_col, "append")


def search_kmeans_index(
    queries: DataFrame,
    index: str | tuple[DataFrame, np.ndarray, np.ndarray],
    nprobe: int,
    topk: int,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Top-k against the pinned artifact: quantize the query side only,
    integer-L2 rank the stored centroids, probe top-nprobe cells, cosine
    rank inside probed cells. Emits (q_id, c_id, sim, rk). ``index`` is the
    artifact path, or the (stored, cent_ids, centroids) triple that
    serve_kmeans_index / read_kmeans_index returned — passing it on reads
    the centroid matrix once per serve.

    In-cell scoring is similarity.blocked_topk keyed by the stored ``cid``:
    the (query, probed-cell) rows — nq·nprobe of them — are collected once
    and each Arrow batch of the stored index scores against its cell's
    query matrix with one matmul; a data-sized query set takes the
    primitive's distributed equi-join fallback, which never collects."""
    from nocouncil_etl_spark.operators.similarity import blocked_topk

    stored, ids, cm = (
        read_kmeans_index(queries.sparkSession, index)
        if isinstance(index, str)
        else index
    )
    qq = quantize_vectors(queries, vec_col, "xq").select(id_col, "xq")
    probes = assign_l2_topn(qq, ids, cm, nprobe, id_col=id_col).select(
        F.col(id_col).alias("q_id"), F.col("cid").alias("key")
    )
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    return blocked_topk(
        probes.join(F.broadcast(q), "q_id").select("key", "q_id", "q_vec"),
        stored, topk, "cid", "q_id", id_col, "q_vec", vec_col,
    ).select("q_id", F.col(id_col).alias("c_id"), "sim", "rk")
