"""Materialized ANN index (SURVEY.md §2.2 K4 grown up; north-star similarity
search at scale).

The reference persists its HNSW index once and ships the artifact to serving
(vectorize.py:119-123 builds the chroma collection; sample_cron_job.sh:10
tars ``chroma_db`` for deployment). At 100 TB the index build is the
expensive step, so it must be write-once: signatures, norms, and
coarse-quantizer assignments are computed when a vector ENTERS the index —
never at query time. The artifact is two parquet tables:

  index/      (id, vec, norm, bucket, buckets, ivf_part, version)
  centroids/  (ivf_part, cv)            -- coarse-cell means, the sidecar

- ``bucket``   single-table LSH signature (similarity.HYPERPLANES)
- ``buckets``  L multi-table signatures ('t#bits', OR-amplified recall)
- ``ivf_part`` coarse quantizer cell (the single-table signature doubles as
  the coarse cell — a deterministic, data-independent quantizer, so
  incremental upserts never invalidate existing assignments the way
  re-trained k-means centroids would)
- ``norm``     L2 norm, so query-time scoring is one dot product per pair

``knn_from_index`` computes signatures for the QUERY side only (tiny) and
scores the index keyed by the precomputed columns — no corpus-side
signature is recomputed (asserted by plan in tests). Incremental
growth is ``upsert_vector_index``: index only the incoming batch, then
keep-latest merge by id (the engine twin of collection.add upsert semantics
at article_vectorize.py:262-266). Publishing commits through
operators/centroid_artifact.py's protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import numpy as np

from nocouncil_etl_spark.functions.numeric import ravg
from nocouncil_etl_spark.functions.vectors import as_double, l2_norm
from nocouncil_etl_spark.io import read_parquet
from nocouncil_etl_spark.operators.centroid_artifact import (
    corpus_fingerprint,
    publish,
    serve,
)
from nocouncil_etl_spark.operators.similarity import (
    _MULTI_MAT,
    _PLANES_MAT,
    attach_signature,
    bits_key,
    multi_bucket_keys,
)

INDEX_COLS = ["id", "vec", "norm", "bucket", "buckets", "ivf_part", "version"]

# Both signature kinds from ONE matmul: single-table planes stacked on top of
# the L multi-table planes.
_ALL_PLANES = np.vstack([_PLANES_MAT, _MULTI_MAT])
_N_SINGLE = _PLANES_MAT.shape[0]


def _index_sig_map(batches):
    for pdf in batches:
        if len(pdf) == 0:
            pdf["bucket"] = []
            pdf["buckets"] = []
            yield pdf
            continue
        mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
        signs = mat @ _ALL_PLANES.T >= 0
        pdf["bucket"] = [bits_key(row[:_N_SINGLE]) for row in signs]
        pdf["buckets"] = [multi_bucket_keys(row, offset=_N_SINGLE) for row in signs]
        yield pdf


def index_vectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    version: int = 0,
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Index one batch: all per-vector derived columns in a single narrow
    pass — ONE Arrow exchange computes both signature kinds via one stacked
    matmul; norm stays the JVM fold expression (oracle-exact).

    ``meta_cols`` are carried through into the artifact unchanged (source,
    label, lang, ...) so hybrid filtered search can push the predicate into
    the index parquet scan instead of joining back to the corpus."""
    metas = [df.schema[c] for c in meta_cols]
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        as_double(vec_col).alias("vec"),
        *[F.col(f.name) for f in metas],
    )
    schema = ", ".join(
        ["id long", "vec array<double>"]
        + [f"{f.name} {f.dataType.simpleString()}" for f in metas]
        + ["bucket string", "buckets array<string>"]
    )
    signed = base.mapInPandas(_index_sig_map, schema)
    return (
        signed.withColumn("norm", l2_norm("vec"))
        .withColumn("ivf_part", F.col("bucket"))
        .withColumn("version", F.lit(version).cast("long"))
    )


def build_centroids(index: DataFrame) -> DataFrame:
    """Coarse-cell mean vectors. Exact decimal per-dim means rounded 6dp
    (combine-order-independent — same kernel as knn_ivf_probe), so a rebuilt
    sidecar is bit-identical regardless of partitioning."""
    return (
        index.select("ivf_part", F.posexplode("vec").alias("pos", "x"))
        .groupBy("ivf_part", "pos")
        .agg(ravg("x", 6).alias("m"))
        .groupBy("ivf_part")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("cv")
        )
    )


def build_vector_index(
    corpus: DataFrame, id_col: str = "c_id", vec_col: str = "c_vec", version: int = 0
) -> tuple[DataFrame, DataFrame]:
    """Full build: (index, centroids)."""
    index = index_vectors(corpus, id_col, vec_col, version)
    return index, build_centroids(index)


def upsert_vector_index(
    index: DataFrame,
    incoming: DataFrame,
    id_col: str,
    vec_col: str,
    version: int,
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Incremental growth: index ONLY the incoming batch (the expensive
    signature pass touches new vectors alone), then keep-latest merge by id.
    One hash-partitioned window over (id) — no corpus re-signature. Rebuild
    the centroid sidecar with build_centroids when drift matters; cell
    membership itself never changes (data-independent quantizer)."""
    fresh = index_vectors(incoming, id_col, vec_col, version, meta_cols)
    cols = [c for c in INDEX_COLS if c in index.columns] + list(meta_cols)
    merged = index.select(*cols).unionByName(fresh.select(*cols))
    w = Window.partitionBy("id").orderBy(F.col("version").desc())
    return (
        merged.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def _write_index(index: DataFrame, stage: str, payload: dict) -> dict:
    """The index parquet lands first, then the centroid sidecar is derived
    from the WRITTEN files — so the signature pass runs exactly once
    regardless of how many readers the lineage has (writing index and
    centroids from the same unpersisted lineage would sign the corpus
    twice)."""
    index.write.parquet(f"{stage}/index")
    stored = read_parquet(index.sparkSession, f"{stage}/index")
    build_centroids(stored).write.parquet(f"{stage}/centroids")
    return payload


def publish_vector_index(index: DataFrame, path: str) -> tuple[DataFrame, DataFrame]:
    """Write-once publish of an indexed frame. Its manifest carries no
    corpus fingerprint, so serve_vector_index never counts it as a hit.
    Returns the stored (index, centroids)."""
    publish(path, lambda stage: _write_index(index, stage, {}))
    return read_vector_index(index.sparkSession, path)


def read_vector_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    return (
        read_parquet(spark, f"{path}/index"),
        read_parquet(spark, f"{path}/centroids"),
    )


def serve_vector_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    meta_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Publish-if-absent serving: the nightly-build / query-time split of the
    reference's cron (build chroma_db once, serve from the artifact). First
    call pays the signature pass and publishes the artifact; subsequent
    calls validate the manifest against the job-free corpus fingerprint and
    serve straight from parquet — the vectors are never re-signed.
    Production pins an artifact VERSION instead (the reference ships a
    dated tarball — sample_cron_job.sh:10); the probe exists so the
    correctness gate can never serve a stale artifact."""
    key = {"fp": corpus_fingerprint(corpus, id_col)}
    serve(
        path,
        key,
        lambda stage: _write_index(
            index_vectors(corpus, id_col, vec_col, meta_cols=meta_cols), stage, key
        ),
    )
    return read_vector_index(corpus.sparkSession, path)


def knn_from_index(
    queries: DataFrame,
    index: DataFrame,
    centroids: DataFrame | None = None,
    k: int = 5,
    strategy: str = "lsh",
    nprobe: int = 2,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
) -> DataFrame:
    """Top-k against the materialized index. Signature/probe work happens on
    the query side only; the index side is a pure parquet scan pruned to
    (id, vec, <key column>). Results are identical to the corresponding
    corpus-side strategy (knn_lsh / knn_lsh_multi / knn_ivf_probe), so the
    same oracles apply.

    Scoring is similarity.blocked_topk keyed by the stored column: ``bucket``
    (lsh), the ``buckets`` array (lsh_multi — a pair colliding in several
    tables is deduplicated inside the kernel, no shuffle), or ``ivf_part``
    (ivf, probed by centroid cosine). The stored norm column is not read —
    norms fold inside the kernel."""
    from nocouncil_etl_spark.operators.similarity import _probe_cells, blocked_topk

    if strategy == "lsh":
        q = attach_signature(queries, q_vec).select(
            F.col("bucket").alias("key"), q_id, q_vec
        )
        key = "bucket"
    elif strategy == "lsh_multi":
        q = attach_signature(queries, q_vec, multi=True).select(
            F.explode("buckets").alias("key"), q_id, q_vec
        )
        key = "buckets"
    elif strategy == "ivf":
        if centroids is None:
            raise ValueError("strategy='ivf' needs the centroids sidecar")
        q = _probe_cells(queries, centroids, "ivf_part", nprobe, q_id, q_vec)
        key = "ivf_part"
    else:
        raise ValueError(
            f"unknown index strategy {strategy!r}; expected lsh | lsh_multi | ivf"
        )
    return blocked_topk(q, index, k, key, q_id, "id", q_vec, "vec").select(
        q_id, F.col("id").alias("c_id"), "sim", "rk"
    )
