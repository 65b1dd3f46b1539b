"""Publish-once / serve-many artifacts: the one commit protocol, plus the
trained k-means centroid artifact.

Training and index builds are the expensive, batch-time steps; at 100 TB
you build once and serve many times — the reference itself is
persistent-index shaped (vectorize.py:119-123 builds Chroma's HNSW once on
disk; sample_cron_job.sh:10 ships the artifact tarball to serving). Three
artifact kinds share this module's protocol: the centroids below,
operators/kmeans_index.py's trained-IVF index and operators/ann_index.py's
materialized vector index.

**Commit protocol.** ``publish(path, write)`` runs ``write(stage)`` into a
fresh sibling directory ``<path>.stage-<token>`` (same filesystem; the name
never starts with ``_``/``.``, which Hadoop would treat as hidden), writes
``manifest.json`` LAST inside it, then swaps it in: the live directory is
renamed aside, the stage renamed onto ``path``, the old copy removed. If
anything raises before the swap the stage is removed and the live artifact
is untouched — a manifest never blesses half-written data, and between the
two renames a reader sees no artifact at all (it republishes or refuses).
``serve(path, key, write)`` is the one publish-if-absent check: a hit is a
stored manifest whose fields equal every field of ``key``; anything else
publishes. Callers re-read ``path`` after the swap, never the stage.

**Freshness key.** ``corpus_fingerprint`` keys a corpus by its input
files' ``FileSystem`` status plus a digest of its canonicalized plan — no
Spark job — so a warm serve runs only its action, and an in-place rewrite
that keeps the ids still republishes. Frames with no file lineage fall
back to a one-aggregate key. Manifests written under the old aggregate key
never match a file-keyed corpus: they republish once.

The centroid artifact:

  {path}/centroids.npy  int64 k×(1+dim): cid, then the pinned centroid
  {path}/assignments/   parquet (id, cid) — serve_assignments only
  {path}/manifest.json  corpus fingerprint + training params + layout

The k-row matrix (MAX_CENTROIDS-guarded) is ``np.save``d by the driver —
no Spark job either way; like ``publish``'s renames, this needs a local
filesystem. Centroid-bearing manifests carry ``LAYOUT``, so an artifact in
the earlier ``kcentroids/`` parquet layout republishes once.

``serve_centroids`` validates the manifest against the corpus fingerprint
and loads the pinned matrix — ``kmeans_fit`` never runs on the warm path,
so a dedup/ANN query over an unchanged corpus pays zero training. A
changed corpus (or changed k/iters) invalidates the manifest and retrains,
so the correctness gate can never serve stale centroids. Production pins
an artifact VERSION instead of fingerprinting — the probe exists for the
oracle-checked test surface.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import file_status, read_parquet
from nocouncil_etl_spark.operators.kmeans import assign_l2, kmeans_fit

CENTROIDS = "centroids.npy"
LAYOUT = {"layout": CENTROIDS}  # manifest field: where the centroids live


def scratch_path(sf_dir: str, name: str) -> str:
    """Repo-local artifact scratch dir keyed by (artifact name, sf tag), so
    every artifact query agrees and concurrent scales never collide
    (.scratch/ is gitignored)."""
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(repo, ".scratch", f"{name}_{tag}")


def corpus_fingerprint(points: DataFrame, id_col: str) -> str | dict:
    """Freshness key of a corpus frame, with no Spark job: a sha256 over
    the frame's ``inputFiles()``, each with its ``FileSystem`` length and
    mtime, and the text of its canonicalized analyzed plan (expression ids
    normalized, so the digest is stable across JVMs and covers derived
    frames: projections, filters, unions). An in-place rewrite that keeps
    the ids changes the files' status, so it republishes.

    A frame with no input files, or with a leaf that is not a file relation
    (a ``LocalRelation`` or ``LogicalRDD`` holds data the plan text does not
    show), takes ``_aggregate_fingerprint``. The plan text does not show a
    Python UDF's closure either: a corpus derived through one is keyed by
    the UDF's name."""
    spark = points.sparkSession
    files = sorted(points.inputFiles())
    plan = points._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    if not files or any(
        leaf.getClass().getSimpleName() != "LogicalRelation"
        or leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
    ):
        return _aggregate_fingerprint(points, id_col)
    # treeString(verbose, addSuffix, maxFields, printOperatorId,
    # printOutputColumns): untruncated, unlike the default
    text = plan.canonicalized().treeString(False, False, 2**31 - 1, False, False)
    h = hashlib.sha256(text.encode())
    for f in files:
        h.update(repr((f, file_status(spark, f))).encode())
    return h.hexdigest()


def _aggregate_fingerprint(points: DataFrame, id_col: str) -> dict:
    """Fallback key for frames without a file lineage: one single-column
    aggregate (count + id sum/max), one Spark job."""
    row = points.select(
        F.count("*").alias("n"),
        F.sum(F.col(id_col).cast("long")).alias("s"),
        F.max(F.col(id_col).cast("long")).alias("m"),
    ).first()
    return {"n": row["n"], "s": int(row["s"] or 0), "m": int(row["m"] or 0)}


def write_manifest(path: str, payload: dict) -> None:
    """Write ``manifest.json`` into a directory atomically (temp file +
    ``os.replace``): a reader sees the old manifest or the new one, never
    a torn file. In publish's stage the rename swap is what makes it
    visible; in a live artifact (``invalidate``) this replace is."""
    tmp = os.path.join(path, f".manifest-{uuid.uuid4().hex[:12]}.tmp")
    with open(tmp, "w") as fh:
        json.dump(payload, fh, sort_keys=True)
    os.replace(tmp, os.path.join(path, "manifest.json"))


def invalidate(path: str) -> None:
    """Make the next ``serve`` of a live artifact republish: rewrite its
    manifest with ``fp`` = None, which no ``corpus_fingerprint`` equals.
    Call it BEFORE writing into the artifact in place, so neither the
    finished write nor a crash part-way through leaves a manifest that
    blesses rows its fingerprint does not describe."""
    write_manifest(path, {**(read_manifest(path) or {}), "fp": None})


def read_manifest(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "manifest.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _matches(path: str, key: dict) -> bool:
    mf = read_manifest(path)
    return isinstance(mf, dict) and all(mf.get(f) == v for f, v in key.items())


def publish(path: str, write: Callable[[str], dict]) -> dict:
    """Commit ``write(stage) -> manifest payload`` onto ``path`` (module
    docstring: stage, manifest last, rename swap). Returns the payload."""
    path = os.path.normpath(path)
    token = uuid.uuid4().hex[:12]
    stage = f"{path}.stage-{token}"
    os.makedirs(stage)
    try:
        payload = write(stage)
        write_manifest(stage, payload)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    old = f"{path}.old-{token}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old, ignore_errors=True)
    return payload


def serve(path: str, key: dict, write: Callable[[str], dict]) -> None:
    """Publish-if-absent: keep the artifact when its manifest carries every
    field of ``key``; otherwise ``publish(path, write)``."""
    if not _matches(path, key):
        publish(path, write)


def write_centroids(cent_ids: np.ndarray, cm: np.ndarray, path: str) -> None:
    """The one centroid-matrix writer: ``{path}/centroids.npy``, int64
    k×(1+dim) with the cid in column 0."""
    np.save(os.path.join(path, CENTROIDS), np.column_stack([cent_ids, cm]))


def read_centroids(path: str) -> tuple[np.ndarray, np.ndarray]:
    """Load the pinned (cent_ids, k×dim matrix) — k rows, driver-trivial
    by the MAX_CENTROIDS contract that guarded training; no Spark job."""
    m = np.load(os.path.join(path, CENTROIDS), allow_pickle=False)
    return m[:, 0].copy(), m[:, 1:].copy()


def _trainer(
    points: DataFrame, k: int, iters: int, id_col: str, q_col: str, payload: dict
):
    def write(stage: str) -> dict:
        cent_ids, cm = kmeans_fit(points, k, iters, id_col=id_col, q_col=q_col)
        write_centroids(cent_ids, cm, stage)
        return payload

    return write


def publish_centroids(
    points: DataFrame,
    k: int,
    iters: int,
    path: str,
    id_col: str = "vec_id",
    q_col: str = "xq",
    fingerprint: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Train fixed-k integer Lloyd's k-means on ``points`` (quantized
    vectors) and pin the result. Returns (cent_ids, k×dim int64 matrix)."""
    fp = fingerprint if fingerprint is not None else corpus_fingerprint(points, id_col)
    payload = {"fp": fp, "k": k, "iters": iters, **LAYOUT}
    publish(path, _trainer(points, k, iters, id_col, q_col, payload))
    return read_centroids(path)


def serve_centroids(
    points: DataFrame,
    k: int,
    iters: int,
    path: str,
    id_col: str = "vec_id",
    q_col: str = "xq",
) -> tuple[np.ndarray, np.ndarray]:
    """Publish-if-absent serving: on a manifest hit (fingerprint + params),
    load the pinned matrix (k-row ``np.load``, NO training); on a miss,
    train and publish. The warm path is the 100 TB path — training cost is
    paid once per corpus version."""
    key = {"fp": corpus_fingerprint(points, id_col), "k": k, "iters": iters, **LAYOUT}
    serve(path, key, _trainer(points, k, iters, id_col, q_col, key))
    return read_centroids(path)


def serve_assignments(
    raw: DataFrame,
    k: int,
    iters: int,
    path: str,
    id_col: str = "vec_id",
    to_quantized=None,
) -> DataFrame:
    """Publish-if-absent serving of the CORPUS-SIDE ASSIGNMENTS (id, cid)
    alongside the pinned centroids: assignments against pinned centroids
    over an unchanged corpus are themselves immutable — exactly the
    property that lets the kmeans_index artifact pin each vector's cell —
    so the warm path is the job-free fingerprint of ``raw`` plus an
    assignments parquet read: no quantization pass, no corpus-wide
    assignment kernel, no training.

    ``raw`` carries (id_col, raw vector); ``to_quantized`` maps it to the
    (id_col, xq) frame training/assignment run on, and is only invoked on
    a publish (cold) call. The manifest gains an ``assignments`` flag so a
    centroid-only artifact republishes instead of serving a missing
    parquet; when its fingerprint and params still validate, the republish
    reuses its pinned centroids (assignment only, no retraining)."""
    spark = raw.sparkSession
    key = {"fp": corpus_fingerprint(raw, id_col), "k": k, "iters": iters, **LAYOUT}

    def write(stage: str) -> dict:
        points = to_quantized(raw)
        if _matches(path, key):
            cent_ids, cm = read_centroids(path)
        else:
            cent_ids, cm = kmeans_fit(points, k, iters, id_col=id_col)
        write_centroids(cent_ids, cm, stage)
        assign_l2(points, cent_ids, cm, id_col=id_col).write.parquet(
            f"{stage}/assignments"
        )
        return {**key, "assignments": True}

    serve(path, {**key, "assignments": True}, write)
    return read_parquet(spark, f"{path}/assignments")
