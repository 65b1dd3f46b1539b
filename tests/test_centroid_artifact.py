"""Publish-once / serve-many trained centroids (operators/centroid_artifact,
operators/kmeans_index): warm serving must NEVER retrain, a changed corpus
must retrain, results must be row-identical to the train-inline twins, and
streaming upserts against the pinned artifact must match a batch rebuild
with the same pinned centroids.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from nocouncil_etl_spark.operators import ann_index as ai
from nocouncil_etl_spark.operators import centroid_artifact as ca
from nocouncil_etl_spark.operators import kmeans_index as ki
from nocouncil_etl_spark.operators.kmeans import quantize_vectors
from nocouncil_etl_spark.registry import load_all

REG = load_all()


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(11)
    rows = [
        (i, [float(round(x, 6)) for x in rng.standard_normal(16)])
        for i in range(120)
    ]
    return spark.createDataFrame(rows, "vec_id long, v array<double>").cache()


def _eq(vecs):
    return quantize_vectors(vecs, "v", "xq").select("vec_id", "xq")


# --------------------------------------------------------------------------
# centroid-only artifact (the SemDeDup path)
# --------------------------------------------------------------------------


def test_serve_equals_publish(vecs, tmp_path):
    eq = _eq(vecs)
    ids_p, cm_p = ca.publish_centroids(eq, 4, 2, str(tmp_path / "a"))
    ids_s, cm_s = ca.serve_centroids(eq, 4, 2, str(tmp_path / "b"))
    assert (ids_p == ids_s).all()
    assert (cm_p == cm_s).all()


def test_warm_serve_never_trains(vecs, tmp_path, monkeypatch):
    """Second serve over an unchanged corpus loads the pinned matrix —
    poisoning kmeans_fit proves the warm path cannot reach training."""
    eq = _eq(vecs)
    path = str(tmp_path / "warm")
    ids1, cm1 = ca.serve_centroids(eq, 4, 2, path)

    def boom(*a, **k):  # pragma: no cover - would fail the test if reached
        raise AssertionError("kmeans_fit ran on the warm serve path")

    monkeypatch.setattr(ca, "kmeans_fit", boom)
    ids2, cm2 = ca.serve_centroids(eq, 4, 2, path)
    assert (ids1 == ids2).all()
    assert (cm1 == cm2).all()


def test_changed_corpus_invalidates_manifest(vecs, tmp_path):
    eq = _eq(vecs)
    path = str(tmp_path / "stale")
    ca.serve_centroids(eq, 4, 2, path)
    grown = _eq(
        vecs.unionByName(
            vecs.limit(1).select((F.col("vec_id") + 10_000).alias("vec_id"), "v")
        )
    )
    ids, cm = ca.serve_centroids(grown, 4, 2, path)  # must retrain, not crash
    mf = ca.read_manifest(path)
    assert mf["fp"]["n"] == 121  # manifest now blesses the grown corpus
    assert len(ids) == 4 and cm.shape[1] == 16


def test_changed_params_invalidate_manifest(vecs, tmp_path):
    eq = _eq(vecs)
    path = str(tmp_path / "params")
    ca.serve_centroids(eq, 4, 2, path)
    ids, _ = ca.serve_centroids(eq, 6, 2, path)  # k changed → retrain
    assert len(ids) == 6
    assert ca.read_manifest(path)["k"] == 6


def test_dedup_semantic_serve_matches_train_twin(spark, sf_dir):
    a = REG["dedup_semantic_centroid"].fn(spark, sf_dir)
    b = REG["dedup_semantic_serve"].fn(spark, sf_dir)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


# --------------------------------------------------------------------------
# pinned corpus-side assignments (r12: warm serve does query-side work only)
# --------------------------------------------------------------------------


def test_serve_assignments_matches_inline_assign(vecs, tmp_path):
    """Pinned assignments ≡ per-call assign_l2 against the same pinned
    centroids (the immutability that justifies storing them)."""
    from nocouncil_etl_spark.operators.kmeans import assign_l2

    path = str(tmp_path / "asg")
    got = ca.serve_assignments(
        vecs, 4, 2, path, to_quantized=lambda d: _eq(d)
    )
    ids, cm = ca.read_centroids(path)
    want = assign_l2(_eq(vecs), ids, cm)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert ca.read_manifest(path)["assignments"] is True


def test_serve_assignments_warm_never_quantizes_or_trains(
    vecs, tmp_path, monkeypatch
):
    """Warm path = fingerprint + parquet read: poisoning BOTH kmeans_fit
    and the caller's quantizer proves neither runs over an unchanged
    corpus."""
    path = str(tmp_path / "asgwarm")
    first = ca.serve_assignments(
        vecs, 4, 2, path, to_quantized=lambda d: _eq(d)
    ).collect()

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("training/quantization ran on the warm path")

    monkeypatch.setattr(ca, "kmeans_fit", boom)
    second = ca.serve_assignments(vecs, 4, 2, path, to_quantized=boom).collect()
    assert sorted(first) == sorted(second)


def test_serve_assignments_rejects_centroid_only_artifact(
    vecs, tmp_path, monkeypatch
):
    """A pre-r12 artifact (centroids, no assignments parquet) must
    republish rather than serve a missing file — and, since its
    fingerprint and params still validate, the republish assigns against
    the pinned centroids instead of retraining."""
    path = str(tmp_path / "old")
    ca.serve_centroids(_eq(vecs), 4, 2, path)  # old-format manifest
    pinned_ids, pinned_cm = ca.read_centroids(path)

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("kmeans_fit ran on an assignments-only miss")

    monkeypatch.setattr(ca, "kmeans_fit", boom)
    got = ca.serve_assignments(
        vecs, 4, 2, path, to_quantized=lambda d: _eq(d)
    )
    assert got.count() == 120
    assert ca.read_manifest(path)["assignments"] is True
    ids, cm = ca.read_centroids(path)
    assert (ids == pinned_ids).all() and (cm == pinned_cm).all()


# --------------------------------------------------------------------------
# crash-safe commit protocol (one publisher for every artifact kind)
# --------------------------------------------------------------------------


def _vector_kind(d, path):
    return ai.serve_vector_index(d, path, "vec_id", "v")[0].select("id", "bucket")


_KINDS = {
    # kind -> (serve the artifact and return a result frame, the build step
    # a warm serve must never reach)
    "vector_index": (_vector_kind, (ai, "index_vectors")),
    "kmeans_index": (
        lambda d, path: ki.serve_kmeans_index(d, 4, 2, path)[0],
        (ki, "kmeans_fit"),
    ),
    "assignments": (
        lambda d, path: ca.serve_assignments(d, 4, 2, path, to_quantized=_eq),
        (ca, "kmeans_fit"),
    ),
}


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_crash_before_manifest_keeps_previous_artifact(
    spark, tmp_path, monkeypatch, kind
):
    """A republish that dies between its data write and its manifest write
    must leave the previous artifact serving the previous corpus: no
    training on the next serve, identical results, no staging sibling."""
    serve_fn, (mod, build_fn) = _KINDS[kind]
    rng = np.random.default_rng(5)
    vecs = spark.createDataFrame(  # 64 dims: the LSH planes' width
        [
            (i, [float(round(x, 6)) for x in rng.standard_normal(64)])
            for i in range(120)
        ],
        "vec_id long, v array<double>",
    )
    path = str(tmp_path / "art")
    want = sorted(serve_fn(vecs, path).collect())

    def crash(*a, **k):
        raise RuntimeError("crash before the manifest")

    monkeypatch.setattr(ca, "write_manifest", crash)
    with pytest.raises(RuntimeError, match="crash before the manifest"):
        serve_fn(vecs.filter(F.col("vec_id") < 60), path)

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError(f"{build_fn} ran after the failed republish")

    monkeypatch.setattr(mod, build_fn, boom)
    assert sorted(serve_fn(vecs, path).collect()) == want
    assert os.listdir(tmp_path) == ["art"]


# --------------------------------------------------------------------------
# trained-IVF index artifact (the ANN path)
# --------------------------------------------------------------------------


def test_kidx_serve_matches_train_twin(spark, sf_dir):
    a = REG["vec_knn_index_kmeans"].fn(spark, sf_dir)
    b = REG["vec_knn_index_kmeans_serve"].fn(spark, sf_dir)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_kidx_warm_serve_never_trains(vecs, tmp_path, monkeypatch):
    path = str(tmp_path / "kidx")
    ki.serve_kmeans_index(vecs, 4, 2, path)

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("kmeans_fit ran on the warm kidx serve path")

    monkeypatch.setattr(ki, "kmeans_fit", boom)
    stored, ids, cm = ki.serve_kmeans_index(vecs, 4, 2, path)
    assert stored.count() == 120
    assert len(ids) == 4

    hits = ki.search_kmeans_index(
        vecs.filter(F.col("vec_id") % 30 == 0), path, nprobe=2, topk=3
    )
    rows = hits.collect()
    assert rows and all(r.rk <= 3 and r.q_id != r.c_id for r in rows)


def test_kidx_upsert_matches_pinned_batch_rebuild(spark, vecs, tmp_path):
    """Incremental growth parity: publish on corpus A, upsert batch B
    (assigned against the STORED centroids — no retraining), search; must
    be row-identical to assigning A∪B against the same pinned centroids in
    one batch. Holds because cells are pinned after training — per-vector
    assignment is data-independent of the rest of the corpus."""
    from nocouncil_etl_spark.operators.kmeans import assign_l2

    a = vecs.filter(F.col("vec_id") < 80)
    b = vecs.filter(F.col("vec_id") >= 80)
    path = str(tmp_path / "ups")
    ki.publish_kmeans_index(a, 4, 2, path)
    ki.upsert_kmeans_index(b, path)

    queries = vecs.filter(F.col("vec_id") % 30 == 0)
    got = ki.search_kmeans_index(queries, path, nprobe=2, topk=3)

    # batch rebuild with the SAME pinned centroids over A∪B
    _, ids, cm = ki.read_kmeans_index(spark, path)
    full_path = str(tmp_path / "full")
    cells = assign_l2(_eq(vecs), ids, cm)
    vecs.join(cells, "vec_id").write.mode("overwrite").parquet(f"{full_path}/index")
    ca.write_centroids(ids, cm, full_path)
    want = ki.search_kmeans_index(queries, full_path, nprobe=2, topk=3)

    sel = ["q_id", "c_id", "sim", "rk"]
    assert got.select(sel).exceptAll(want.select(sel)).count() == 0
    assert want.select(sel).exceptAll(got.select(sel)).count() == 0


def test_kidx_build_and_upsert_write_one_index_layout(spark, vecs, tmp_path):
    """Build and upsert write the same (vec_id, v, cid) index rows whatever
    else the corpus carries: every part file has one schema, and search
    equals a one-shot index over A∪B with the same pinned centroids."""
    import pyarrow.parquet as pq

    tagged = vecs.withColumn("tag", F.concat(F.lit("t"), F.col("vec_id")))
    path = str(tmp_path / "tagged")
    ki.publish_kmeans_index(tagged.filter(F.col("vec_id") < 80), 4, 2, path)
    ki.upsert_kmeans_index(tagged.filter(F.col("vec_id") >= 80), path)

    parts = [
        os.path.join(path, "index", f)
        for f in os.listdir(os.path.join(path, "index"))
        if f.endswith(".parquet")
    ]
    assert {tuple(pq.read_schema(f).names) for f in parts} == {("vec_id", "v", "cid")}

    from nocouncil_etl_spark.operators.kmeans import assign_l2

    _, ids, cm = ki.read_kmeans_index(spark, path)
    full_path = str(tmp_path / "oneshot")
    cells = assign_l2(_eq(vecs), ids, cm)
    vecs.join(cells, "vec_id").write.parquet(f"{full_path}/index")
    ca.write_centroids(ids, cm, full_path)
    queries = vecs.filter(F.col("vec_id") % 30 == 0)
    got = ki.search_kmeans_index(queries, path, nprobe=2, topk=3)
    want = ki.search_kmeans_index(queries, full_path, nprobe=2, topk=3)
    assert sorted(got.collect()) == sorted(want.collect())


def _to_parent_layout(spark, path):
    """Rewrite a centroid-bearing artifact into the earlier layout: the
    matrix as a ``kcentroids/`` parquet, no ``centroids.npy``, and a
    manifest without the ``layout`` field."""
    ids, cm = ca.read_centroids(path)
    os.remove(os.path.join(path, ca.CENTROIDS))
    spark.createDataFrame(
        [(int(c), [int(x) for x in cm[i]]) for i, c in enumerate(ids)],
        "cid long, cv array<long>",
    ).write.parquet(f"{path}/kcentroids")
    mf = ca.read_manifest(path)
    del mf["layout"]
    ca.write_manifest(path, mf)


_OLD_FORMAT_KINDS = {
    # kind -> serve the artifact and return comparable rows
    "centroids": lambda d, path: [
        a.tolist() for a in ca.serve_centroids(_eq(d), 4, 2, path)
    ],
    "kmeans_index": lambda d, path: sorted(
        ki.serve_kmeans_index(d, 4, 2, path)[0].collect()
    ),
}


@pytest.mark.parametrize("kind", sorted(_OLD_FORMAT_KINDS))
def test_parent_layout_artifact_republishes_once(
    spark, vecs, tmp_path, monkeypatch, kind
):
    """An artifact with a ``kcentroids/`` parquet and no ``centroids.npy``
    never matches the layout-keyed manifest: the first serve republishes
    (instead of failing in np.load), the second hits, and the rows equal
    a fresh publish."""
    serve_fn = _OLD_FORMAT_KINDS[kind]
    path = str(tmp_path / "art")
    serve_fn(vecs, path)
    _to_parent_layout(spark, path)
    publishes = []
    real = ca.publish
    monkeypatch.setattr(ca, "publish", lambda p, w: publishes.append(p) or real(p, w))
    first = serve_fn(vecs, path)
    second = serve_fn(vecs, path)
    assert len(publishes) == 1
    assert ca.read_manifest(path)["layout"] == ca.CENTROIDS
    assert first == second == serve_fn(vecs, str(tmp_path / "fresh"))


def test_kidx_streaming_upsert_parity(spark, vecs, tmp_path):
    """Verdict r5 #7: stream micro-batches into the published index
    artifact (foreachBatch → upsert_kmeans_index) and assert
    search-after-upsert ≡ the one-shot upsert path. Each micro-batch is
    assigned against the pinned centroids only — the streaming twin of
    ann_index's upsert-then-search parity (tests/test_ann_index.py:275)."""
    a = vecs.filter(F.col("vec_id") < 80)
    b = vecs.filter(F.col("vec_id") >= 80)
    path = str(tmp_path / "stream")
    ki.publish_kmeans_index(a, 4, 2, path)

    src = str(tmp_path / "incoming")
    # two files → (at least) two micro-batches through the file source
    b.filter(F.col("vec_id") < 100).write.parquet(src + "/p1")
    b.filter(F.col("vec_id") >= 100).write.parquet(src + "/p2")
    stream = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/p*")
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _epoch: ki.upsert_kmeans_index(batch, path)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    queries = vecs.filter(F.col("vec_id") % 30 == 0)
    got = ki.search_kmeans_index(queries, path, nprobe=2, topk=3)

    batch_path = str(tmp_path / "batch")
    ki.publish_kmeans_index(a, 4, 2, batch_path)
    ki.upsert_kmeans_index(b, batch_path)
    want = ki.search_kmeans_index(queries, batch_path, nprobe=2, topk=3)

    sel = ["q_id", "c_id", "sim", "rk"]
    assert got.select(sel).exceptAll(want.select(sel)).count() == 0
    assert want.select(sel).exceptAll(got.select(sel)).count() == 0


# --------------------------------------------------------------------------
# corpus-size-adaptive nlist (the FAISS sqrt-n rule, enforced not documented)
# --------------------------------------------------------------------------


def test_auto_nlist_sqrt_rule_values():
    from nocouncil_etl_spark.operators.kmeans import MAX_CENTROIDS

    assert ki.auto_nlist(0) == ki.MIN_NLIST
    assert ki.auto_nlist(64) == ki.MIN_NLIST          # floor region
    assert ki.auto_nlist(120) == 8
    assert ki.auto_nlist(1_200) == 32
    assert ki.auto_nlist(500_000) == 512              # the SCALE.md incident size
    assert ki.auto_nlist(10**12) == MAX_CENTROIDS     # top clamp


def test_auto_nlist_grows_with_corpus():
    """Property (hypothesis): a 10x corpus gets a strictly larger nlist —
    power-of-two bucketing cannot flatten a 10x (= +1.66 in log2-sqrt)
    step — unless the top clamp binds."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nocouncil_etl_spark.operators.kmeans import MAX_CENTROIDS

    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=ki.MIN_NLIST**2 + 1, max_value=10**10))
    def prop(n):
        small, big = ki.auto_nlist(n), ki.auto_nlist(10 * n)
        assert big >= 2 * small or big == MAX_CENTROIDS
        assert ki.MIN_NLIST <= small <= big <= MAX_CENTROIDS

    prop()


def test_kidx_auto_publish_pins_resolved_k(vecs, tmp_path):
    """k=None: build sizes nlist from the corpus count, manifest records
    the resolved k + auto flag, and search over the artifact works."""
    path = str(tmp_path / "auto")
    k = ki.publish_kmeans_index(vecs, None, 2, path)
    assert k == ki.auto_nlist(120) == 8
    mf = ca.read_manifest(path)
    assert mf["k"] == 8 and mf["auto"] is True
    hits = ki.search_kmeans_index(
        vecs.filter(F.col("vec_id") % 30 == 0), path, nprobe=2, topk=3
    ).collect()
    assert hits and all(r.rk <= 3 and r.q_id != r.c_id for r in hits)


def test_kidx_auto_10x_corpus_gets_larger_nlist(spark, tmp_path):
    """End-to-end: publishing the 10x corpus auto-sizes a larger cell
    count (8 -> 32), turning SCALE.md's 'nlist must track corpus size'
    reading into enforced build behavior."""
    rng = np.random.default_rng(7)
    mk = lambda n: spark.createDataFrame(
        [(i, [float(round(x, 6)) for x in rng.standard_normal(8)]) for i in range(n)],
        "vec_id long, v array<double>",
    )
    k_small = ki.publish_kmeans_index(mk(120), None, 1, str(tmp_path / "s"))
    k_big = ki.publish_kmeans_index(mk(1200), None, 1, str(tmp_path / "b"))
    assert k_small == 8 and k_big == 32


def test_kidx_auto_warm_serve_never_trains(vecs, tmp_path, monkeypatch):
    """Warm auto-serve validates via the manifest auto flag + fingerprint
    (same corpus => same count => same auto_nlist) — no recount, no
    retrain."""
    path = str(tmp_path / "autowarm")
    ki.serve_kmeans_index(vecs, None, 2, path)

    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("kmeans_fit ran on the warm auto-serve path")

    monkeypatch.setattr(ki, "kmeans_fit", boom)
    stored, ids, cm = ki.serve_kmeans_index(vecs, None, 2, path)
    assert stored.count() == 120
    assert len(ids) == ki.auto_nlist(120)


def test_kidx_auto_serve_rejects_fixed_k_artifact(vecs, tmp_path):
    """An artifact published with an explicit k is NOT a valid auto
    artifact: serving with k=None over it must rebuild (auto flag
    false), and vice-versa a fixed-k serve over an auto artifact with a
    different k rebuilds."""
    path = str(tmp_path / "fixed")
    ki.publish_kmeans_index(vecs, 4, 2, path)
    _, ids, _ = ki.serve_kmeans_index(vecs, None, 2, path)
    assert len(ids) == ki.auto_nlist(120)  # rebuilt under the auto rule
    assert ca.read_manifest(path)["auto"] is True
