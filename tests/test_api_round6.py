"""Round-6 Engine facade verbs: each routes to the SAME kernel its
oracle-checked catalog twin runs (the shared-operator contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nocouncil_etl_spark.api import Engine
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import load_all

REG = load_all()


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark)


def test_salted_near_duplicates_matches_unsalted(eng, spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plain = eng.near_duplicates(docs, "doc_id", "text")
    salted = eng.near_duplicates(docs, "doc_id", "text", n_salt=8)
    try:
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0
    finally:
        plain.unpersist()
        salted.unpersist()


def test_grid_quantile_normalize_matches_catalog_twin(eng, spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    mine = eng.quantile_normalize(docs, "doc_id", "n_chars", "source", n_grid=64)
    twin = REG["curation_quantile_normalize_grid"].fn(spark, sf_dir)
    cols = ["doc_id", "source", "orig", "grid_q", "normalized"]
    assert mine.select(cols).exceptAll(twin.select(cols)).count() == 0
    assert twin.select(cols).exceptAll(mine.select(cols)).count() == 0


def test_semantic_dedup_artifact_serves_without_retraining(
    eng, spark, tmp_path, monkeypatch
):
    import numpy as np

    rng = np.random.default_rng(5)
    df = spark.createDataFrame(
        [(i, [float(round(x, 6)) for x in rng.standard_normal(16)])
         for i in range(80)],
        "id long, vec array<double>",
    ).cache()
    path = str(tmp_path / "sem")
    a = eng.semantic_dedup(df, "id", "vec", k=4, iters=2, threshold=0.5,
                           artifact_path=path).collect()

    from nocouncil_etl_spark.operators import centroid_artifact as ca

    def boom(*args, **kw):  # pragma: no cover
        raise AssertionError("retrained on the warm facade path")

    monkeypatch.setattr(ca, "kmeans_fit", boom)
    b = eng.semantic_dedup(df, "id", "vec", k=4, iters=2, threshold=0.5,
                           artifact_path=path).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_kmeans_index_facade_roundtrip(eng, spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(6)
    corpus = spark.createDataFrame(
        [(i, [float(round(x, 6)) for x in rng.standard_normal(16)])
         for i in range(120)],
        "vec_id long, v array<double>",
    ).cache()
    path = str(tmp_path / "kidx")
    eng.build_kmeans_index(corpus, path, k=4, iters=2)
    stored, ids, cm = eng.serve_kmeans_index(corpus, path, k=4, iters=2)
    assert stored.count() == 120 and len(ids) == 4

    eng.upsert_kmeans_index(
        spark.createDataFrame(
            [(500, [0.25] * 16)], "vec_id long, v array<double>"
        ),
        path,
    )
    hits = eng.search_kmeans_index(
        corpus.filter(F.col("vec_id") % 40 == 0), path, nprobe=2, k=3
    )
    rows = hits.collect()
    assert rows and all(r.rk <= 3 and r.q_id != r.c_id for r in rows)
    # the upserted vector is findable
    assert eng.search_kmeans_index(
        spark.createDataFrame([(501, [0.25] * 16)], "vec_id long, v array<double>"),
        path, nprobe=4, k=1,
    ).first().c_id == 500


def test_kmeans_index_upsert_invalidates_served_manifest(eng, spark, tmp_path):
    """An upsert appends rows the published fingerprint does not describe:
    a later serve of the pre-append corpus must rebuild and return that
    corpus's 80 rows, not the 120 of the grown index."""
    import numpy as np

    rng = np.random.default_rng(7)
    corpus = spark.createDataFrame(
        [(i, [float(round(x, 6)) for x in rng.standard_normal(16)])
         for i in range(120)],
        "vec_id long, v array<double>",
    ).cache()
    a = corpus.filter(F.col("vec_id") < 80)
    path = str(tmp_path / "kidx_upsert")
    eng.build_kmeans_index(a, path, k=4, iters=2)
    eng.upsert_kmeans_index(corpus.filter(F.col("vec_id") >= 80), path)
    stored, _, _ = eng.serve_kmeans_index(a, path, k=4, iters=2)
    assert stored.count() == 80
