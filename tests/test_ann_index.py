"""Materialized ANN index (operators/ann_index.py): the artifact is
write-once — query-time plans scan the parquet index and recompute NO
signatures or centroids on the corpus side — and incremental upserts index
only the incoming batch with keep-latest semantics.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from nocouncil_etl_spark.operators.ann_index import (
    build_centroids,
    index_vectors,
    knn_from_index,
    publish_vector_index,
    read_vector_index,
    upsert_vector_index,
)
from nocouncil_etl_spark.operators.similarity import knn_lsh


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def corpus(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(round(x, 6)) for x in rng.standard_normal(64)])
        for i in range(300)
    ]
    return spark.createDataFrame(rows, "c_id long, c_vec array<double>").cache()


@pytest.fixture(scope="module")
def artifact(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("annidx") / "v1")
    publish_vector_index(index_vectors(corpus, "c_id", "c_vec"), path)
    return path


def _queries(corpus):
    return corpus.filter(F.col("c_id") % 50 == 0).select(
        F.col("c_id").alias("q_id"), F.col("c_vec").alias("q_vec")
    )


def test_index_search_matches_corpus_side_lsh(spark, corpus, artifact):
    """Same results as knn_lsh over the raw corpus — the index only moves
    WHERE the signatures are computed, never what they are."""
    idx, cent = read_vector_index(spark, artifact)
    got = {
        (r.q_id, r.rk): (r.c_id, r.sim)
        for r in knn_from_index(_queries(corpus), idx, cent, 5, "lsh").collect()
    }
    want = {
        (r.q_id, r.rk): (r.c_id, r.sim)
        for r in knn_lsh(_queries(corpus), corpus, 5).collect()
    }
    assert got == want and got


def test_index_plan_has_no_corpus_side_signature_udf(spark, corpus, artifact):
    """The read-side plan scans the index parquet and the only Python eval
    is the blocked SCORING kernel (r12): exactly one MapInPandas per
    strategy, fed directly by the index scan — the query side's signature
    pass runs at plan-construction time (bounded collect) and never
    re-signs the corpus. No ArrowEvalPython anywhere — the UDF-expression
    form would be double-evaluated around the join's isnotnull filter."""
    idx, cent = read_vector_index(spark, artifact)
    q = _queries(corpus)

    lsh_plan = _plan(knn_from_index(q, idx, cent, 5, "lsh"))
    assert lsh_plan.count(") MapInPandas") == 1
    assert "ArrowEvalPython" not in lsh_plan
    assert "Scan parquet" in lsh_plan

    ivf_plan = _plan(knn_from_index(q, idx, cent, 5, "ivf"))
    assert ivf_plan.count(") MapInPandas") == 1
    assert "ArrowEvalPython" not in ivf_plan
    assert "Scan parquet" in ivf_plan


def test_index_scan_prunes_unused_columns(spark, corpus, artifact):
    """Column pruning reaches the index scan: the lsh path must not read
    the multi-table `buckets` array (the widest column) — and since r12's
    blocked kernel folds norms itself, the stored `norm` column is pruned
    too; only (bucket, id, vec) leave parquet."""
    idx, cent = read_vector_index(spark, artifact)
    plan = _plan(knn_from_index(_queries(corpus), idx, cent, 5, "lsh"))
    scan = next(
        block
        for block in plan.split("\n\n")
        if "Scan parquet" in block and "ReadSchema" in block
    )
    schema_line = next(ln for ln in scan.splitlines() if "ReadSchema" in ln)
    assert "buckets" not in schema_line
    assert "norm" not in schema_line
    assert "bucket" in schema_line and "vec" in schema_line


def test_upsert_indexes_only_incoming_and_keeps_latest(spark, corpus, artifact):
    """Upsert: new ids appear, replaced ids take the newest vector, untouched
    rows keep their original signature columns — and search over the merged
    index finds the planted near-duplicate of a query vector."""
    idx, cent = read_vector_index(spark, artifact)

    # vec 0 gets a near-identical twin at id 9000; id 5 gets replaced
    base = {r.c_id: r.c_vec for r in corpus.filter(F.col("c_id").isin(0, 5)).collect()}
    twin = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base[0])]
    incoming = spark.createDataFrame(
        [(9000, twin), (5, base[0])], "c_id long, c_vec array<double>"
    )
    merged = upsert_vector_index(idx, incoming, "c_id", "c_vec", version=1)

    assert merged.count() == 301  # 300 originals + 1 new, id 5 replaced
    v5 = merged.filter(F.col("id") == 5).first()
    assert v5.version == 1 and v5.vec == base[0]
    untouched = merged.filter(F.col("id") == 7).first()
    assert untouched.version == 0

    q = spark.createDataFrame([(0, base[0])], "q_id long, q_vec array<double>")
    hits = knn_from_index(q, merged, build_centroids(merged), 5, "lsh").collect()
    assert 9000 in {r.c_id for r in hits}  # the twin shares the bucket → found
    top = min(hits, key=lambda r: r.rk)
    assert top.sim >= 0.999


def test_streaming_upsert_into_published_index(spark, corpus, artifact, tmp_path):
    """The cron ship-to-serving loop as a stream: micro-batches of new
    vectors upsert into the PUBLISHED artifact via foreachBatch (only the
    incoming batch is signed), republishing each epoch; a search against the
    final artifact finds the streamed-in twin of a query vector."""
    import shutil

    from pyspark.sql import functions as F

    live = str(tmp_path / "live")
    shutil.copytree(artifact, live)

    base = corpus.filter(F.col("c_id") == 0).first().c_vec
    twin = [x + (0.0005 if i == 0 else 0.0) for i, x in enumerate(base)]
    src = str(tmp_path / "incoming")
    spark.createDataFrame(
        [(9100, twin)], "c_id long, c_vec array<double>"
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("c_id long, c_vec array<double>").parquet(src)

    def upsert(batch, epoch_id):
        s = batch.sparkSession
        idx, _ = read_vector_index(s, live)
        merged = upsert_vector_index(idx, batch, "c_id", "c_vec", version=epoch_id + 1)
        # stage then swap: never overwrite the artifact being read
        publish_vector_index(merged, live + "_next")
        shutil.rmtree(live)
        shutil.move(live + "_next", live)

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    idx, cent = read_vector_index(spark, live)
    assert idx.count() == 301
    queries = spark.createDataFrame([(0, base)], "q_id long, q_vec array<double>")
    hits = knn_from_index(queries, idx, cent, 5, "lsh").collect()
    assert 9100 in {r.c_id for r in hits}


def test_unknown_strategy_and_missing_sidecar_rejected(spark, corpus, artifact):
    idx, cent = read_vector_index(spark, artifact)
    with pytest.raises(ValueError, match="unknown index strategy"):
        knn_from_index(_queries(corpus), idx, cent, 5, "hnsw")
    with pytest.raises(ValueError, match="centroids sidecar"):
        knn_from_index(_queries(corpus), idx, None, 5, "ivf")


def _artifact_files(path: str) -> dict[str, float]:
    import os

    out = {}
    for root, _, files in os.walk(f"{path}/index"):
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
    return out


def test_serve_publishes_once_then_reads_artifact(spark, corpus, tmp_path):
    """serve_vector_index is the nightly-build/serve split: the first call
    writes the artifact + manifest; the second call leaves every index file
    untouched (manifest fingerprint matches) and returns identical results;
    a changed corpus invalidates the manifest and triggers a republish."""
    from nocouncil_etl_spark.operators.ann_index import serve_vector_index

    path = str(tmp_path / "serve")
    idx1, cent1 = serve_vector_index(corpus, path, "c_id", "c_vec")
    files1 = _artifact_files(path)
    assert files1, "first call must publish the index parquet"

    idx2, _ = serve_vector_index(corpus, path, "c_id", "c_vec")
    assert _artifact_files(path) == files1  # byte-identical artifact reuse
    assert sorted(map(tuple, idx1.select("id", "bucket").collect())) == sorted(
        map(tuple, idx2.select("id", "bucket").collect())
    )

    grown = corpus.unionByName(
        corpus.limit(1).select((F.col("c_id") + 10_000).alias("c_id"), "c_vec")
    )
    serve_vector_index(grown, path, "c_id", "c_vec")
    assert _artifact_files(path) != files1  # stale manifest → republished


def test_plain_publish_onto_served_path_invalidates_manifest(
    spark, corpus, tmp_path
):
    """publish_vector_index (Engine.build_index) over a served path must
    not leave the served corpus's manifest blessing its data: the next
    serve of the original corpus republishes and returns every row."""
    from nocouncil_etl_spark.operators.ann_index import serve_vector_index

    a = corpus.filter(F.col("c_id") < 200)
    path = str(tmp_path / "served")
    serve_vector_index(a, path, "c_id", "c_vec")
    publish_vector_index(
        index_vectors(a.filter(F.col("c_id") < 100), "c_id", "c_vec"), path
    )
    idx, _ = serve_vector_index(a, path, "c_id", "c_vec")
    assert idx.count() == 200


def test_filtered_search_pushes_predicate_into_index_scan(spark, corpus, tmp_path):
    """Hybrid filtered ANN: metadata carried in the artifact (meta_cols) lets
    the predicate reach the index parquet scan as a pushed filter — no join
    back to the corpus — and every candidate obeys the predicate."""
    from nocouncil_etl_spark.operators.ann_index import serve_vector_index

    labeled = corpus.withColumn("label", (F.col("c_id") % 3).cast("int"))
    path = str(tmp_path / "meta")
    idx, cent = serve_vector_index(
        labeled, path, "c_id", "c_vec", meta_cols=("label",)
    )
    assert "label" in idx.columns

    hits_df = knn_from_index(
        _queries(corpus), idx.filter(F.col("label") == 0), cent, 5, "lsh"
    )
    plan = _plan(hits_df)
    scan = next(
        block
        for block in plan.split("\n\n")
        if "Scan parquet" in block and "label" in block
    )
    pushed = next(ln for ln in scan.splitlines() if "PushedFilters" in ln)
    assert "label" in pushed  # predicate reached the parquet reader

    got = {r.c_id for r in hits_df.collect()}
    allowed = {r.id for r in idx.filter(F.col("label") == 0).select("id").collect()}
    assert got and got <= allowed


def test_upsert_preserves_meta_cols(spark, corpus, tmp_path):
    """Metadata columns survive incremental growth: upsert with meta_cols
    keeps the carried columns for old rows and attaches them for new ones."""
    from nocouncil_etl_spark.operators.ann_index import serve_vector_index

    labeled = corpus.withColumn("label", (F.col("c_id") % 3).cast("int"))
    idx, _ = serve_vector_index(
        labeled, str(tmp_path / "m2"), "c_id", "c_vec", meta_cols=("label",)
    )
    incoming = spark.createDataFrame(
        [(9001, [0.5] * 64, 2)], "c_id long, c_vec array<double>, label int"
    )
    merged = upsert_vector_index(
        idx, incoming, "c_id", "c_vec", version=1, meta_cols=("label",)
    )
    assert merged.filter(F.col("id") == 9001).first().label == 2
    assert merged.filter(F.col("id") == 7).first().label == 7 % 3


def test_ivf_upsert_then_search_matches_full_rebuild(spark, corpus, tmp_path):
    """IVF path parity after incremental growth: publish index(A), upsert
    batch B (only B is signed), rebuild the centroid sidecar from the
    PUBLISHED merged index, search with strategy='ivf' — results must be
    row-identical to a from-scratch full build over A∪B. Holds because the
    coarse quantizer is data-independent (cell membership never moves) and
    build_centroids is decimal-exact, hence partition/order-independent."""
    a = corpus.filter(F.col("c_id") < 200)
    b = corpus.filter(F.col("c_id") >= 200)
    path = str(tmp_path / "ivf_upsert")

    idx_a, _ = publish_vector_index(index_vectors(a, "c_id", "c_vec"), path)
    merged = upsert_vector_index(idx_a, b, "c_id", "c_vec", version=1)
    merged.write.mode("overwrite").parquet(f"{path}/index_v2")
    stored = spark.read.parquet(f"{path}/index_v2")
    cent_inc = build_centroids(stored)

    full = index_vectors(corpus, "c_id", "c_vec")
    cent_full = build_centroids(full)
    # sidecar parity: rebuilt-from-upsert == built-from-scratch
    assert cent_inc.exceptAll(cent_full).count() == 0
    assert cent_full.exceptAll(cent_inc).count() == 0

    q = _queries(corpus)
    got = knn_from_index(q, stored, cent_inc, k=5, strategy="ivf")
    want = knn_from_index(q, full, cent_full, k=5, strategy="ivf")
    sel = ["q_id", "c_id", "sim", "rk"]
    assert got.select(sel).exceptAll(want.select(sel)).count() == 0
    assert want.select(sel).exceptAll(got.select(sel)).count() == 0
