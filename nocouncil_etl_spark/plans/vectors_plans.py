"""Vector / similarity queries (SURVEY.md §2.9 E2-E3, north-star similarity
search). Kernels come from functions/vectors.py and operators/similarity.py;
oracle SQL is generated with the SAME hyperplane/query constants so the LSH
path is fully deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.vectors import cosine, l2_norm
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.operators.centroid_artifact import scratch_path
from nocouncil_etl_spark.operators.similarity import (
    HYPERPLANES,
    HYPERPLANES_MULTI,
    knn_exact,
    knn_exact_blocked,
    knn_ivf_probe,
    knn_lsh,
    knn_lsh_multi,
    knn_partitioned,
)
from nocouncil_etl_spark.registry import query

QUERY_MOD = 100  # vec_id % 100 == 0 → the query set
K = 5

# DuckDB SQL fragments -------------------------------------------------------

_DOT = "list_dot_product(a.v, b.v)"
_COS = f"round({_DOT} / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
_E_DOUBLE = "SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings"


def _planes_sql() -> str:
    """Hyperplanes as DuckDB literal arrays, one row per plane."""
    rows = ",\n    ".join(
        f"({i}, {p}::DOUBLE[])" for i, p in enumerate(HYPERPLANES)
    )
    return f"(VALUES\n    {rows}\n) p(plane_id, plane)"


_BUCKET_SQL = f"""
SELECT e.vec_id, e.label, e.v,
       string_agg(CASE WHEN list_dot_product(e.v, p.plane) >= 0 THEN '1' ELSE '0' END,
                  '' ORDER BY p.plane_id) AS bucket
FROM ({_E_DOUBLE}) e CROSS JOIN {_planes_sql()}
GROUP BY e.vec_id, e.label, e.v
"""


@query(
    "vec_norms",
    oracle=f"""
WITH e AS ({_E_DOUBLE})
SELECT vec_id, round(sqrt(list_dot_product(v, v)), 6) AS l2, round(v[1], 6) AS dim0
FROM e
""",
)
def vec_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: vector norms — verifies the HOF dot-product kernel and that the
    corpus is L2-normalized (reference normalize_embeddings=True at
    vectorize.py:117)."""
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.round(l2_norm("embedding"), 6).alias("l2"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("dim0"),
    )


@query(
    "vec_cosine_pairs",
    oracle=f"""
WITH e AS ({_E_DOUBLE})
SELECT a.vec_id, {_COS} AS cos_next
FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
""",
)
def vec_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: pairwise cosine between consecutive vectors (hnsw:space=cosine at
    vectorize.py:122 — the scoring function, isolated)."""
    e = load(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id"), F.col("embedding").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("vb"))
    return a.join(b, "vec_id").select(
        "vec_id", F.round(cosine("va", "vb"), 6).alias("cos_next")
    )


def _query_corpus(spark: SparkSession, sf_dir: str):
    e = load(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"), "label"
    )
    corpus = e.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"), "label"
    )
    return queries, corpus


_KNN_ORACLE = f"""
WITH e AS ({_E_DOUBLE}),
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id, {_COS} AS sim
  FROM (SELECT * FROM e WHERE vec_id % {QUERY_MOD} = 0) a
  JOIN e b ON a.vec_id <> b.vec_id
)
SELECT q_id, c_id, sim, rk FROM (
  SELECT q_id, c_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {K}
"""


@query("vec_knn_exact", oracle=_KNN_ORACLE)
def vec_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 exact path: brute-force cosine top-k (the correctness baseline the
    HNSW index at vectorize.py:119-123 approximates)."""
    queries, corpus = _query_corpus(spark, sf_dir)
    return knn_exact(queries.drop("label"), corpus.drop("label"), K).select(
        "q_id", "c_id", "sim", "rk"
    )


@query("vec_knn_blocked", oracle=_KNN_ORACLE)
def vec_knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 exact path, blocked-matmul strategy: per-Arrow-batch numpy scoring
    with per-batch top-k pruning before the global window — identical results
    to vec_knn_exact (same oracle), the shape that scales to huge corpora."""
    queries, corpus = _query_corpus(spark, sf_dir)
    return knn_exact_blocked(queries.drop("label"), corpus.drop("label"), K).select(
        "q_id", "c_id", "sim", "rk"
    )


@query(
    "vec_knn_ivf",
    oracle=f"""
WITH e AS ({_E_DOUBLE}),
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id, {_COS} AS sim
  FROM (SELECT * FROM e WHERE vec_id % {QUERY_MOD} = 0) a
  JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT q_id, c_id, sim, rk FROM (
  SELECT q_id, c_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {K}
""",
)
def vec_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 scale path (IVF-style): candidates restricted to the query's coarse
    partition (label = centroid assignment, nprobe=1). The cross join becomes
    an equi join — linear, shuffle-partitioned, skew-safe under AQE."""
    queries, corpus = _query_corpus(spark, sf_dir)
    return knn_partitioned(queries, corpus, K, part_col="label").select(
        "q_id", "c_id", "sim", "rk"
    )


@query(
    "vec_knn_lsh",
    oracle=f"""
WITH b AS ({_BUCKET_SQL}),
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id, {_COS} AS sim
  FROM (SELECT * FROM b WHERE vec_id % {QUERY_MOD} = 0) a
  JOIN b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
)
SELECT q_id, c_id, sim, rk FROM (
  SELECT q_id, c_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {K}
""",
)
def vec_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 approximate path: random-hyperplane LSH buckets (deterministic,
    seed=42) → equi-join on signature → top-k within bucket. The 100 TB
    strategy: bucketing is a narrow map; no quadratic candidate generation."""
    queries, corpus = _query_corpus(spark, sf_dir)
    return knn_lsh(queries.drop("label"), corpus.drop("label"), K).select(
        "q_id", "c_id", "sim", "rk"
    )


def _multi_planes_sql() -> str:
    """All L tables' hyperplanes as one literal relation."""
    rows = ",\n    ".join(
        f"({t}, {pi}, {plane}::DOUBLE[])"
        for t, table in enumerate(HYPERPLANES_MULTI)
        for pi, plane in enumerate(table)
    )
    return f"(VALUES\n    {rows}\n) mp(table_id, plane_id, plane)"


_BUCKET_MULTI_SQL = f"""
SELECT e.vec_id, e.v,
       mp.table_id || '#' ||
       string_agg(CASE WHEN list_dot_product(e.v, mp.plane) >= 0 THEN '1' ELSE '0' END,
                  '' ORDER BY mp.plane_id) AS bucket
FROM ({_E_DOUBLE}) e CROSS JOIN {_multi_planes_sql()}
GROUP BY e.vec_id, e.v, mp.table_id
"""


@query(
    "vec_knn_lsh_multi",
    oracle=f"""
WITH bm AS ({_BUCKET_MULTI_SQL}),
cand AS (
  SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
  FROM (SELECT * FROM bm WHERE vec_id % {QUERY_MOD} = 0) a
  JOIN bm b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
e AS ({_E_DOUBLE}),
scored AS (
  SELECT cand.q_id, cand.c_id, {_COS} AS sim
  FROM cand
  JOIN e a ON a.vec_id = cand.q_id
  JOIN e b ON b.vec_id = cand.c_id
)
SELECT q_id, c_id, sim, rk FROM (
  SELECT q_id, c_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {K}
""",
)
def vec_knn_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 approximate path with OR-amplification: candidates collide in ANY
    of L=4 six-plane signature tables (recall 1-(1-p^6)^4 vs the single
    table's p^8), still a bucketed equi-join per table — the recall knob
    that keeps the 100 TB shape. Measured against exact in SCALE.md."""
    queries, corpus = _query_corpus(spark, sf_dir)
    return knn_lsh_multi(queries.drop("label"), corpus.drop("label"), K).select(
        "q_id", "c_id", "sim", "rk"
    )


@query(
    "vec_knn_ivf_probe2",
    oracle=f"""
WITH e AS ({_E_DOUBLE}),
cexp AS (
  SELECT label, unnest(v) AS x,
         CAST(unnest(range(0, len(v))) AS INT) AS pos
  FROM e
),
cent AS (
  SELECT label, pos,
         round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(x), 6) AS m
  FROM cexp GROUP BY 1, 2
),
centv AS (SELECT label, list(m ORDER BY pos) AS cv FROM cent GROUP BY label),
probes AS (
  SELECT q_id, label FROM (
    SELECT a.vec_id AS q_id, c.label,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.v, c.cv)
                            / (sqrt(list_dot_product(a.v, a.v))
                               * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.label
           ) AS crk
    FROM (SELECT * FROM e WHERE vec_id % {QUERY_MOD} = 0) a CROSS JOIN centv c
  ) WHERE crk <= 2
),
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id, {_COS} AS sim
  FROM (SELECT * FROM e WHERE vec_id % {QUERY_MOD} = 0) a
  JOIN probes p ON p.q_id = a.vec_id
  JOIN e b ON b.label = p.label AND b.vec_id <> a.vec_id
)
SELECT q_id, c_id, sim, rk FROM (
  SELECT q_id, c_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {K}
""",
)
def vec_knn_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 scale path, real IVF probing: per-label centroids (exact decimal
    per-dim means, order-independent), rank labels per query by centroid
    cosine, probe the top 2 — the nprobe knob between knn_partitioned
    (nprobe=1 on the query's own label) and exact search."""
    queries, corpus = _query_corpus(spark, sf_dir)
    return knn_ivf_probe(
        queries.drop("label"), corpus, K, part_col="label", nprobe=2
    ).select("q_id", "c_id", "sim", "rk")


@query("vec_knn_from_index", oracle=f"""
WITH b AS ({_BUCKET_SQL}),
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id, {_COS} AS sim
  FROM (SELECT * FROM b WHERE vec_id % {QUERY_MOD} = 0) a
  JOIN b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
)
SELECT q_id, c_id, sim, rk FROM (
  SELECT q_id, c_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {K}
""")
def vec_knn_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/K4 materialized-index path: build → persist parquet → read → search
    (operators/ann_index.py; the write-once HNSW artifact of
    vectorize.py:119-123 + sample_cron_job.sh:10 ship-to-serving). Query-time
    signatures are computed for the query side only — the index scan carries
    precomputed bucket/norm columns, so results (and the oracle) are
    identical to vec_knn_lsh while the corpus is never re-signed."""
    from nocouncil_etl_spark.operators.ann_index import (
        index_vectors,
        knn_from_index,
        publish_vector_index,
    )

    queries, corpus = _query_corpus(spark, sf_dir)
    path = scratch_path(sf_dir, "vec_index")
    idx, cent = publish_vector_index(
        index_vectors(corpus.drop("label"), "c_id", "c_vec"), path
    )
    return knn_from_index(
        queries.drop("label"), idx, cent, K, strategy="lsh"
    ).select("q_id", "c_id", "sim", "rk")


@query("vec_knn_from_index_ivf", oracle=f"""
WITH b AS ({_BUCKET_SQL}),
cexp AS (
  SELECT bucket AS ivf_part, unnest(v) AS x,
         CAST(unnest(range(0, len(v))) AS INT) AS pos
  FROM b
),
cent AS (
  SELECT ivf_part, pos,
         round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(x), 6) AS m
  FROM cexp GROUP BY 1, 2
),
centv AS (SELECT ivf_part, list(m ORDER BY pos) AS cv FROM cent GROUP BY ivf_part),
probes AS (
  SELECT q_id, ivf_part FROM (
    SELECT a.vec_id AS q_id, c.ivf_part,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.v, c.cv)
                            / (sqrt(list_dot_product(a.v, a.v))
                               * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.ivf_part
           ) AS crk
    FROM (SELECT * FROM b WHERE vec_id % {QUERY_MOD} = 0) a CROSS JOIN centv c
  ) WHERE crk <= 2
),
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id, {_COS} AS sim
  FROM (SELECT * FROM b WHERE vec_id % {QUERY_MOD} = 0) a
  JOIN probes p ON p.q_id = a.vec_id
  JOIN b ON b.bucket = p.ivf_part AND b.vec_id <> a.vec_id
)
SELECT q_id, c_id, sim, rk FROM (
  SELECT q_id, c_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {K}
""")
def vec_knn_from_index_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/K4 materialized-IVF path: the index's coarse cells (ivf_part =
    deterministic LSH signature, so upserts never invalidate assignments)
    plus the persisted centroid sidecar; queries rank cells by centroid
    cosine and probe the top 2. Centroids come from the artifact — no
    centroid recomputation at query time."""
    from nocouncil_etl_spark.operators.ann_index import (
        index_vectors,
        knn_from_index,
        publish_vector_index,
    )

    queries, corpus = _query_corpus(spark, sf_dir)
    path = scratch_path(sf_dir, "vec_index") + "_ivf"
    idx, cent = publish_vector_index(
        index_vectors(corpus.drop("label"), "c_id", "c_vec"), path
    )
    return knn_from_index(
        queries.drop("label"), idx, cent, K, strategy="ivf", nprobe=2
    ).select("q_id", "c_id", "sim", "rk")


@query("vec_knn_index_serve", oracle=f"""
WITH b AS ({_BUCKET_SQL}),
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id, {_COS} AS sim
  FROM (SELECT * FROM b WHERE vec_id % {QUERY_MOD} = 0) a
  JOIN b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
)
SELECT q_id, c_id, sim, rk FROM (
  SELECT q_id, c_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {K}
""")
def vec_knn_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/K4 SERVING path: publish-if-absent against a manifest-validated
    artifact (operators/ann_index.serve_vector_index) — the query-time half
    of the reference's nightly cron (sample_cron_job.sh:10 ships the built
    chroma_db tarball; serving only ever reads it). First call builds; every
    later call is a pure parquet scan + query-side signature, which is the
    number that matters at 100 TB where the corpus is never re-signed.
    Results identical to vec_knn_from_index (same artifact, same oracle)."""
    from nocouncil_etl_spark.operators.ann_index import (
        knn_from_index,
        serve_vector_index,
    )

    queries, corpus = _query_corpus(spark, sf_dir)
    path = scratch_path(sf_dir, "vec_index") + "_serve"
    idx, cent = serve_vector_index(corpus.drop("label"), path, "c_id", "c_vec")
    return knn_from_index(
        queries.drop("label"), idx, cent, K, strategy="lsh"
    ).select("q_id", "c_id", "sim", "rk")


@query("vec_knn_filtered", oracle=f"""
WITH b AS ({_BUCKET_SQL}),
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id, {_COS} AS sim
  FROM (SELECT * FROM b WHERE vec_id % {QUERY_MOD} = 0) a
  JOIN b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
  WHERE b.label < 5
)
SELECT q_id, c_id, sim, rk FROM (
  SELECT q_id, c_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {K}
""")
def vec_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid filtered ANN: metadata predicate + vector search in one pass —
    the 'search only docs where lang=en / source=X' shape every curation
    pipeline needs. The index carries metadata columns (meta_cols), so the
    predicate lands in the index parquet scan as a pushed filter (asserted
    in tests/test_ann_index.py) instead of a join back to the corpus; the
    candidate set shrinks BEFORE any scoring happens."""
    from nocouncil_etl_spark.operators.ann_index import (
        knn_from_index,
        serve_vector_index,
    )

    queries, corpus = _query_corpus(spark, sf_dir)
    idx, cent = serve_vector_index(
        corpus,
        scratch_path(sf_dir, "vec_index") + "_meta",
        "c_id",
        "c_vec",
        meta_cols=("label",),
    )
    return knn_from_index(
        queries.drop("label"), idx.filter(F.col("label") < 5), cent, K, strategy="lsh"
    ).select("q_id", "c_id", "sim", "rk")


@query("vec_search_context", oracle=f"""
WITH b AS ({_BUCKET_SQL}),
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS c_id, {_COS} AS sim
  FROM (SELECT * FROM b WHERE vec_id % {QUERY_MOD} = 0) a
  JOIN b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
topk AS (
  SELECT q_id, c_id, sim, rk FROM (
    SELECT q_id, c_id, sim,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rk
    FROM scored
  ) WHERE rk <= {K}
)
SELECT t.q_id, t.c_id, t.sim, t.rk, d.source, d.lang,
       substr(d.text, 1, 80) AS preview
FROM topk t JOIN documents d ON d.doc_id = t.c_id
""")
def vec_search_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval end-to-end: ANN top-k (LSH) → join neighbor ids back to
    the documents table for context assembly — the serving query of the
    reference's chatbot path (article_vectorize stores document+metadata in
    chroma; a query returns documents, not ids). The context join is a
    broadcast of the TOP-K HITS (k·|queries| rows, tiny) against documents —
    at 100 TB the big side streams, nothing data-sized shuffles."""
    queries, corpus = _query_corpus(spark, sf_dir)
    hits = knn_lsh(queries.drop("label"), corpus.drop("label"), K).select(
        "q_id", "c_id", "sim", "rk"
    )
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("c_id"),
        "source",
        "lang",
        F.substring("text", 1, 80).alias("preview"),
    )
    return docs.join(F.broadcast(hits), "c_id").select(
        "q_id", "c_id", "sim", "rk", "source", "lang", "preview"
    )


@query(
    "vec_neardup_cosine",
    oracle=f"""
WITH e AS ({_E_DOUBLE}),
aug AS (
  SELECT vec_id, label, v FROM e
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, label,
         v[1:63] || [v[64] + 0.1] AS v
  FROM e WHERE vec_id % 5 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS} AS sim
FROM aug a JOIN aug b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_COS} >= 0.99
""",
)
def vec_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star near-dup detection over embeddings: same-label candidate
    pairs with cosine ≥ 0.99. Near-duplicates are synthesized deterministically
    (last dim +0.1 on every 5th vector) so the detector provably fires.

    Work is bounded like the other pair kernels (round-10 verdict #4,
    applied here proactively): label blocks over semantic.PAIR_BLOCK_CAP
    rows split into sign-LSH sub-cells (operators/celling) before the
    per-block matmul, so per-task WORK caps at ~cap² while staying exact
    at every test/bench scale (sf1's largest augmented block ≈ 2.6k rows
    < 4096 → cell id constant 0, oracle untouched)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    perturbed = (
        e.filter(F.col("vec_id") % 5 == 0)
        .select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            "label",
            F.concat(
                F.slice("v", 1, 63),
                F.array(F.element_at("v", 64) + F.lit(0.1)),
            ).alias("v"),
        )
    )
    aug = e.unionByName(perturbed)

    # within-label scoring as one normalized float64 matmul per label
    # (applyInPandas) — the knn_exact_blocked kernel semantics (same
    # Spark-rule rounding); the interpreted per-pair expression cosine
    # ground through |block|^2 pairs one at a time (minutes at sf1)
    import numpy as np
    import pandas as pd

    from nocouncil_etl_spark.operators.similarity import _round6_like_spark

    from nocouncil_etl_spark.operators.semantic import PAIR_TILE_ELEMS

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        m = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        norm = np.linalg.norm(m, axis=1, keepdims=True)
        nm = np.divide(m, norm, out=np.zeros_like(m), where=norm != 0)
        # tile the row side (PAIR_TILE_ELEMS budget): per-task memory stays
        # linear in block size — the sims matrix is tile_rows x n, never n²
        n = len(ids)
        tile = max(1, PAIR_TILE_ELEMS // max(n, 1))
        out_a: list = []
        out_b: list = []
        out_s: list = []
        for t0 in range(0, n, tile):
            t1 = min(t0 + tile, n)
            sims = nm[t0:t1] @ nm.T
            ia, ib, svals = _tile_pairs(sims, ids, t0, t1)
            out_a.extend(ia)
            out_b.extend(ib)
            out_s.extend(svals)
        return pd.DataFrame(
            {
                "id_a": np.array(out_a, dtype=np.int64),
                "id_b": np.array(out_b, dtype=np.int64),
                "sim": np.array(out_s, dtype=np.float64),
            }
        )

    def _tile_pairs(sims, ids, t0, t1):
        # raw pre-filter at threshold - 1e-4: HALF_UP rounding to 6dp moves
        # a value by <= 5e-7, so nothing below 0.9899 can round into 0.99;
        # the exact Spark-rule rounding then runs on the survivors only.
        # Accepted 1-ulp tolerance: normalize-then-matmul orders the float
        # ops differently than the oracle's dot/(|a||b|) expression, so a
        # RAW sim within ~1 ulp of a .5e-7 rounding boundary at the 0.99
        # cutoff could in principle flip inclusion vs DuckDB. No synthetic
        # or sf1 vector has ever sat on that boundary (the correctness
        # sweep covers this query at both SFs); if one ever does, the
        # mismatch is this documented evaluation-order artifact, not a bug.
        # The id-value condition picks each unordered pair exactly once —
        # at whichever tile holds the smaller-id row — so tiling emits no
        # duplicates and misses nothing.
        ia, ib = np.nonzero(
            (sims >= 0.9899) & (ids[t0:t1][:, None] < ids[None, :])
        )
        s = np.array(
            [_round6_like_spark(x) for x in sims[ia, ib]], dtype=np.float64
        )
        keep = s >= 0.99
        return ids[t0 + ia[keep]], ids[ib[keep]], s[keep]

    from nocouncil_etl_spark.operators import semantic
    from nocouncil_etl_spark.operators.celling import subcell_over_cap

    celled = subcell_over_cap(aug, ["label"], "v", semantic.PAIR_BLOCK_CAP)
    return celled.groupBy("label", "_cell").applyInPandas(
        block_pairs, schema="id_a long, id_b long, sim double"
    )
