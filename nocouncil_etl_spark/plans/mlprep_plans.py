"""ML-preparation batch: the feature/serving-side operators between a
curated corpus and a trained model.

- ``search_mmr_rerank`` — Maximal Marginal Relevance (Carbonell &
  Goldstein, 1998): greedy diversified re-ranking of the dense top-N
  candidate list. Pure relevance ranking returns near-duplicates next to
  each other (exactly what a dedup'd RAG context must avoid); MMR picks
  argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s) one slot at a time. The
  oracle unrolls each greedy step as a CTE — the same technique that
  makes PageRank/k-means exactly checkable, applied to a greedy selection.
- ``ml_feature_hashing`` — the hashing trick (Weinberger et al., 2009):
  text → fixed-width sparse feature triples via signed md5 bucketing. The
  vectorizer that needs no vocabulary shuffle — the feature space is
  chosen, not data-sized, so the encoder is stateless at 100 TB.
- ``ml_target_encode_oof`` — out-of-fold target (mean) encoding for a
  categorical feature: each fold's encoding averages only the OTHER
  folds' labels (the standard leakage guard), folds assigned by portable
  md5. Distributed shape: one (category, fold) hash-agg, then pure
  difference arithmetic — no per-row second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.operators.fusion import mmr_rerank
from nocouncil_etl_spark.plans.retrieval_plans import _TOK_SPARK, _TOK_SQL
from nocouncil_etl_spark.registry import query

# ---- MMR ------------------------------------------------------------------

CAND_N = 20
MMR_K = 5
LAM = 0.7

_COS6 = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)


def _mmr_oracle() -> str:
    cos_q = _COS6.format(a="e.v", b="q.qv")
    cos_ab = _COS6.format(a="a.v", b="b.v")
    cte = [f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cand AS (
  SELECT vec_id, v, {cos_q} AS rel
  FROM e CROSS JOIN q
  ORDER BY rel DESC, vec_id LIMIT {CAND_N}
),
sims AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, {cos_ab} AS s
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
sel1 AS (
  SELECT vec_id, CAST(1 AS BIGINT) AS pick_rank, rel
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1
)"""]
    for k in range(2, MMR_K + 1):
        cte.append(f""",
pick{k} AS (
  SELECT c.vec_id, CAST({k} AS BIGINT) AS pick_rank, c.rel
  FROM cand c
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})
  ORDER BY round({LAM} * c.rel - {round(1 - LAM, 10)} * (
           SELECT max(s.s) FROM sims s
           JOIN sel{k - 1} t ON s.ib = t.vec_id
           WHERE s.ia = c.vec_id), 6) DESC, c.vec_id
  LIMIT 1
),
sel{k} AS (SELECT * FROM sel{k - 1} UNION ALL SELECT * FROM pick{k})""")
    cte.append(f"""
SELECT vec_id, pick_rank, rel FROM sel{MMR_K}""")
    return "".join(cte)


@query("search_mmr_rerank", oracle=_mmr_oracle())
def search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-{MMR_K} from the dense top-{CAND_N} candidates
    (cosine to the fixed query vector, vec_id 0): slot 1 = most relevant;
    each later slot maximizes round(λ·rel − (1−λ)·max sim to already
    selected, 6) with λ={LAM}, ties → smallest id. All similarities are
    6dp-rounded before comparison, so the greedy path is identical on both
    engines; the oracle replays every step as an unrolled CTE.

    Scale shape: candidate GENERATION is the scalable stage (here one
    narrow scan vs a 1-row broadcast query; at index scale,
    vec_knn_from_index) — MMR itself is a serving-time loop over a chosen
    {CAND_N}-row list with an O({CAND_N}²) sim table; per-step work is
    constant-bounded DataFrame ops, never a corpus pass."""
    e = load(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return mmr_rerank(e, qv, "vec_id", "embedding", CAND_N, MMR_K, LAM)


# ---- feature hashing ------------------------------------------------------

FH_DIM = 32


@query(
    "ml_feature_hashing",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
hashed AS (
  SELECT doc_id,
         ('0x' || substring(md5(term), 1, 15))::BIGINT % {FH_DIM} AS bucket,
         CASE WHEN ('0x' || substring(md5('sgn|' || term), 1, 15))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM tok
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, CAST(sum(sgn) AS BIGINT) AS w
FROM hashed GROUP BY doc_id, bucket HAVING sum(sgn) <> 0
""",
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: every token maps to one of {FH_DIM} feature
    buckets by md5 (the engine's portable hash discipline) with a ±1 sign
    from an independently salted hash — the sign makes collisions cancel
    in expectation (Weinberger et al., 2009). Emits the sparse feature
    triples (doc_id, bucket, weight), zero-weight collisions dropped on
    both engines.

    Scale shape: a stateless narrow map + one (doc, bucket) combine-agg —
    the encoder needs NO vocabulary pass, no broadcast state, and the
    output width is chosen ({FH_DIM}), which is exactly why hashing
    vectorizers are the default for streaming/100 TB featurization."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(F.expr(_TOK_SPARK)).alias("term"))
    h = hash60(F.col("term"))
    hs = hash60(F.concat(F.lit("sgn|"), F.col("term")))
    hashed = tok.select(
        "doc_id",
        (h % FH_DIM).alias("bucket"),
        F.when(hs % 2 == 0, 1).otherwise(-1).alias("sgn"),
    )
    return (
        hashed.groupBy("doc_id", F.col("bucket").cast("long").alias("bucket"))
        .agg(F.sum("sgn").cast("long").alias("w"))
        .filter(F.col("w") != 0)
    )


# ---- out-of-fold target encoding -----------------------------------------

N_FOLDS = 5


@query(
    "ml_target_encode_oof",
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority AS category,
         ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
           % {N_FOLDS} AS fold,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
per_fold AS (
  SELECT category, fold, CAST(count(*) AS BIGINT) AS n_f,
         CAST(sum(cents) AS BIGINT) AS s_f
  FROM base GROUP BY category, fold
),
per_cat AS (
  SELECT category, CAST(sum(n_f) AS BIGINT) AS n, CAST(sum(s_f) AS BIGINT) AS s
  FROM per_fold GROUP BY category
)
SELECT f.category, CAST(f.fold AS BIGINT) AS fold, f.n_f AS n_fold,
       round((CAST(c.s AS DOUBLE) - f.s_f) / (c.n - f.n_f) / 100.0, 6) AS enc_mean,
       round(CAST(c.s AS DOUBLE) / c.n / 100.0, 6) AS global_mean
FROM per_fold f JOIN per_cat c ON c.category = f.category
""",
)
def ml_target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding of order priority against order value:
    rows hash into {N_FOLDS} folds by portable md5(o_orderkey); the
    encoding served to fold k averages only the other folds' labels —
    (S_cat − S_fold)/(N_cat − N_fold) — the guard that keeps a target
    encoder from leaking each row's own label into its feature. Label
    moments are exact BIGINT cents; the division is the only double,
    rounded 6dp. Emits the (category × fold) encoding table plus the
    global mean (the prior a smoothed variant would blend in).

    Scale shape: ONE hash-agg over (category, fold) — {N_FOLDS}·|cats|
    rows of state — then arithmetic on that tiny table; the encoder table
    broadcasts back to the training join. No per-fold re-scan of the fact
    table (the naive implementation runs {N_FOLDS} passes)."""
    o = load(spark, sf_dir, "orders")
    fold = (
        hash60(F.col("o_orderkey").cast("string"))
        % N_FOLDS
    )
    base = o.select(
        F.col("o_orderpriority").alias("category"),
        fold.alias("fold"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per_fold = base.groupBy("category", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_f"),
        F.sum("cents").cast("long").alias("s_f"),
    )
    per_cat = per_fold.groupBy("category").agg(
        F.sum("n_f").cast("long").alias("n"),
        F.sum("s_f").cast("long").alias("s"),
    )
    j = per_fold.join(F.broadcast(per_cat), "category")
    return j.select(
        "category",
        F.col("fold").cast("long").alias("fold"),
        F.col("n_f").alias("n_fold"),
        F.round(
            (F.col("s").cast("double") - F.col("s_f"))
            / (F.col("n") - F.col("n_f"))
            / 100.0,
            6,
        ).alias("enc_mean"),
        F.round(F.col("s").cast("double") / F.col("n") / 100.0, 6).alias(
            "global_mean"
        ),
    )
