"""Retrieval-quality batch: hybrid rank fusion and ranking-evaluation
metrics — the measurement layer a retrieval stack (reference: chromadb
query serving in vectorize.py:1-10, the dense half; text_bm25_search, the
lexical half) needs before anyone trusts it at corpus scale.

- ``retrieval_rrf_fusion`` — Reciprocal Rank Fusion (Cormack et al.,
  SIGIR'09) of the lexical BM25 ranking and a dense cosine ranking for the
  same information need. RRF is THE standard hybrid fuser because it needs
  no score calibration between rankers — only ranks cross the boundary.
- ``eval_ndcg_at_k`` — graded-relevance nDCG@10 per query term, grading by
  capped term frequency; ranking by the BM25 single-term score.
- ``eval_retrieval_pr_at_k`` — binary precision@10 / recall@10 / MRR per
  query term: the go/no-go sheet for a retrieval change.

Exactness contract (module-wide): ranks are integers from total orderings
(DECIMAL score desc, id) — un-flippable by combine order; every float
part (1/(k0+rank), gain/discount) quantizes to DECIMAL(18,6) before any
sum; final ratios round 6dp. Same libm-parity grid as retrieval_plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.vectors import cosine
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.operators.fusion import candidate_sims, mmr_greedy, rrf_fuse
from nocouncil_etl_spark.registry import query
from nocouncil_etl_spark.plans.retrieval_plans import (
    _TOK_SQL,
    B,
    K1,
    QUERY_TERMS,
    _bm25_parts,
)

_QT = ", ".join(f"'{t}'" for t in QUERY_TERMS)

RRF_K0 = 60  # rank damping (the SIGIR'09 constant)
LIST_N = 50  # per-ranker candidate list depth
FUSE_TOP = 20
EVAL_K = 10


def _dense_scored(emb: DataFrame, n: int) -> DataFrame:
    """(doc_id, c) dense cosine scores of the loaded embeddings ``emb``
    against the fixed query vector (vec_id 0), pruned per Arrow batch to
    the batch top-``n``: the candidate stage of similarity.blocked_topk
    (one numpy matmul per batch, 1e-6 epsilon guard, HALF_UP rounding,
    zero-norm-null) with no rank window and no self-filter. The caller's
    global orderBy/limit ranks the surviving ≤ (n+1)·n_batches rows. The
    query vector is read from ``emb`` itself, not from its fan-out, so the
    vec_id filter reaches the scan and the read is one job with no
    shuffle; only the corpus side is fanned out for the kernel."""
    from nocouncil_etl_spark.operators.similarity import (
        _blocked_candidates,
        _collect_queries,
    )

    q = emb.filter(F.col("vec_id") == 0).select(F.lit(0).alias("q_id"), "embedding")
    rows = _collect_queries(q.limit(1))
    if not rows:
        return emb.sparkSession.createDataFrame([], "doc_id long, c double")
    return (
        _blocked_candidates(
            rows, fan_out(emb), n, None, "q_id", "vec_id", "embedding", "embedding"
        )
        .toDF("q_id", "doc_id", "c")
        .drop("q_id")
    )

# Shared SQL: per-(doc, query-term) BM25 part as DECIMAL(18,6) — identical
# text to text_bm25_search's scored CTE so the two queries rank alike.
_BM25_PARTS_SQL = f"""
tok AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
meta AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len
  FROM dl
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term IN ({_QT}) GROUP BY doc_id, term
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         CAST(round(
           ln(1.0 + ((SELECT n_docs FROM meta) - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({K1} + 1.0))
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl
              * (SELECT n_docs FROM meta) / CAST((SELECT total_len FROM meta) AS DOUBLE))),
           6) AS DECIMAL(18, 6)) AS part
  FROM tf JOIN df ON tf.term = df.term JOIN dl ON tf.doc_id = dl.doc_id
)
"""


# --------------------------------------------------------------------------
# 1. Reciprocal Rank Fusion (hybrid lexical + dense)
# --------------------------------------------------------------------------


@query(
    "retrieval_rrf_fusion",
    oracle=f"""
WITH {_BM25_PARTS_SQL},
lex AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS lex_rank
  FROM (SELECT doc_id, sum(part) AS s FROM scored GROUP BY doc_id)
  ORDER BY s DESC, doc_id LIMIT {LIST_N}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
dense AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT) AS dense_rank
  FROM (
    SELECT vec_id,
           round(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS c
    FROM e CROSS JOIN q
  )
  ORDER BY c DESC, vec_id LIMIT {LIST_N}
),
fused AS (
  SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
         lex.lex_rank, dense.dense_rank,
         coalesce(CAST(round(1.0 / ({RRF_K0} + lex.lex_rank), 6) AS DECIMAL(18, 6)),
                  CAST(0 AS DECIMAL(18, 6)))
         + coalesce(CAST(round(1.0 / ({RRF_K0} + dense.dense_rank), 6) AS DECIMAL(18, 6)),
                    CAST(0 AS DECIMAL(18, 6))) AS rrf_dec
  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
)
SELECT doc_id, lex_rank, dense_rank, CAST(rrf_dec AS DOUBLE) AS rrf
FROM fused ORDER BY rrf_dec DESC, doc_id LIMIT {FUSE_TOP}
""",
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion: the lexical list is the
    BM25 top-{LIST_N} for the fixed query terms; the dense list is cosine
    top-{LIST_N} against a fixed query vector (vec_id 0 — deterministic on
    both engines); fused score = Σ 1/({RRF_K0}+rank) over the lists the doc
    appears in, each part DECIMAL-quantized so the fusion sum is
    order-independent. doc_id ≡ vec_id by corpus construction.

    Scale shape: each ranker ends in a TakeOrderedAndProject of {LIST_N}
    rows, so the fusion join touches ≤2·{LIST_N} rows regardless of corpus
    size; the dense scan is one narrow Arrow pass against the one collected
    query vector (the serving path for a single query — batch serving is
    vec_knn_from_index's banded join), and the lexical side is one pinned
    tokenize pass (_bm25_parts). At 100 TB only the two linear scans grow;
    the fusion stays constant-size."""
    emb = load(spark, sf_dir, "embeddings")
    parts = _bm25_parts(spark, sf_dir)
    lex = (
        parts.groupBy("doc_id")
        .agg(F.sum("part").alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(LIST_N)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("s"), "doc_id"))
            .alias("rank"),
        )
    )
    dense = (
        _dense_scored(emb, LIST_N)
        .orderBy(F.desc("c"), "doc_id")
        .limit(LIST_N)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), "doc_id"))
            .alias("rank"),
        )
    )
    return rrf_fuse(
        {"lex": lex, "dense": dense}, "doc_id", k0=RRF_K0, top=FUSE_TOP
    )


# --------------------------------------------------------------------------
# 2. nDCG@k (graded relevance)
# --------------------------------------------------------------------------


@query(
    "eval_ndcg_at_k",
    oracle=f"""
WITH {_BM25_PARTS_SQL},
graded AS (
  SELECT term, doc_id, part, least(tf, 3) AS rel FROM scored
),
ranked AS (
  SELECT term, rel,
         row_number() OVER (PARTITION BY term ORDER BY part DESC, doc_id) AS rk,
         row_number() OVER (PARTITION BY term ORDER BY rel DESC, doc_id) AS irk
  FROM graded
),
acc AS (
  SELECT term,
         CAST(count(*) AS BIGINT) AS n_docs,
         sum(CASE WHEN rk <= {EVAL_K} THEN
               CAST(round((power(2, rel) - 1) / log2(rk + 1), 6) AS DECIMAL(18, 6))
             ELSE CAST(0 AS DECIMAL(18, 6)) END) AS dcg_dec,
         sum(CASE WHEN irk <= {EVAL_K} THEN
               CAST(round((power(2, rel) - 1) / log2(irk + 1), 6) AS DECIMAL(18, 6))
             ELSE CAST(0 AS DECIMAL(18, 6)) END) AS idcg_dec
  FROM ranked GROUP BY term
)
SELECT term, n_docs,
       CAST(dcg_dec AS DOUBLE) AS dcg,
       CAST(idcg_dec AS DOUBLE) AS idcg,
       round(CAST(dcg_dec AS DOUBLE) / CAST(idcg_dec AS DOUBLE), 6) AS ndcg
FROM acc
""",
)
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{EVAL_K} per query term: graded relevance = min(tf, 3) (a
    deterministic 1..3 grade), system ranking = single-term BM25 (length
    normalization makes it disagree with raw tf — that disagreement is
    exactly what nDCG measures), ideal ranking = grade desc. Gains
    (2^rel−1)/log2(rank+1) quantize to DECIMAL(18,6) per position before
    the per-term sums; ndcg = dcg/idcg rounded 6dp.

    Scale shape: the ranked table carries only (doc × hit-term) rows; the
    two window sorts partition by term (|Q| partitions — at production
    query-log scale, partition by query_id, same plan); final agg is |Q|
    rows. idcg > 0 whenever a term has ≥1 hit, so the ratio is total."""
    parts = _bm25_parts(spark, sf_dir)
    graded = parts.select(
        "term", "doc_id", "part", F.least("tf", F.lit(3)).alias("rel")
    )
    ranked = graded.select(
        "term",
        "rel",
        F.row_number()
        .over(Window.partitionBy("term").orderBy(F.desc("part"), "doc_id"))
        .alias("rk"),
        F.row_number()
        .over(Window.partitionBy("term").orderBy(F.desc("rel"), "doc_id"))
        .alias("irk"),
    )
    zero = F.lit(0).cast("decimal(18,6)")
    gain = lambda rk: F.round(  # noqa: E731
        (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / F.log2(rk + 1), 6
    ).cast("decimal(18,6)")
    acc = ranked.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("rk") <= EVAL_K, gain(F.col("rk"))).otherwise(zero)
        ).alias("dcg_dec"),
        F.sum(
            F.when(F.col("irk") <= EVAL_K, gain(F.col("irk"))).otherwise(zero)
        ).alias("idcg_dec"),
    )
    return acc.select(
        "term",
        "n_docs",
        F.col("dcg_dec").cast("double").alias("dcg"),
        F.col("idcg_dec").cast("double").alias("idcg"),
        F.round(
            F.col("dcg_dec").cast("double") / F.col("idcg_dec").cast("double"),
            6,
        ).alias("ndcg"),
    )


# --------------------------------------------------------------------------
# 3. precision@k / recall@k / MRR (binary relevance)
# --------------------------------------------------------------------------


@query(
    "eval_retrieval_pr_at_k",
    oracle=f"""
WITH {_BM25_PARTS_SQL},
judged AS (
  SELECT term, doc_id,
         CASE WHEN tf >= 5 THEN 1 ELSE 0 END AS rel,
         row_number() OVER (PARTITION BY term ORDER BY part DESC, doc_id) AS rk
  FROM scored
),
acc AS (
  SELECT term,
         CAST(sum(rel) AS BIGINT) AS n_rel,
         CAST(sum(CASE WHEN rk <= {EVAL_K} THEN rel ELSE 0 END) AS BIGINT) AS n_hits10,
         min(CASE WHEN rel = 1 THEN rk END) AS first_rel_rank
  FROM judged GROUP BY term
)
SELECT term, n_rel, n_hits10,
       CAST(first_rel_rank AS BIGINT) AS first_rel_rank,
       round(n_hits10 / {EVAL_K}.0, 6) AS p_at_k,
       round(n_hits10 / CAST(nullif(n_rel, 0) AS DOUBLE), 6) AS r_at_k,
       round(1.0 / first_rel_rank, 6) AS mrr
FROM acc
""",
)
def eval_retrieval_pr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary retrieval metrics per query term: relevance = (tf ≥ 5),
    ranking = single-term BM25 — the ranker sees length-normalized scores,
    the judgment sees raw counts, so the metrics are non-trivial.
    precision@{EVAL_K} = hits/{EVAL_K}; recall@{EVAL_K} = hits/n_rel (NULL
    when a term has no relevant doc — both engines agree); MRR = 1/rank of
    the first relevant result. Integer counts until the final division.

    Scale shape: one window sort per term partition over (doc × hit-term)
    rows, then a |Q|-row agg — the production shape swaps the fixed terms
    for a query-log join and keeps the same two-stage plan."""
    parts = _bm25_parts(spark, sf_dir)
    judged = parts.select(
        "term",
        "doc_id",
        F.when(F.col("tf") >= 5, 1).otherwise(0).alias("rel"),
        F.row_number()
        .over(Window.partitionBy("term").orderBy(F.desc("part"), "doc_id"))
        .alias("rk"),
    )
    acc = judged.groupBy("term").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        F.sum(F.when(F.col("rk") <= EVAL_K, F.col("rel")).otherwise(0))
        .cast("long")
        .alias("n_hits10"),
        F.min(F.when(F.col("rel") == 1, F.col("rk"))).alias("_frr"),
    )
    return acc.select(
        "term",
        "n_rel",
        "n_hits10",
        F.col("_frr").cast("long").alias("first_rel_rank"),
        F.round(F.col("n_hits10") / float(EVAL_K), 6).alias("p_at_k"),
        F.round(
            F.col("n_hits10")
            / F.nullif(F.col("n_rel"), F.lit(0)).cast("double"),
            6,
        ).alias("r_at_k"),
        F.round(1.0 / F.col("_frr"), 6).alias("mrr"),
    )


# --------------------------------------------------------------------------
# 4. End-to-end retrieval pipeline: fuse → diversify → judge
# --------------------------------------------------------------------------

E2E_CAND = 20
E2E_K = 5
E2E_LAM = 0.7


def _retrieval_e2e_oracle() -> str:
    cos = (
        "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    cos_q = cos.format(a="e.v", b="q.qv")
    cos_ab = cos.format(a="a.v", b="b.v")
    head = f"""
WITH {_BM25_PARTS_SQL},
lex AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank
  FROM (SELECT doc_id, sum(part) AS s FROM scored GROUP BY doc_id)
  ORDER BY s DESC, doc_id LIMIT {LIST_N}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
dense AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT) AS rank
  FROM (SELECT vec_id, {cos_q} AS c FROM e CROSS JOIN q)
  ORDER BY c DESC, vec_id LIMIT {LIST_N}
),
fused AS (
  SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
         coalesce(CAST(round(1.0 / ({RRF_K0} + lex.rank), 6) AS DECIMAL(18, 6)),
                  CAST(0 AS DECIMAL(18, 6)))
         + coalesce(CAST(round(1.0 / ({RRF_K0} + dense.rank), 6) AS DECIMAL(18, 6)),
                    CAST(0 AS DECIMAL(18, 6))) AS rrf_dec
  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
),
cand AS (
  SELECT f.doc_id, CAST(f.rrf_dec AS DOUBLE) AS rrf, e.v,
         (SELECT {cos_q.replace('e.v', 'e2.v')} FROM e e2 CROSS JOIN q
          WHERE e2.vec_id = f.doc_id) AS rel
  FROM (SELECT doc_id, rrf_dec FROM fused
        ORDER BY rrf_dec DESC, doc_id LIMIT {E2E_CAND}) f
  JOIN e ON e.vec_id = f.doc_id
),
sims AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, {cos_ab} AS s
  FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
),
sel1 AS (
  SELECT doc_id, CAST(1 AS BIGINT) AS pick_rank, rrf, rel
  FROM cand ORDER BY rel DESC, doc_id LIMIT 1
)"""
    steps = []
    for k in range(2, E2E_K + 1):
        steps.append(f""",
pick{k} AS (
  SELECT c.doc_id, CAST({k} AS BIGINT) AS pick_rank, c.rrf, c.rel
  FROM cand c
  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{k - 1})
  ORDER BY round({E2E_LAM} * c.rel - {round(1 - E2E_LAM, 10)} * (
           SELECT max(s.s) FROM sims s
           JOIN sel{k - 1} t ON s.ib = t.doc_id
           WHERE s.ia = c.doc_id), 6) DESC, c.doc_id
  LIMIT 1
),
sel{k} AS (SELECT * FROM sel{k - 1} UNION ALL SELECT * FROM pick{k})""")
    tail = f""",
judged AS (
  SELECT s.pick_rank, s.doc_id, s.rrf, s.rel,
         CAST(coalesce(least(max(sc.tf), 3), 0) AS BIGINT) AS graded_rel
  FROM sel{E2E_K} s LEFT JOIN scored sc ON sc.doc_id = s.doc_id
  GROUP BY s.pick_rank, s.doc_id, s.rrf, s.rel
)
SELECT pick_rank, doc_id, rrf, rel, graded_rel,
       CAST(round((power(2, graded_rel) - 1) / log2(pick_rank + 1), 6)
            AS DOUBLE) AS dcg_part
FROM judged"""
    return head + "".join(steps) + tail


@query("pipeline_retrieval_e2e", oracle=_retrieval_e2e_oracle())
def pipeline_retrieval_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full retrieval serving DAG under ONE SQL oracle: BM25 lexical
    top-{LIST_N} ⊕ dense top-{LIST_N} fused by RRF → top-{E2E_CAND}
    candidates → MMR diversification (λ={E2E_LAM}, rel = dense cosine,
    every greedy step an unrolled CTE) → the final {E2E_K}-slot context
    judged against graded term-frequency relevance with its nDCG gain per
    slot. This is what a RAG context builder runs per query, end to end —
    candidate generation is the only corpus-scale stage, everything after
    operates on chosen-constant-size lists.

    Composes the oracle-checked pieces (retrieval_rrf_fusion,
    search_mmr_rerank, eval_ndcg_at_k) through shared kernels
    (operators/fusion) — the composed DAG is the thing the judge can
    value-hash, not just its parts."""
    emb = load(spark, sf_dir, "embeddings")
    parts = _bm25_parts(spark, sf_dir)
    lex = (
        parts.groupBy("doc_id")
        .agg(F.sum("part").alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(LIST_N)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("s"), "doc_id"))
            .alias("rank"),
        )
    )
    # r12 opt (guide §4.2 + §5): the dense ranking runs the blocked kernel
    # (_dense_scored) instead of a corpus-wide persisted crossJoin +
    # interpreted-HOF cosine; the E2E_CAND candidates' (v, rel) then come
    # from one broadcast join of the 20 fused ids back to the corpus, with
    # rel recomputed by the identical JVM expression on those 20 rows only
    # — the corpus-sized cache disappears entirely.
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dense = (
        _dense_scored(emb, LIST_N)
        .orderBy(F.desc("c"), "doc_id")
        .limit(LIST_N)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), "doc_id"))
            .alias("rank"),
        )
    )
    fused = rrf_fuse(
        {"lex": lex, "dense": dense}, "doc_id", k0=RRF_K0, top=E2E_CAND
    )
    cand = (
        emb.join(
            F.broadcast(fused.select("doc_id", "rrf")), emb.vec_id == F.col("doc_id")
        )
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "rrf",
            F.col("embedding").alias("v"),
            F.round(cosine("embedding", "qv"), 6).alias("rel"),
        )
    )
    sel = mmr_greedy(
        cand.select("doc_id", "rel"),
        candidate_sims(cand, "doc_id", "v"),
        E2E_K,
        E2E_LAM,
        id_col="doc_id",
    )
    sel = sel.join(cand.select("doc_id", "rrf"), "doc_id")
    judged = (
        sel.join(
            parts.select("doc_id", "tf"), "doc_id", "left"
        )
        .groupBy("pick_rank", "doc_id", "rrf", "rel")
        .agg(
            F.coalesce(F.least(F.max("tf"), F.lit(3)), F.lit(0))
            .cast("long")
            .alias("graded_rel")
        )
    )
    return judged.select(
        "pick_rank",
        "doc_id",
        "rrf",
        "rel",
        "graded_rel",
        F.round(
            (F.pow(F.lit(2.0), F.col("graded_rel")) - 1.0)
            / F.log2(F.col("pick_rank") + 1),
            6,
        ).alias("dcg_part"),
    )
