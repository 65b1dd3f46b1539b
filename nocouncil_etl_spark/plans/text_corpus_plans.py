"""Corpus-preparation queries (north-star training-data ops, batch 4):
overlapping chunking for embedding/RAG prep, per-source token-budget
sampling, global vocabulary, and TF-IDF term extraction. All pure DataFrame
expressions — tokenization stays in codegen (split/array_remove/transform), the
only shuffles are the keyed aggregations the semantics require.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.plans.retrieval_plans import _TOK_SPARK, _TOK_SQL
from nocouncil_etl_spark.registry import query

CHUNK = 64       # tokens per chunk
OVERLAP = 16     # tokens shared with the previous chunk
STRIDE = CHUNK - OVERLAP


@query(
    "text_chunk_overlap",
    oracle=f"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
c AS (
  SELECT doc_id, w,
         CAST(unnest(range(0, CAST(ceil(greatest(len(w) - {OVERLAP}, 1) / {STRIDE}.0) AS INT))) AS INT) AS chunk_id
  FROM ws
)
SELECT doc_id, chunk_id,
       CAST(len(w[chunk_id * {STRIDE} + 1 : chunk_id * {STRIDE} + {CHUNK}]) AS INT) AS n_tok,
       array_to_string(w[chunk_id * {STRIDE} + 1 : chunk_id * {STRIDE} + {CHUNK}], ' ') AS chunk_text
FROM c
""",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding prep: split each document into {CHUNK}-token chunks with
    {OVERLAP}-token overlap (the chunking in front of every embed step —
    summarize.py chunks transcripts before the LLM for the same reason).
    Per-row expressions after one fan_out: split → sequence of chunk
    starts → explode → slice. The explode's arity is the per-doc chunk
    count (data-dependent), so the fan-out contract applies — one compact
    shuffle of the doc rows buys full-width parallelism for the chunk
    stage (lint: tests/test_catalog_audit.py)."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    n_chunks = F.ceil(
        F.greatest(F.size(w) - F.lit(OVERLAP), F.lit(1)) / F.lit(float(STRIDE))
    ).cast("int")
    chunked = docs.select(
        "doc_id",
        w.alias("w"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice("w", F.col("chunk_id") * STRIDE + 1, CHUNK)
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size(piece).cast("int").alias("n_tok"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


BUDGET = 20_000  # whitespace tokens per source


@query(
    "sample_token_budget",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
  FROM t
)
SELECT doc_id, source, n_tok, cum_tok
FROM c WHERE cum_tok - n_tok < {BUDGET}
""",
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation: take documents per source, in deterministic order, until the
    source's token budget is spent (the 'mix N tokens of each source' recipe
    behind every pretraining data mix). One keyed window cumsum + filter —
    a doc is admitted while the budget has room when it arrives (the
    admitting doc may overshoot; the next one is cut). No global sort, no
    driver state; each source streams independently."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    win = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        t.withColumn("cum_tok", F.sum("n_tok").over(win))
        .filter(F.col("cum_tok") - F.col("n_tok") < BUDGET)
        .select("doc_id", "source", "n_tok", "cum_tok")
    )


VOCAB_K = 200


@query(
    "text_vocab_topk",
    oracle=f"""
WITH tok AS (SELECT unnest({_TOK_SQL}) AS term FROM documents),
counts AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY term)
SELECT term, n, rk FROM (
  SELECT term, n,
         CAST(row_number() OVER (ORDER BY n DESC, term) AS INT) AS rk
  FROM counts
) WHERE rk <= {VOCAB_K}
""",
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: global token frequencies, top {VOCAB_K} (count
    desc, term asc — fully deterministic). explode → map-side-combined
    count → TakeOrdered; one row per distinct term crosses the shuffle,
    never one per token."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(F.expr(_TOK_SPARK)).alias("term"))
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    # orderBy+limit compiles to TakeOrderedAndProject (distributed per-
    # partition top-K, merged on the driver) — NOT a global-order window,
    # which would funnel every distinct term through one partition. The
    # rank is attached afterwards on the K surviving rows only.
    top = counts.orderBy(F.col("n").desc(), F.col("term")).limit(VOCAB_K)
    w = Window.orderBy(F.col("n").desc(), F.col("term"))
    return top.withColumn("rk", F.row_number().over(w).cast("int")).select(
        "term", "n", "rk"
    )


TOP_TERMS = 3


@query(
    "text_tfidf_topterms",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, score, rk FROM (
  SELECT doc_id, term, score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term) AS INT) AS rk
  FROM scored
) WHERE rk <= {TOP_TERMS}
""",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: classic TF-IDF, top {TOP_TERMS} terms per document
    (smoothed idf = ln((N+1)/(df+1)); ties broken by term so both engines
    agree exactly). The df table is term-cardinality-sized → broadcast to
    the tf side; N rides along as a broadcast scalar, not a collect."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(F.expr(_TOK_SPARK)).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df = rows per term in tf (one row per (doc, term)) — a window count
    # over term instead of a second aggregation + join, so the token stream
    # is scanned and aggregated exactly once
    dfw = Window.partitionBy("term")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(dfw))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= TOP_TERMS)
        .select("doc_id", "term", "score", "rk")
    )


RAG_K = 3
_CID_MUL = 10_000  # chunk key = doc_id * 10000 + chunk_id


def _rag_oracle() -> str:
    from nocouncil_etl_spark.operators.models import EMBED_DIM
    from nocouncil_etl_spark.plans.model_plans import _sql_embed_dim

    kernel = ", ".join(_sql_embed_dim(d) for d in range(EMBED_DIM))
    cos = (
        "round(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
    )
    return f"""
WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
c AS (
  SELECT doc_id, w,
         CAST(unnest(range(0, CAST(ceil(greatest(len(w) - {OVERLAP}, 1) / {STRIDE}.0) AS INT))) AS INT) AS chunk_id
  FROM w0
),
ch AS (
  SELECT doc_id, chunk_id, doc_id * {_CID_MUL} + chunk_id AS cid,
         w[chunk_id * {STRIDE} + 1 : chunk_id * {STRIDE} + {CHUNK}] AS ws,
         array_to_string(w[chunk_id * {STRIDE} + 1 : chunk_id * {STRIDE} + {CHUNK}], ' ') AS chunk_text
  FROM c
),
vec AS (SELECT doc_id, chunk_id, cid, chunk_text, [{kernel}] AS rv FROM ch),
emb AS (
  SELECT doc_id, chunk_id, cid, chunk_text,
         list_transform(rv, x -> x / sqrt(list_reduce(list_transform(rv, y -> y * y), (a, b) -> a + b))) AS v
  FROM vec
),
scored AS (
  SELECT a.cid AS q_id, b.cid AS c_id, {cos} AS sim
  FROM (SELECT * FROM emb WHERE doc_id % 100 = 0 AND chunk_id = 0) a
  JOIN (SELECT * FROM emb WHERE doc_id % 100 <> 0) b ON true
),
topk AS (
  SELECT q_id, c_id, sim, rk FROM (
    SELECT q_id, c_id, sim,
           CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INT) AS rk
    FROM scored
  ) WHERE rk <= {RAG_K}
)
SELECT t.q_id, t.c_id, t.sim, t.rk,
       e.doc_id AS c_doc, e.chunk_id AS c_chunk,
       substr(e.chunk_text, 1, 60) AS preview
FROM topk t JOIN emb e ON e.cid = t.c_id
"""


@query("pipeline_rag_e2e", oracle=_rag_oracle())
def pipeline_rag_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship RAG pipeline end-to-end, full-SQL oracle: overlapping
    chunking → per-chunk embedding (REAL Arrow pandas_udf, deterministic
    kernel) → exact blocked-matmul top-{RAG_K} of query chunks against the
    rest of the corpus → broadcast hit-set join back to chunk text for
    context. Query set = first chunk of every 100th document; candidates =
    chunks of all other documents (retrieval never returns the query's own
    document). The 100 TB shape: chunking/embedding are narrow maps, the
    scorer emits per-batch top-k only, and the context join broadcasts
    k·|Q| rows."""
    from nocouncil_etl_spark.operators.models import embed_text_udf
    from nocouncil_etl_spark.operators.similarity import knn_exact_blocked

    docs = fan_out(load(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    n_chunks = F.ceil(
        F.greatest(F.size(w) - F.lit(OVERLAP), F.lit(1)) / F.lit(float(STRIDE))
    ).cast("int")
    piece = F.slice("w", F.col("chunk_id") * STRIDE + 1, CHUNK)
    chunks = (
        docs.select(
            "doc_id",
            w.alias("w"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.col("doc_id") * _CID_MUL + F.col("chunk_id")).alias("cid"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )
    emb = chunks.withColumn("v", embed_text_udf("chunk_text"))
    queries = emb.filter(
        (F.col("doc_id") % 100 == 0) & (F.col("chunk_id") == 0)
    ).select(F.col("cid").alias("q_id"), F.col("v").alias("q_vec"))
    corpus = emb.filter(F.col("doc_id") % 100 != 0).select(
        F.col("cid").alias("c_id"), F.col("v").alias("c_vec")
    )
    hits = knn_exact_blocked(queries, corpus, RAG_K).select("q_id", "c_id", "sim", "rk")
    context = chunks.select(
        F.col("cid").alias("c_id"),
        F.col("doc_id").alias("c_doc"),
        F.col("chunk_id").alias("c_chunk"),
        F.substring("chunk_text", 1, 60).alias("preview"),
    )
    return context.join(F.broadcast(hits), "c_id").select(
        "q_id", "c_id", "sim", "rk", "c_doc", "c_chunk", "preview"
    )
