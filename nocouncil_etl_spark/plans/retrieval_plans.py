"""Retrieval & trained-text-classifier batch: BM25 ranking and a
distributedly-trained Naive Bayes language classifier.

- ``text_bm25_search`` — Okapi BM25 (Lucene idf variant) for a fixed
  keyword query over the document corpus: the lexical half of hybrid
  retrieval (``pipeline_rag_e2e`` covers the dense half; production RAG
  fuses both). TF-IDF (text_corpus_plans) ranks terms per document; BM25
  ranks documents per query with length normalization and tf saturation.
- ``model_naive_bayes_lang`` — a multinomial Naive Bayes language
  classifier TRAINED inside the engine (vocabulary selection → per-class
  token counts → smoothed log-likelihoods) and evaluated on the corpus,
  emitting the confusion matrix. The companion to ``eval_lang_id_kappa``:
  that grades a fixed heuristic, this trains the model itself as
  distributed aggregates — the pattern for any bag-of-words scorer at
  100 TB (quality classifiers, topic gates, spam filters).

Exactness contract shared by both: every score is Σ (integer tf) ×
(6dp-quantized DECIMAL log term) — ln() runs on exact rationals (identical
doubles both engines → identical 6dp rounding, the established libm-parity
grid), and DECIMAL sums are combine-order-independent, so a 1000-way
shuffle cannot flicker a ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.registry import query

# alnum-run tokens, lowercased, in order — the one tokenizer of the catalog
# (array_remove is a codegen'd builtin; no lambda per token)
_TOK_SPARK = "array_remove(split(lower(text), '[^a-z0-9]+'), '')"
_TOK_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
    " t -> length(t) > 0)"
)

QUERY_TERMS = ("spark", "query", "window", "stream", "vector")
K1, B = 1.2, 0.75
BM25_TOP = 20

NB_VOCAB = 50  # vocabulary size (top document-frequency terms)


# --------------------------------------------------------------------------
# 1. BM25
# --------------------------------------------------------------------------

_QT = ", ".join(f"'{t}'" for t in QUERY_TERMS)


def bm25_per_doc(
    docs: DataFrame, id_col: str, text_col: str, terms: tuple[str, ...]
) -> DataFrame:
    """(id_col, dl, tfs: array<long>, one tf per term) — one row per doc,
    computed ROW-LOCALLY with codegen'd builtins only: dl = size(tokens),
    tf(term) = size(tokens) − size(array_remove(tokens, term)). No lambda,
    no explode, no filter, so nothing here can be pushed below the
    caller's fan_out: a zero-token doc keeps its row with dl = 0 and no
    hits, and bm25_parts leaves it out of n_docs. Terms are values
    (literals), never SQL text. The token array is aliased once in its own
    projection; CollapseProject keeps multi-referenced non-trivial
    aliases, so tokenization runs once per row."""
    toked = docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("text")
    ).select("_id", F.expr(_TOK_SPARK).alias("toks"))
    n = F.size("toks")
    tfs = F.array(*[n - F.size(F.array_remove("toks", t)) for t in terms])
    return toked.select(
        F.col("_id").alias(id_col),
        n.cast("long").alias("dl"),
        tfs.cast("array<long>").alias("tfs"),
    )


def bm25_parts(
    per_doc: DataFrame, terms: tuple[str, ...], k1: float = K1, b: float = B
) -> DataFrame:
    """(id, term, tf, part DECIMAL(18,6)) — one row per (doc, hit term)
    of a bm25_per_doc frame. The corpus statistics are ONE aggregate row —
    n_docs (docs with dl > 0, the oracle's dl CTE), total_len and one df
    per term — attached by a broadcast cross join, so no term-keyed join
    or df groupBy is planned. posexplode_outer, not explode: plain explode
    infers a size(tfs) > 0 filter that Spark pushes below the fan-out."""
    id_col = per_doc.columns[0]
    live = F.col("dl") > 0
    stats = per_doc.agg(
        F.count(F.when(live, 1)).alias("n_docs"),
        F.sum(F.when(live, F.col("dl"))).alias("total_len"),
        F.array(
            *[F.count(F.when(F.col("tfs")[i] > 0, 1)) for i in range(len(terms))]
        ).alias("dfs"),
    )
    hits = per_doc.select(
        id_col, "dl", F.posexplode_outer("tfs").alias("i", "tf")
    ).filter(F.col("tf") > 0)
    df = F.col("dfs")[F.col("i")]
    idf = F.log(1.0 + (F.col("n_docs") - df + 0.5) / (df + 0.5))
    norm = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") * F.col("n_docs") / F.col("total_len").cast("double")
    )
    part = F.round(idf * (F.col("tf") * (k1 + 1.0)) / norm, 6).cast("decimal(18,6)")
    return hits.crossJoin(F.broadcast(stats)).select(
        id_col,
        F.array(*[F.lit(t) for t in terms])[F.col("i")].alias("term"),
        "tf",
        part.alias("part"),
    )


def _bm25_top(parts: DataFrame, k: int) -> DataFrame:
    """(id, n_hit_terms, bm25) — the top ``k`` docs of a bm25_parts frame
    by (DECIMAL score desc, id): the per-doc sum runs on the quantized
    parts, so combine order cannot flip a ranking."""
    id_col = parts.columns[0]
    out = parts.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        F.sum("part").alias("_dec"),
    )
    return (
        out.orderBy(F.desc("_dec"), id_col)
        .limit(k)
        .select(id_col, "n_hit_terms", F.col("_dec").cast("double").alias("bm25"))
    )


def _bm25_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bm25_parts for the catalog's fixed query over ``documents``. The
    per-doc frame is pinned LAZILY (persist, no count): under AQE the
    cached relation is one TableCacheQueryStage that the statistics branch
    and the scoring branch both read, so the corpus is scanned and
    tokenized once per run and no Spark job runs before the caller's
    action. persist, not localCheckpoint: lineage is kept, so an executor
    loss recomputes the tokenize pass. Caller-owned cache, cleared per
    query by the harness."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    per_doc = bm25_per_doc(docs, "doc_id", "text", QUERY_TERMS).persist()
    return bm25_parts(per_doc, QUERY_TERMS)


@query(
    "text_bm25_search",
    oracle=f"""
WITH tok AS (
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
  SELECT tf.doc_id, tf.term,
         CAST(round(
           ln(1.0 + ((SELECT n_docs FROM meta) - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({K1} + 1.0))
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl
              * (SELECT n_docs FROM meta) / CAST((SELECT total_len FROM meta) AS DOUBLE))),
           6) AS DECIMAL(18, 6)) AS part
  FROM tf JOIN df ON tf.term = df.term JOIN dl ON tf.doc_id = dl.doc_id
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
       CAST(sum(part) AS DOUBLE) AS bm25
FROM scored GROUP BY doc_id
ORDER BY sum(part) DESC, doc_id LIMIT {BM25_TOP}
""",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 over the corpus for the fixed query {QUERY_TERMS}:
    idf = ln(1 + (N − df + ½)/(df + ½)) (Lucene's non-negative variant),
    tf saturation k1={K1}, length normalization b={B} against the exact
    corpus mean length (kept as the rational dl·N/total_len so both engines
    divide identical integers). Per-(doc, term) parts quantize to
    DECIMAL(18,6) before the per-doc sum — order-independent, so ranking
    ties are impossible to flip by combine order; final order (score desc,
    doc_id) is total.

    Scale shape: tokenization is ONE narrow, fully codegen'd pass with no
    explode and no doc-keyed shuffle (bm25_per_doc); the compact per-doc
    frame (doc_id, dl, |Q| tfs — no text) is pinned lazily and feeds both
    the one-row corpus statistics and the scoring rows, so the corpus is
    tokenized exactly once per run (_bm25_parts). The statistics row is
    broadcast; TakeOrderedAndProject caps the result."""
    return _bm25_top(_bm25_parts(spark, sf_dir), BM25_TOP)


# --------------------------------------------------------------------------
# 2. Naive Bayes language classifier (train + evaluate)
# --------------------------------------------------------------------------


@query(
    "model_naive_bayes_lang",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_TOK_SQL}) AS term FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
  ) ORDER BY df DESC, term LIMIT {NB_VOCAB}
),
cls AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
meta AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM cls),
cnt AS (
  SELECT t.lang AS c, t.term, CAST(count(*) AS BIGINT) AS cf
  FROM tok t JOIN vocab v USING (term) GROUP BY 1, 2
),
tot AS (SELECT c, CAST(sum(cf) AS BIGINT) AS tot FROM cnt GROUP BY c),
model AS (
  SELECT cl.c, v.term,
         CAST(round(ln((coalesce(cnt.cf, 0) + 1.0)
                       / (tot.tot + {NB_VOCAB}.0)), 6) AS DECIMAL(18, 6)) AS logp
  FROM cls cl CROSS JOIN vocab v
  JOIN tot ON tot.c = cl.c
  LEFT JOIN cnt ON cnt.c = cl.c AND cnt.term = v.term
),
prior AS (
  SELECT c, CAST(round(ln(n_docs / CAST((SELECT n_total FROM meta) AS DOUBLE)), 6)
                 AS DECIMAL(18, 6)) AS logprior
  FROM cls
),
doctf AS (
  SELECT t.doc_id, any_value(t.lang) AS actual, t.term, CAST(count(*) AS BIGINT) AS tf
  FROM tok t JOIN vocab v USING (term) GROUP BY t.doc_id, t.term
),
docscore AS (
  SELECT d.doc_id, any_value(d.actual) AS actual, m.c,
         CAST(sum(d.tf * m.logp) AS DECIMAL(28, 6)) + any_value(p.logprior) AS score
  FROM doctf d JOIN model m ON m.term = d.term
  JOIN prior p ON p.c = m.c
  GROUP BY d.doc_id, m.c
),
pred AS (
  SELECT doc_id, actual,
         min(CASE WHEN rn = 1 THEN c END) AS predicted
  FROM (
    SELECT doc_id, actual, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rn
    FROM docscore
  ) GROUP BY doc_id, actual
)
SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY 1, 2
""",
)
def model_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained and evaluated inside the engine:
    top-{NB_VOCAB}-df vocabulary, Laplace-smoothed per-class token
    log-likelihoods, doc score = log prior + Σ tf·logp (all DECIMAL — see
    module contract), argmax with (score desc, class) tie-break, confusion
    matrix out. Docs with no vocabulary token drop (no evidence either
    engine could score).

    Scale shape: training is two hash-aggs (class-term counts: ≤|langs|·V
    groups) + a broadcast-sized model table (|langs|·V rows); scoring joins
    each doc's ≤V tf rows against the broadcast model — per-doc cost is
    O(hit terms · classes), never corpus×vocab. The same shape at 100 TB:
    the model is always broadcastable because V is chosen, not data-sized.

    r11 opt (guide §2.3/§2.4): the corpus is tokenized ONCE — the exploded
    token stream collapses immediately to the per-(doc, term) count table
    ``tokdf`` (one map-side-combined shuffle), which is pinned and then
    feeds all three former consumers: vocabulary df = count(*) per term
    over tokdf (≡ countDistinct(doc_id) over raw tokens), class-term
    counts cf = sum(tf) grouped by (lang, term) (≡ count(*) over raw
    tokens), and the per-doc scoring tf rows. The old shape ran the
    explode + shuffle three times."""
    # fan_out ONCE and pin: docs feed class counts, n_total and the token
    # pass — pinning the compact fanned docs costs one small shuffle +
    # cache instead of one repartition per consumer
    # r12 (r11 verdict item 8): both one-shot pins → recoverable persists
    # (lineage kept; docs.count() below materializes docs and n_total in
    # one job, tokdf materializes once before its three consumers)
    docs = fan_out(load(spark, sf_dir, "documents")).persist()
    tok = docs.select(
        "doc_id", "lang", F.explode(F.expr(_TOK_SPARK)).alias("term")
    )
    tokdf = (
        tok.groupBy("doc_id", "term")
        .agg(
            F.any_value("lang").alias("actual"),
            F.count(F.lit(1)).cast("long").alias("tf"),
        )
        .persist()
    )
    tokdf.count()
    vocab = (
        tokdf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "term")
        .limit(NB_VOCAB)
        .select("term")
    )
    cls = docs.groupBy(F.col("lang").alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    n_total = docs.count()
    cnt = (
        tokdf.join(F.broadcast(vocab), "term")
        .groupBy(F.col("actual").alias("c"), "term")
        .agg(F.sum("tf").cast("long").alias("cf"))
    )
    tot = cnt.groupBy("c").agg(F.sum("cf").cast("long").alias("tot"))
    model = (
        cls.crossJoin(F.broadcast(vocab))
        .join(tot, "c")
        .join(cnt, ["c", "term"], "left")
        .select(
            "c",
            "term",
            F.round(
                F.log(
                    (F.coalesce(F.col("cf"), F.lit(0)) + 1.0)
                    / (F.col("tot") + float(NB_VOCAB))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("logp"),
        )
    )
    prior = cls.select(
        "c",
        F.round(F.log(F.col("n_docs") / F.lit(float(n_total))), 6)
        .cast("decimal(18,6)")
        .alias("logprior"),
    )
    doctf = tokdf.join(F.broadcast(vocab), "term")
    docscore = (
        doctf.join(F.broadcast(model), "term")
        .join(F.broadcast(prior), "c")
        .groupBy("doc_id", "c")
        .agg(
            F.any_value("actual").alias("actual"),
            (
                F.sum(F.col("tf") * F.col("logp")).cast("decimal(28,6)")
                + F.any_value("logprior")
            ).alias("score"),
        )
    )
    # argmax by (score desc, c asc) as ONE partial-aggregable hash agg:
    # min(struct(-score, c)) picks the largest score, then the smallest
    # class — identical to the former row_number window + groupBy pair,
    # without the per-doc sort or the extra pass (guide §2.3: aggregate
    # before you shuffle; DECIMAL negation is exact)
    pred = docscore.groupBy("doc_id").agg(
        F.any_value("actual").alias("actual"),
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("c")))["c"].alias(
            "predicted"
        ),
    )
    return pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
