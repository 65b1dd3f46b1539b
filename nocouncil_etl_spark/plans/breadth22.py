"""Breadth batch 22 (round 6): exact bitmaps, bloom decontamination, RAKE,
dataset card, k-means elbow.

- ``sketch_bitmap_distinct``   — EXACT distinct counting via bit_or bitmaps
  (the ClickHouse groupBitmap / roaring shape): mergeable across shards by
  construction, proven by OR-merging disjoint halves.
- ``contamination_bloom_gate`` — train/eval decontamination at pretraining
  scale: the eval set's 8-gram shingles compress to a bloom bitset; train
  docs are flagged on any gram hit, reconciled against the exact semi-join
  (false-positive rate reported — the cost of the compressed gate).
- ``text_keyphrase_rake``      — RAKE keyword extraction (stopword-split
  candidate phrases scored by word degree/frequency) — the third keyphrase
  family next to TF-IDF and TextRank.
- ``curation_dataset_card``    — the one-row dataset card: corpus size,
  source/lang mix, token stats, exact-dup rate — the summary artifact every
  released training set ships with.
- ``ml_kmeans_elbow``          — inertia-vs-k sweep over the trained integer
  k-means (three full trainings, one unrolled-CTE oracle each) — the model
  -selection loop on top of operators/kmeans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.registry import query

# --------------------------------------------------------------------------
# 1. exact bitmap distinct (mergeable)
# --------------------------------------------------------------------------

BM_BITS = 62  # per word; sign bit unused so shifts never wrap


@query(
    "sketch_bitmap_distinct",
    oracle=f"""
WITH halves AS (
  SELECT event_type, user_id, event_id % 2 AS half FROM events
),
bm AS (
  SELECT event_type, half, user_id // {BM_BITS} AS word,
         bit_or(1::BIGINT << (user_id % {BM_BITS})) AS bits
  FROM halves GROUP BY event_type, half, word
),
merged AS (
  SELECT event_type, word, bit_or(bits) AS bits FROM bm GROUP BY event_type, word
),
bm_cnt AS (
  SELECT event_type, CAST(sum(bit_count(bits)) AS BIGINT) AS n_bitmap
  FROM merged GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM halves GROUP BY event_type
)
SELECT b.event_type, b.n_bitmap, e.n_exact,
       b.n_bitmap = e.n_exact AS merge_exact
FROM bm_cnt b JOIN exact e ON b.event_type = e.event_type
""",
)
def sketch_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via bit_or bitmaps — the
    groupBitmap/roaring primitive: each user sets bit (user div {BM_BITS},
    user mod {BM_BITS}); per-shard bitmaps OR-merge losslessly, so the
    query builds them on DISJOINT halves (event_id parity standing in for
    two shards/days), merges by bit_or, and popcounts — proven equal to
    count(DISTINCT) in the same row. Unlike HLL (sketch_hll_custom) this
    is exact; unlike count(DISTINCT) it is mergeable state: shards/days
    combine without reshuffling raw ids — the incremental-rollup distinct
    the HLL approximates, exact while ids are bounded.

    Scale shape: two map-side-combined bit_or aggs; state per group =
    (max_id/{BM_BITS}) words — bounded by the ID DOMAIN, not the row
    count. The 100 TB note: dense bitmaps want a compressed (roaring)
    encoding once the domain is sparse; the algebra (OR-merge, popcount)
    is identical."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "user_id", (F.col("event_id") % 2).alias("half")
    )
    bm = ev.groupBy(
        "event_type", "half", F.expr(f"user_id div {BM_BITS}").alias("word")
    ).agg(
        F.bit_or(
            F.expr(f"shiftleft(1L, CAST(user_id % {BM_BITS} AS INT))")
        ).alias("bits")
    )
    merged = bm.groupBy("event_type", "word").agg(F.bit_or("bits").alias("bits"))
    bm_cnt = merged.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_bitmap")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return bm_cnt.join(exact, "event_type").select(
        "event_type",
        "n_bitmap",
        "n_exact",
        (F.col("n_bitmap") == F.col("n_exact")).alias("merge_exact"),
    )


# --------------------------------------------------------------------------
# 2. bloom-gated train/eval decontamination
# --------------------------------------------------------------------------

DECON_GRAM = 8
DECON_WORDS = 4096
DECON_BITS_PER = 62
DECON_K = 2
COPY_WORDS = 30  # synthesized partial copies (the dedup_span_ngrams corpus)

_DECON_BIT_SQL = (
    "(('0x' || substr(md5(CAST({i} AS VARCHAR) || '|' || {g}), 1, 15))::BIGINT)"
    f" % {DECON_WORDS * DECON_BITS_PER}"
)


def _decon_oracle() -> str:
    from nocouncil_etl_spark.plans.dedup_plans import _sql_shingles

    return f"""
WITH eval_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 6 = 0
),
train_docs AS (
  SELECT doc_id + 100000 AS doc_id,
         array_to_string((string_split(text, ' '))[1:{COPY_WORDS}], ' ') AS text
  FROM documents WHERE doc_id % 6 = 0
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id % 6 <> 0
),
egrams AS (
  SELECT DISTINCT unnest({_sql_shingles("string_split(text, ' ')", DECON_GRAM)}) AS g
  FROM eval_docs
),
hashes AS (SELECT unnest(range(0, {DECON_K})) AS i),
bloom AS (
  SELECT bit // {DECON_BITS_PER} AS word,
         bit_or(1::BIGINT << (bit % {DECON_BITS_PER})) AS bits
  FROM (
    SELECT {_DECON_BIT_SQL.format(i="i", g="g")} AS bit
    FROM egrams CROSS JOIN hashes
  ) GROUP BY 1
),
tgrams AS (
  SELECT DISTINCT doc_id,
         unnest({_sql_shingles("string_split(text, ' ')", DECON_GRAM)}) AS g
  FROM train_docs
),
probes AS (
  SELECT t.doc_id, t.g, i, {_DECON_BIT_SQL.format(i="i", g="t.g")} AS bit
  FROM tgrams t CROSS JOIN hashes
),
gram_hits AS (
  SELECT doc_id, g,
         bool_and(coalesce(b.bits, 0)
                  & (1::BIGINT << (p.bit % {DECON_BITS_PER})) <> 0) AS bloom_hit
  FROM probes p LEFT JOIN bloom b ON b.word = p.bit // {DECON_BITS_PER}
  GROUP BY doc_id, g
),
doc_bloom AS (
  SELECT doc_id, bool_or(bloom_hit) AS bloom_flag FROM gram_hits GROUP BY doc_id
),
doc_exact AS (
  SELECT t.doc_id, count(e.g) > 0 AS exact_flag
  FROM tgrams t LEFT JOIN egrams e ON t.g = e.g
  GROUP BY t.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN b.bloom_flag THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
       CAST(sum(CASE WHEN e.exact_flag THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN b.bloom_flag AND NOT e.exact_flag THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       CAST(sum(CASE WHEN e.exact_flag AND NOT b.bloom_flag THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_neg
FROM doc_bloom b JOIN doc_exact e ON b.doc_id = e.doc_id
"""


@query("contamination_bloom_gate", oracle=_decon_oracle())
def contamination_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination through a bloom gate — the shape that
    works at pretraining scale, where the exact eval-gram set is too big
    to broadcast raw: the eval split's distinct {DECON_GRAM}-gram
    shingles compress into a {DECON_WORDS}-word bitset; every train doc
    is flagged if ANY of its grams hits all {DECON_K} bloom bits. The
    corpus is the dedup_span_ngrams construction (eval = every 6th doc,
    train includes first-{COPY_WORDS}-word excerpts of eval docs), so
    true contamination provably exists; the same query reconciles the
    gate against the exact semi-join and reports the funnel — including
    n_false_pos (the bloom's cost) and n_false_neg (structurally ZERO —
    blooms have no false negatives; asserted in tests).

    Scale shape: eval grams → distinct → k-way fan-out → word-keyed
    bit_or (map-side combined, bitset-sized state); train grams probe
    the broadcast bitset; per-doc bool_or. Everything linear in gram
    instances."""
    from nocouncil_etl_spark.operators.dedup import make_shingle_udf

    docs = fan_out(load(spark, sf_dir, "documents")).select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % 6 == 0)
    train_docs = eval_docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, COPY_WORDS)).alias(
            "text"
        ),
    ).unionByName(docs.filter(F.col("doc_id") % 6 != 0))

    sh = make_shingle_udf(DECON_GRAM)
    egrams = (
        eval_docs.select(F.explode(sh("text")).alias("g")).distinct()
    )
    hashes = F.explode(F.array(*[F.lit(i) for i in range(DECON_K)])).alias("i")

    def bit(i_col, g_col):
        h = hash60(F.concat(i_col.cast("string"), F.lit("|"), g_col))
        return h % (DECON_WORDS * DECON_BITS_PER)

    bloom = (
        egrams.select(hashes, "g")
        .select(bit(F.col("i"), F.col("g")).alias("bit"))
        .select(
            F.expr(f"bit div {DECON_BITS_PER}").alias("word"),
            F.expr(f"shiftleft(1L, CAST(bit % {DECON_BITS_PER} AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    tgrams = train_docs.select(
        "doc_id", F.explode(sh("text")).alias("g")
    ).distinct()
    probes = tgrams.select("doc_id", "g", hashes).select(
        "doc_id",
        "g",
        bit(F.col("i"), F.col("g")).alias("bit"),
    )
    gram_hits = (
        probes.withColumn("word", F.expr(f"bit div {DECON_BITS_PER}"))
        .withColumn(
            "mask", F.expr(f"shiftleft(1L, CAST(bit % {DECON_BITS_PER} AS INT))")
        )
        .join(F.broadcast(bloom), "word", "left")
        .groupBy("doc_id", "g")
        .agg(
            F.min(
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
                != 0
            ).alias("bloom_hit")
        )
    )
    doc_bloom = gram_hits.groupBy("doc_id").agg(
        F.max("bloom_hit").alias("bloom_flag")
    )
    doc_exact = (
        tgrams.join(egrams.withColumnRenamed("g", "eg"),
                    F.col("g") == F.col("eg"), "left")
        .groupBy("doc_id")
        .agg((F.count("eg") > 0).alias("exact_flag"))
    )
    both = doc_bloom.join(doc_exact, "doc_id")
    return both.agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        F.sum(F.when(F.col("bloom_flag"), 1).otherwise(0))
        .cast("long")
        .alias("n_bloom"),
        F.sum(F.when(F.col("exact_flag"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.sum(
            F.when(F.col("bloom_flag") & ~F.col("exact_flag"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
        F.sum(
            F.when(F.col("exact_flag") & ~F.col("bloom_flag"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_neg"),
    )


# --------------------------------------------------------------------------
# 3. RAKE keyphrase extraction
# --------------------------------------------------------------------------

RAKE_STOP = ["a", "the"]
RAKE_MAX_LEN = 3
RAKE_TOPK = 3
RAKE_SCALE = 1_000_000


@query(
    "text_keyphrase_rake",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
marked AS (
  SELECT doc_id, pos, term,
         CASE WHEN term IN ({", ".join(f"'{s}'" for s in RAKE_STOP)})
              THEN 1 ELSE 0 END AS is_stop
  FROM toks
),
segmented AS (
  SELECT doc_id, pos, term, is_stop,
         sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
  FROM marked
),
phrase_words AS (
  SELECT doc_id, seg, pos, term FROM segmented WHERE is_stop = 0
),
phrases AS (
  SELECT doc_id, seg,
         string_agg(term, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM phrase_words GROUP BY doc_id, seg
  HAVING count(*) BETWEEN 1 AND {RAKE_MAX_LEN}
),
wordstats AS (
  SELECT w.term,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(p.plen) AS BIGINT) AS degree
  FROM phrase_words w
  JOIN phrases p ON p.doc_id = w.doc_id AND p.seg = w.seg
  GROUP BY w.term
),
scored AS (
  SELECT p.doc_id, p.phrase, p.plen,
         CAST(sum((s.degree * {RAKE_SCALE}) // s.freq) AS BIGINT) AS score_1e6
  FROM phrases p
  JOIN phrase_words w ON w.doc_id = p.doc_id AND w.seg = p.seg
  JOIN wordstats s ON s.term = w.term
  GROUP BY p.doc_id, p.phrase, p.plen
),
dedup AS (
  SELECT doc_id, phrase, plen, max(score_1e6) AS score_1e6
  FROM scored GROUP BY doc_id, phrase, plen
)
SELECT doc_id, phrase, plen, score_1e6, rk FROM (
  SELECT doc_id, phrase, plen, score_1e6,
         CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY score_1e6 DESC, phrase
         ) AS INT) AS rk
  FROM dedup
) WHERE rk <= {RAKE_TOPK}
""",
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al.) — the stopword-delimited
    third member of the keyphrase family (TF-IDF = text_tfidf_topterms,
    graph = text_textrank_keywords): token runs between stopwords are
    candidate phrases (≤{RAKE_MAX_LEN} words); each word scores
    degree/freq over the whole corpus (degree = Σ length of phrases
    containing it), a phrase scores the sum of its words' ratios in exact
    integer {RAKE_SCALE}ths, and each doc keeps its top {RAKE_TOPK}.
    Duplicate phrase instances within a doc keep one row (max score —
    identical by construction).

    Scale shape: segmentation is a running stopword count per doc
    (partitioned window); word stats are two corpus-wide hash aggs;
    scoring joins the broadcast word table; top-k is a per-doc window.
    Linear in tokens."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    )
    marked = toks.withColumn(
        "is_stop", F.when(F.col("term").isin(RAKE_STOP), 1).otherwise(0)
    )
    wseg = Window.partitionBy("doc_id").orderBy("pos")
    segmented = marked.withColumn("seg", F.sum("is_stop").over(wseg))
    phrase_words = segmented.filter(F.col("is_stop") == 0).select(
        "doc_id", "seg", "pos", "term"
    )
    phrases = (
        phrase_words.groupBy("doc_id", "seg")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda s: s.term,
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .filter(F.col("plen").between(1, RAKE_MAX_LEN))
    )
    wordstats = (
        phrase_words.join(phrases.select("doc_id", "seg", "plen"), ["doc_id", "seg"])
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("degree"),
        )
    )
    scored = (
        phrases.join(phrase_words, ["doc_id", "seg"])
        .join(F.broadcast(wordstats), "term")
        .groupBy("doc_id", "phrase", "plen")
        .agg(
            F.sum(F.expr(f"(degree * {RAKE_SCALE}) div freq"))
            .cast("long")
            .alias("score_1e6")
        )
    )
    dedup = scored.groupBy("doc_id", "phrase", "plen").agg(
        F.max("score_1e6").alias("score_1e6")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_1e6"), F.asc("phrase"))
    return (
        dedup.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= RAKE_TOPK)
    )


# --------------------------------------------------------------------------
# 4. dataset card
# --------------------------------------------------------------------------


@query(
    "curation_dataset_card",
    oracle="""
WITH toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         md5(text) AS fp
  FROM documents
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS total_tok,
         CAST(min(n_tok) AS BIGINT) AS min_tok,
         CAST(max(n_tok) AS BIGINT) AS max_tok,
         CAST(sum(n_tok) // count(*) AS BIGINT) AS avg_tok,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_texts
  FROM toks
),
mix AS (
  SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM documents
)
SELECT b.n_docs, m.n_sources, m.n_langs, b.total_tok, b.avg_tok,
       b.min_tok, b.max_tok,
       b.n_docs - b.n_unique_texts AS n_exact_dups,
       CAST(((b.n_docs - b.n_unique_texts) * 1000000) // b.n_docs AS BIGINT)
         AS dup_rate_1e6
FROM base b CROSS JOIN mix m
""",
)
def curation_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one row — the release artifact every training
    set ships with: corpus size, source/language mix, token volume and
    bounds, and the exact-duplicate rate (content-hash distinct vs rows).
    Composes the primitives the catalog already checks individually
    (dedup_exact's fingerprint, text_token_count's tokenizer,
    dq_profile_table's shape) into the one-scan summary.

    Scale shape: a single pass computing all aggregates map-side
    (count/sum/min/max + two distincts); output is one row regardless of
    corpus size."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.md5("text").alias("fp"),
        "source",
        "lang",
    )
    base = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_tok").cast("long").alias("total_tok"),
        F.expr("CAST(sum(n_tok) div count(*) AS BIGINT)").alias("avg_tok"),
        F.min("n_tok").cast("long").alias("min_tok"),
        F.max("n_tok").cast("long").alias("max_tok"),
        F.countDistinct("fp").cast("long").alias("n_unique_texts"),
    )
    return base.select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_tok",
        "avg_tok",
        "min_tok",
        "max_tok",
        (F.col("n_docs") - F.col("n_unique_texts")).alias("n_exact_dups"),
        F.expr(
            "CAST(((n_docs - n_unique_texts) * 1000000) div n_docs AS BIGINT)"
        ).alias("dup_rate_1e6"),
    )


# --------------------------------------------------------------------------
# 5. k-means elbow sweep
# --------------------------------------------------------------------------

ELBOW_KS = [4, 8, 16]
ELBOW_ITERS = 2


def _elbow_oracle() -> str:
    from nocouncil_etl_spark.plans.clustering import kmeans_cte, quantize_sql

    blocks = []
    rows = []
    for k in ELBOW_KS:
        blocks.append(kmeans_cte("eq", k, ELBOW_ITERS, prefix=f"e{k}"))
        rows.append(f"""
SELECT {k} AS k,
       CAST(sum(dist) AS BIGINT) AS inertia,
       CAST(count(DISTINCT cid) AS BIGINT) AS n_used
FROM e{k}asg_final""")
    return f"""
WITH eq AS (
  SELECT vec_id, {quantize_sql("embedding::DOUBLE[]")} AS xq FROM embeddings
),
{",".join(blocks)}
{" UNION ALL ".join(rows)}
"""


@query("ml_kmeans_elbow", oracle=_elbow_oracle())
def ml_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection for the trained quantizer: Lloyd's k-means runs at
    k ∈ {ELBOW_KS} (same integer recurrence as cluster_kmeans_fixed) and
    the query reports inertia per k — the elbow curve that picks the k
    the SemDeDup/IVF artifacts pin. Inertia is monotone non-increasing in
    k (asserted in tests); each training replays exactly in the oracle as
    its own prefix-namespaced unrolled-CTE block.

    Scale shape: three O(n·k·d) trainings with k fixed — the sweep is a
    constant factor over one training, all Arrow assignment passes +
    k·dim-row driver exchanges per iteration."""
    from nocouncil_etl_spark.operators.kmeans import (
        assign_l2,
        kmeans_fit,
        quantize_vectors,
    )

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    eq = quantize_vectors(e, "v", "xq").select("vec_id", "xq").persist()
    try:
        out = None
        for k in ELBOW_KS:
            cent_ids, cm = kmeans_fit(eq, k, ELBOW_ITERS)
            asg = assign_l2(eq, cent_ids, cm, with_dist=True)
            row = asg.agg(
                F.sum("dist").cast("long").alias("inertia"),
                F.countDistinct("cid").cast("long").alias("n_used"),
            ).select(F.lit(k).alias("k"), "inertia", "n_used")
            out = row if out is None else out.unionByName(row)
        out = out.localCheckpoint(eager=True)  # 3 rows — pin before eq drops
        return out
    finally:
        eq.unpersist()
