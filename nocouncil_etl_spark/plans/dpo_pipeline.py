"""End-to-end preference-dataset build (DPO), under one full-SQL oracle.

``pipeline_dpo_e2e`` composes the curation stages a preference-training
run needs, the way ``pipeline_sft_e2e`` does for SFT:

  quality gate → exact dedup (content hash, keep-min) → per-prompt-group
  extrema ranking (the dpo_pair_build kernel) → deterministic train/val
  split on the prompt key → chat-style pair rendering.

Every stage is a kernel already oracle-checked in isolation (text_quality,
dedup_exact, dpo_pair_build, split_train_val_test, sft_chat_render); the
value of the e2e query is pinning their COMPOSITION — column flow, gate
ordering (dedup after gating, ranking over the deduped survivors), and the
tie-break discipline end to end.

Scale shape: narrow quality columns → one md5 hash-agg (dedup) → two
row_number windows per prompt group → broadcast-sized pair join →
per-pair rendering. No stage is corpus×corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import pct_bucket
from nocouncil_etl_spark.functions.text import quality_score
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import query

MIN_QUALITY = 0.5
MIN_WORDS = 10
RENDER_W = 20  # words of each side included in the rendered pair
VAL_PCT = 20  # % of prompt groups held out


@query(
    "pipeline_dpo_e2e",
    oracle=f"""
WITH ws AS (
  SELECT doc_id, source, lang, text, string_split(text, ' ') AS w FROM documents
),
feat AS (
  SELECT doc_id, source, lang, text, len(w) AS n_words,
         list_reduce(list_transform(w, x -> CAST(length(x) AS DOUBLE)), (a, b) -> a + b)
           / len(w) AS mean_word_len,
         CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE)
           / len(w) AS stopword_ratio,
         CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS unique_ratio
  FROM ws
),
q AS (
  SELECT doc_id, source, lang, text, n_words,
         round((
           (CASE WHEN n_words BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
           + (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
           + least(stopword_ratio * 5.0, 1.0)
           + unique_ratio
         ) / 4.0, 4) AS quality
  FROM feat
),
gated AS (
  SELECT * FROM q WHERE quality >= {MIN_QUALITY} AND n_words >= {MIN_WORDS}
),
dedup AS (
  SELECT doc_id, source, lang, text, quality FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dn
    FROM gated
  ) WHERE dn = 1
),
ranked AS (
  SELECT doc_id, source, lang, text, quality,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY quality DESC, doc_id) AS rn_best,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY quality ASC, doc_id DESC) AS rn_worst,
         count(*) OVER (PARTITION BY source, lang) AS n_candidates
  FROM dedup
),
pairs AS (
  SELECT b.source || '/' || b.lang AS prompt_key,
         CAST(b.n_candidates AS BIGINT) AS n_candidates,
         b.doc_id AS chosen_id, w.doc_id AS rejected_id,
         round(b.quality - w.quality, 4) AS margin,
         b.text AS chosen_text, w.text AS rejected_text
  FROM ranked b JOIN ranked w
    ON b.source = w.source AND b.lang = w.lang
  WHERE b.rn_best = 1 AND w.rn_worst = 1 AND b.doc_id <> w.doc_id
)
SELECT prompt_key, n_candidates, chosen_id, rejected_id, margin,
       CASE WHEN (('0x' || substr(md5(prompt_key), 1, 8))::BIGINT % 100)
              < {100 - VAL_PCT} THEN 'train' ELSE 'val' END AS split,
       '<|prompt|>' || prompt_key || chr(10)
         || '<|chosen|>'
         || array_to_string((string_split(chosen_text, ' '))[1:{RENDER_W}], ' ')
         || chr(10) || '<|rejected|>'
         || array_to_string((string_split(rejected_text, ' '))[1:{RENDER_W}], ' ')
         AS pair_render
FROM pairs
""",
)
def pipeline_dpo_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-dataset build end to end — see module docstring. Gate ≥
    {MIN_QUALITY} quality and ≥ {MIN_WORDS} words, content-hash dedup
    keep-min, per-(source, lang) quality extrema under total orders,
    {VAL_PCT}% prompt-key hash holdout, and a chat-style rendering of the
    first {RENDER_W} words of each side."""
    docs = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    q = docs.select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.size(ws).alias("n_words"),
        F.round(quality_score("text", ws), 4).alias("quality"),
    )
    gated = q.filter(
        (F.col("quality") >= MIN_QUALITY) & (F.col("n_words") >= MIN_WORDS)
    )
    dedup = (
        gated.withColumn(
            "dn",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .filter(F.col("dn") == 1)
        .drop("dn", "n_words")
    )
    grp = Window.partitionBy("source", "lang")
    ranked = dedup.select(
        "doc_id",
        "source",
        "lang",
        "text",
        "quality",
        F.row_number()
        .over(grp.orderBy(F.desc("quality"), "doc_id"))
        .alias("rn_best"),
        F.row_number()
        .over(grp.orderBy(F.asc("quality"), F.desc("doc_id")))
        .alias("rn_worst"),
        F.count(F.lit(1)).over(grp).cast("long").alias("n_candidates"),
    )
    best = ranked.filter(F.col("rn_best") == 1).select(
        "source",
        "lang",
        "n_candidates",
        F.col("doc_id").alias("chosen_id"),
        F.col("quality").alias("chosen_q"),
        F.col("text").alias("chosen_text"),
    )
    worst = ranked.filter(F.col("rn_worst") == 1).select(
        "source",
        "lang",
        F.col("doc_id").alias("rejected_id"),
        F.col("quality").alias("rejected_q"),
        F.col("text").alias("rejected_text"),
    )
    pairs = (
        best.join(worst, ["source", "lang"])
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .withColumn("prompt_key", F.concat_ws("/", "source", "lang"))
    )
    bucket = pct_bucket("prompt_key")
    first_words = lambda c: F.array_join(  # noqa: E731
        F.slice(F.split(c, " "), 1, RENDER_W), " "
    )
    return pairs.select(
        "prompt_key",
        "n_candidates",
        "chosen_id",
        "rejected_id",
        F.round(F.col("chosen_q") - F.col("rejected_q"), 4).alias("margin"),
        F.when(bucket < 100 - VAL_PCT, "train").otherwise("val").alias("split"),
        F.concat(
            F.lit("<|prompt|>"),
            F.col("prompt_key"),
            F.lit("\n<|chosen|>"),
            first_words("chosen_text"),
            F.lit("\n<|rejected|>"),
            first_words("rejected_text"),
        ).alias("pair_render"),
    )
