"""Text-analysis queries (E11 + north star): language-ID, quality scoring,
token counting, fingerprinting — each over `documents` with a DuckDB oracle
generated from the same constants (functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.text import (
    STOPWORDS,
    lang_scores,
    predict_lang,
    quality_score,
    token_count_bpe_ish,
    token_count_ws,
)
from nocouncil_etl_spark.io import fan_out, fan_out_if_narrow, load
from nocouncil_etl_spark.registry import query


def _sql_hits(ws: str, lang: str) -> str:
    lits = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({ws}, w -> list_contains([{lits}], w)))"


@query(
    "text_lang_id",
    oracle=f"""
WITH ws AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
scored AS (
  SELECT doc_id, lang,
         {", ".join(f"{_sql_hits('w', lang)} AS {lang}_hits" for lang in sorted(STOPWORDS))}
  FROM ws
),
ranked AS (
  SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
         list_aggregate([
           {", ".join(f"{{'score': {lang}_hits, 'lang': '{lang}'}}" for lang in sorted(STOPWORDS))}
         ], 'max') AS best
  FROM scored
)
SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
       CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS predicted
FROM ranked
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star language-ID: stopword-hit argmax with deterministic
    tie-break (max over (score, lang) structs — identical struct-compare
    semantics in Spark and DuckDB). Narrow 1:1 map at cluster scan widths;
    fan_out_if_narrow shuffles only in the local single-small-file case."""
    docs = fan_out_if_narrow(load(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    scores = lang_scores(ws)
    return docs.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"{lang}_hits") for lang in sorted(STOPWORDS)],
        predict_lang(ws).alias("predicted"),
    )


@query(
    "text_quality",
    oracle="""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
feat AS (
  SELECT doc_id,
         len(w) AS n_words,
         list_reduce(list_transform(w, x -> CAST(length(x) AS DOUBLE)), (a, b) -> a + b)
           / len(w) AS mean_word_len,
         CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE)
           / len(w) AS stopword_ratio,
         CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS unique_ratio
  FROM ws
)
SELECT doc_id, n_words,
       round(mean_word_len, 4) AS mean_word_len,
       round(stopword_ratio, 4) AS stopword_ratio,
       round(unique_ratio, 4) AS unique_ratio,
       round((
         (CASE WHEN n_words BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
         + (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
         + least(stopword_ratio * 5.0, 1.0)
         + unique_ratio
       ) / 4.0, 4) AS quality
FROM feat
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star quality scoring: length / word-shape / stopword /
    lexical-diversity features and a composite score — the scaled form of
    the reference's min-length + keyword relevance gates."""
    docs = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    from nocouncil_etl_spark.functions.text import quality_features

    f = quality_features("text", ws)
    return docs.select(
        "doc_id",
        f["n_words"].alias("n_words"),
        F.round(f["mean_word_len"], 4).alias("mean_word_len"),
        F.round(f["stopword_ratio"], 4).alias("stopword_ratio"),
        F.round(f["unique_ratio"], 4).alias("unique_ratio"),
        F.round(quality_score("text", ws), 4).alias("quality"),
    )


@query(
    "text_token_count",
    oracle="""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws_tokens,
       len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       t -> length(t) > 0)) AS n_bpe_ish,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_chars_div4
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star token counting: whitespace tokens, BPE-ish alnum runs, and
    the chars/4 heuristic."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws("text").alias("n_ws_tokens"),
        token_count_bpe_ish("text").alias("n_bpe_ish"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("n_chars_div4"),
    )


@query(
    "text_fingerprint",
    oracle="""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       CASE WHEN len(w) >= 5 THEN
         list_aggregate(
           list_transform(range(1, len(w) - 3),
                          i -> substr(md5(array_to_string(w[i:i+4], ' ')), 1, 16)),
           'min')
       ELSE substr(md5(array_to_string(w, ' ')), 1, 16) END AS fp
FROM ws
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star document fingerprinting: min-md5 over rolling 5-word
    windows (rolling-hash winnowing, window = doc). Arrow shingle pass →
    explode → codegen'd md5 → grouped min (one row per doc crosses the
    shuffle)."""
    from nocouncil_etl_spark.operators.dedup import make_shingle_udf, words

    docs = fan_out(load(spark, sf_dir, "documents"))
    sh_udf = make_shingle_udf(5)
    grams = docs.select(
        "doc_id",
        # short docs (< 5 words) fall back to the whole-doc gram
        F.when(F.size(words("text")) >= 5, sh_udf("text"))
        .otherwise(F.array(F.concat_ws(" ", words("text"))))
        .alias("gs"),
    ).select("doc_id", F.explode("gs").alias("g"))
    return grams.groupBy("doc_id").agg(
        F.min(F.substring(F.md5("g"), 1, 16)).alias("fp")
    )


@query(
    "text_readability",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         string_split(text, '.') AS sents
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(greatest(len(sents), 1) AS BIGINT) AS n_sents,
         CAST(list_sum(list_transform(ws,
           x -> greatest(len(regexp_extract_all(lower(x), '[aeiouy]+')), 1)))
           AS BIGINT) AS n_syll
  FROM w
)
SELECT doc_id, n_words, n_sents, n_syll,
       round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                    - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4)
         AS flesch
FROM m
""",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a vowel-group syllable proxy
    (every maximal [aeiouy]+ run counts as one syllable, minimum one per
    word — the standard cheap estimator) — the readability feature next
    to the Gopher rules in a quality-scoring stack. All counts are exact
    integers; the score formula divides identical doubles and its
    coefficients are exact decimal literals, so round(…, 4) is
    engine-stable.

    Scale shape: pure per-row HOF expressions (regexp inside a list
    transform, JVM-side) — zero shuffles at cluster scan widths
    (fan_out_if_narrow repartitions only when the scan plans fewer tasks
    than the session target, i.e. the local single-small-file case)."""
    docs = fan_out_if_narrow(load(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    sents = F.split("text", "\\.")
    syll = F.aggregate(
        F.transform(
            ws,
            lambda x: F.greatest(
                F.size(
                    F.regexp_extract_all(F.lower(x), F.lit("[aeiouy]+"), 0)
                ),
                F.lit(1),
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    m = docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.greatest(F.size(sents), F.lit(1)).cast("long").alias("n_sents"),
        syll.alias("n_syll"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sents"))
        - F.lit(84.6) * (F.col("n_syll").cast("double") / F.col("n_words"))
    )
    return m.select(
        "doc_id", "n_words", "n_sents", "n_syll",
        F.round(flesch, 4).alias("flesch"),
    )
