"""Curation batch 6: preference-pair construction (DPO) and differentially
private release counts.

- ``dpo_pair_build`` — build (chosen, rejected) preference pairs per prompt
  group from the engine's own quality score: the DPO/RLHF counterpart of
  ``sft_chat_render`` (SFT renders one good answer; DPO needs a ranked
  pair). Group = (source, lang) stands in for "candidate responses to one
  prompt"; chosen/rejected are the quality argmax/argmin under a total
  deterministic order.
- ``dp_count_laplace`` — per-(event_type, day) counts released with
  deterministic Laplace noise: inverse-CDF transform of a 60-bit hash
  uniform, so the noise is reproducible across engines and runs (real
  deployments would use a secret seed and drop the exact column; the exact
  column here is the correctness artifact the oracle hashes).

Reference parity: the reference curates one summary per document
(summarize.py); preference pairs are the next dataset shape up, and DP
counts are the publishable form of its aggregate reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.functions.text import quality_score
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import query

HASH_SPACE = float(1 << 60)
DP_EPSILON = 0.5  # per-count privacy budget; sensitivity 1 → b = 1/ε = 2
DP_B = 1.0 / DP_EPSILON

# quality formula (shared constants with functions/text.quality_score /
# the text_quality oracle) as a DuckDB CTE fragment
_QUALITY_CTE = """
ws AS (SELECT doc_id, source, lang, string_split(text, ' ') AS w FROM documents),
feat AS (
  SELECT doc_id, source, lang,
         len(w) AS n_words,
         list_reduce(list_transform(w, x -> CAST(length(x) AS DOUBLE)), (a, b) -> a + b)
           / len(w) AS mean_word_len,
         CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE)
           / len(w) AS stopword_ratio,
         CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS unique_ratio
  FROM ws
),
q AS (
  SELECT doc_id, source, lang,
         round((
           (CASE WHEN n_words BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
           + (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
           + least(stopword_ratio * 5.0, 1.0)
           + unique_ratio
         ) / 4.0, 4) AS quality
  FROM feat
)"""


@query(
    "dpo_pair_build",
    oracle=f"""
WITH {_QUALITY_CTE},
ranked AS (
  SELECT doc_id, source, lang, quality,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY quality DESC, doc_id) AS rn_best,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY quality ASC, doc_id DESC) AS rn_worst,
         count(*) OVER (PARTITION BY source, lang) AS n_candidates
  FROM q
)
SELECT b.source || '/' || b.lang AS prompt_key,
       CAST(b.n_candidates AS BIGINT) AS n_candidates,
       b.doc_id AS chosen_id, w.doc_id AS rejected_id,
       b.quality AS chosen_q, w.quality AS rejected_q,
       round(b.quality - w.quality, 4) AS margin
FROM ranked b JOIN ranked w
  ON b.source = w.source AND b.lang = w.lang
WHERE b.rn_best = 1 AND w.rn_worst = 1 AND b.doc_id <> w.doc_id
""",
)
def dpo_pair_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference pairs for DPO training: within each prompt group
    (source, lang), chosen = the quality-score argmax and rejected = the
    argmin, both under total orders (quality, doc_id) so ties cannot flip
    the pair between runs; single-candidate groups drop (chosen == rejected
    is filtered). Emits the margin — downstream training typically weights
    or floors on it.

    Scale shape: the score is a narrow codegen column; the two extrema
    come from two row_number windows over ONE (source, lang) shuffle; the
    final self-join matches exactly one row per group on the group key. At
    100 TB each prompt group sorts independently — real prompt ids give
    millions of small partitions, the shape Spark windows distribute best."""
    docs = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    q = docs.select(
        "doc_id",
        "source",
        "lang",
        F.round(quality_score("text", ws), 4).alias("quality"),
    )
    grp = Window.partitionBy("source", "lang")
    ranked = q.select(
        "doc_id",
        "source",
        "lang",
        "quality",
        F.row_number()
        .over(grp.orderBy(F.desc("quality"), "doc_id"))
        .alias("rn_best"),
        F.row_number()
        .over(grp.orderBy(F.asc("quality"), F.desc("doc_id")))
        .alias("rn_worst"),
        F.count("*").over(grp).cast("long").alias("n_candidates"),
    )
    best = ranked.filter(F.col("rn_best") == 1).select(
        "source",
        "lang",
        "n_candidates",
        F.col("doc_id").alias("chosen_id"),
        F.col("quality").alias("chosen_q"),
    )
    worst = ranked.filter(F.col("rn_worst") == 1).select(
        "source",
        "lang",
        F.col("doc_id").alias("rejected_id"),
        F.col("quality").alias("rejected_q"),
    )
    return (
        best.join(worst, ["source", "lang"])
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            F.concat_ws("/", "source", "lang").alias("prompt_key"),
            "n_candidates",
            "chosen_id",
            "rejected_id",
            "chosen_q",
            "rejected_q",
            F.round(F.col("chosen_q") - F.col("rejected_q"), 4).alias("margin"),
        )
    )


@query(
    "dp_count_laplace",
    oracle=f"""
WITH cnt AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS true_count
  FROM events GROUP BY 1, 2
),
noised AS (
  SELECT event_type, day, true_count,
         CAST(('0x' || substring(md5(event_type || '|' || CAST(day AS VARCHAR)), 1, 15)) AS BIGINT)
           / {HASH_SPACE!r} - 0.5 AS u
  FROM cnt
)
SELECT event_type, CAST(strftime(day, '%Y-%m-%d') AS VARCHAR) AS day,
       true_count,
       round(-{DP_B!r} * sign(u) * ln(1.0 - 2.0 * abs(u)), 6) AS noise,
       round(true_count - {DP_B!r} * sign(u) * ln(1.0 - 2.0 * abs(u)), 6) AS dp_count
FROM noised
""",
)
def dp_count_laplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private daily event counts: Laplace(b = 1/ε = {DP_B})
    noise by inverse-CDF transform — u = 60-bit md5 hash of the group key
    mapped to [-0.5, 0.5), noise = −b·sign(u)·ln(1 − 2|u|). The hash makes
    the draw deterministic and engine-portable (the oracle replays it
    bit-for-bit; a deployment would key the hash with a secret and omit
    true_count). ln() of an identical double rounds to 6dp identically on
    both engines — the established libm-parity grid.

    Scale shape: one hash-agg to (type, day) cells, then narrow scalar
    math; the noise column costs one md5 per CELL, not per event."""
    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("true_count"))
    u = (
        hash60(F.concat_ws("|", "event_type", F.col("day").cast("string")))
        / F.lit(HASH_SPACE)
        - 0.5
    )
    noise = -F.lit(DP_B) * F.signum(u) * F.log(1.0 - 2.0 * F.abs(u))
    return cnt.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "true_count",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("true_count") + noise, 6).alias("dp_count"),
    )
