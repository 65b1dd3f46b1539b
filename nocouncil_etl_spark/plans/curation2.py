"""Training-data curation breadth (north-star §1.4 beyond the reference):
deterministic sampling, stratified source mixing, train/val/test splits,
fixed-budget sequence packing, and benchmark-contamination detection.

Everything is hash-deterministic (md5 buckets, never rand()) so runs are
reproducible, resumable, and oracle-checkable — the property a 100 TB
pipeline needs anyway: a retried task must sample the SAME rows.

Scale shapes: sampling/split are narrow maps over a codegen'd md5; packing
is one keyed window (cumulative token sum per source — no global order);
contamination explodes n-grams (linear), dedups per doc, and broadcast-joins
the (small) benchmark gram set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import pct_bucket
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.registry import query

SAMPLE_PCT = 10          # sample_hash_fraction keep-rate (of 100)
RATE_EVEN, RATE_ODD = 50, 20   # stratified per-source keep-rates
TRAIN_PCT, VAL_PCT = 80, 10    # split: <80 train, <90 val, else test
PACK_BUDGET = 512        # tokens per packed sequence
CONTAM_N = 3             # n-gram width for contamination


_BUCKET_SQL = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)"


@query(
    "sample_hash_fraction",
    oracle=f"""
SELECT doc_id, source, n_chars
FROM documents
WHERE {_BUCKET_SQL} < {SAMPLE_PCT}
""",
)
def sample_hash_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~{SAMPLE_PCT}% sample by id-hash bucket: reproducible
    across runs/retries (df.sample() is not — it reseeds per task attempt),
    and a pure pushdown-friendly narrow filter at any scale."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(pct_bucket("doc_id") < SAMPLE_PCT).select(
        "doc_id", "source", "n_chars"
    )


@query(
    "sample_stratified_mix",
    oracle=f"""
SELECT source, count(*) AS n_kept
FROM documents
WHERE {_BUCKET_SQL} <
      CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
           THEN {RATE_EVEN} ELSE {RATE_ODD} END
GROUP BY source
""",
)
def sample_stratified_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted mixing: per-source keep-rates (the data-mixture knob
    of a pretraining pipeline) on the same deterministic bucket — one scan,
    no per-source passes, rates changeable without reshuffling history."""
    docs = load(spark, sf_dir, "documents")
    rate = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(RATE_EVEN)
    ).otherwise(F.lit(RATE_ODD))
    return (
        docs.filter(pct_bucket("doc_id") < rate)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


@query(
    "split_train_val_test",
    oracle=f"""
SELECT CASE WHEN {_BUCKET_SQL} < {TRAIN_PCT} THEN 'train'
            WHEN {_BUCKET_SQL} < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY 1
""",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {TRAIN_PCT}/{VAL_PCT}/{100 - TRAIN_PCT - VAL_PCT}
    split by id-hash — membership is a property of the row, so re-runs,
    backfills, and late-arriving data land in the same split forever."""
    docs = load(spark, sf_dir, "documents")
    b = pct_bucket("doc_id")
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
    )


@query(
    "pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
),
c AS (
  SELECT source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT source, CAST(floor((cum - n_tok) / {PACK_BUDGET}) AS BIGINT) AS pack_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens
FROM c
GROUP BY 1, 2
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: stream docs (per source, in id order) into
    ~{PACK_BUDGET}-token bins by cumulative-sum bucketing — the shuffle-free
    window form of greedy packing (a bin closes when the running total
    crosses a budget multiple). Integer token counts ⇒ exact sums, no float
    parity concerns. One keyed window per source: no global order, so this
    scales to any number of sources in parallel."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = docs.select(
        "source",
        "doc_id",
        n_tok.alias("n_tok"),
    ).withColumn("cum", F.sum("n_tok").over(w))
    return (
        c.withColumn(
            "pack_id",
            F.floor((F.col("cum") - F.col("n_tok")) / PACK_BUDGET).cast("bigint"),
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
        )
    )


@query(
    "contamination_ngrams",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - {CONTAM_N} + 2),
                               i -> md5(array_to_string(w[i:i+{CONTAM_N - 1}], ' ')))) AS gh
  FROM t WHERE len(w) >= {CONTAM_N}
),
bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
train AS (SELECT doc_id, gh FROM g WHERE doc_id % 97 <> 0)
SELECT train.doc_id, count(*) AS n_hits
FROM train JOIN bench ON train.gh = bench.gh
GROUP BY train.doc_id
""",
)
def contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: train docs sharing any {CONTAM_N}-gram
    with the held-out benchmark set (doc_id % 97 = 0 stands in for an eval
    suite). Explode → per-doc distinct gram hash (codegen md5) →
    broadcast-join the small benchmark gram set → per-doc hit count. The
    cross-dataset twin of MinHash dedup: linear stages only, candidate work
    bounded by the benchmark's gram count.

    The doc_id%97 split is applied BEFORE the explode, not on a shared
    post-explode gram table: the bench branch then explodes only 1/97th of
    the corpus to build its broadcast set, and the train branch pays exactly
    one full-corpus explode + one (doc_id, gh) dedup shuffle. The shared-table
    form executed the explode+md5+dedup pipeline once per branch — measured
    ~2x the work at sf1 (r9 scale triage)."""
    docs = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    idx = F.sequence(F.lit(1), F.size(ws) - (CONTAM_N - 1))
    mk = lambda i: F.md5(  # noqa: E731
        F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(CONTAM_N)])
    )

    def grams(df: DataFrame) -> DataFrame:
        return fan_out(df.filter(F.size(ws) >= CONTAM_N)).select(
            "doc_id", F.explode(F.transform(idx, mk)).alias("gh")
        )

    bench = grams(docs.filter(F.col("doc_id") % 97 == 0)).select("gh").distinct()
    train = grams(docs.filter(F.col("doc_id") % 97 != 0)).dropDuplicates(
        ["doc_id", "gh"]
    )
    return (
        train.join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
