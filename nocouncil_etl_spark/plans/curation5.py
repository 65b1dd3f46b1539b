"""Round-5 curation: incremental (CDC-driven) curation of a persisted
curated corpus.

The reference's operating mode is a daily cron that re-processes only what
is new (sample_cron_job.sh:3-8; skip-if-done gates at
transcribe_council.py:119,127 and the seen-set in newscrawler.py:349-351).
At corpus scale that becomes: keep the curated state as a parquet table,
apply each micro-batch's change feed with MERGE semantics, and recompute
derived metrics ONLY for the changed documents — never a full-corpus
rescan. ``curation_incremental_e2e`` proves the contract that makes that
safe: the incrementally-maintained state is ROW-IDENTICAL to a full batch
rerun over the merged corpus (the oracle IS the full rerun).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import DEC, hash60, pct_bucket
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.plans.curation4 import _changes
from nocouncil_etl_spark.registry import query

MIN_WORDS = 3  # curation gate: droplets below this never enter the corpus


def _curate(df: DataFrame, text_col: str, version) -> DataFrame:
    """Per-doc curation metrics — the (cheap, deterministic) stand-in for
    the full quality stage; what matters here is WHERE it runs: over the
    whole corpus in batch 1, over only the changed rows afterward."""
    return (
        df.select(
            "doc_id",
            "source",
            F.size(F.split(F.col(text_col), " ")).alias("n_words"),
            F.lit(version).alias("version"),
        )
        .filter(F.col("n_words") >= MIN_WORDS)
    )


@query(
    "curation_incremental_e2e",
    oracle=f"""
WITH chg AS (
  SELECT doc_id, 'U' AS op, 'rev2: ' || substr(text, 1, 40) AS new_text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 'D', NULL FROM documents WHERE doc_id % 7 = 3 AND doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id + 200000, 'I', 'new: ' || substr(text, 1, 40)
  FROM documents WHERE doc_id % 9 = 1
),
merged AS (
  SELECT b.doc_id, b.source, coalesce(c.new_text, b.text) AS text,
         CASE WHEN c.op = 'U' THEN 2 ELSE 1 END AS version
  FROM documents b
  LEFT JOIN (SELECT * FROM chg WHERE op <> 'I') c ON b.doc_id = c.doc_id
  WHERE c.op IS NULL OR c.op = 'U'
  UNION ALL
  SELECT doc_id, 'cdc' AS source, new_text AS text, 2 AS version
  FROM chg WHERE op = 'I'
),
m AS (
  SELECT doc_id, source, version, len(string_split(text, ' ')) AS n_words
  FROM merged
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       round(CAST(sum(CAST(n_words AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
         AS avg_words,
       count(*) FILTER (WHERE version = 2) AS n_changed
FROM m WHERE n_words >= {MIN_WORDS}
GROUP BY source
""",
)
def curation_incremental_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation e2e: (micro-batch 1) curate the base corpus and
    PUBLISH the curated state as parquet; (micro-batch 2) apply the CDC
    feed by recomputing metrics ONLY for the changed/new documents and
    MERGE-ing them into the state read back from the artifact — updates
    replace, deletes drop, inserts append (merge_upsert_cdc's key-join
    semantics, plans/curation4.py). The final per-source accounting is
    hash-compared against a FULL batch rerun over the CDC-merged corpus:
    incremental maintenance ≡ recompute-from-scratch, the invariant that
    lets a daily pipeline touch only the day's delta at 100 TB.

    Scale shape: batch 2 never rescans the corpus text — its inputs are the
    (small) change feed and the published state table; the merge is one
    left-anti join on the primary key + a union of the recurated slice.
    The accounting sums are decimal-exact so incremental and full-batch
    paths fold identically."""
    state_dir = os.path.join(
        tempfile.gettempdir(),
        "nocouncil_etl_spark_scratch",
        f"curated_state_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    base = load(spark, sf_dir, "documents").select("doc_id", "source", "text")

    # ---- micro-batch 1: full curation pass, published once -----------------
    _curate(base, "text", 1).write.mode("overwrite").parquet(state_dir)

    # ---- micro-batch 2: CDC delta only -------------------------------------
    state0 = spark.read.schema(
        "doc_id long, source string, n_words int, version int"
    ).parquet(state_dir)
    chg = _changes(base)
    upd = _curate(
        chg.filter(F.col("op") == "U")
        .join(base.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", F.col("new_text").alias("text")),
        "text",
        2,
    )
    ins = _curate(
        chg.filter(F.col("op") == "I").select(
            "doc_id", F.lit("cdc").alias("source"),
            F.col("new_text").alias("text"),
        ),
        "text",
        2,
    )
    touched = chg.filter(F.col("op") != "I").select("doc_id")
    state1 = (
        state0.join(touched, "doc_id", "left_anti")
        .unionByName(upd)
        .unionByName(ins)
    )
    return state1.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.round(
            F.sum(F.col("n_words").cast(DEC)).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_words"),
        F.count(F.when(F.col("version") == 2, 1)).alias("n_changed"),
    )


@query(
    "io_versioned_snapshot",
    oracle=f"""
WITH chg AS (
  SELECT doc_id, 'U' AS op, 'rev2: ' || substr(text, 1, 40) AS new_text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 'D', NULL FROM documents WHERE doc_id % 7 = 3 AND doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id + 200000, 'I', 'new: ' || substr(text, 1, 40)
  FROM documents WHERE doc_id % 9 = 1
),
merged AS (
  SELECT b.doc_id, b.source, coalesce(c.new_text, b.text) AS text
  FROM documents b
  LEFT JOIN (SELECT * FROM chg WHERE op <> 'I') c ON b.doc_id = c.doc_id
  WHERE c.op IS NULL OR c.op = 'U'
  UNION ALL
  SELECT doc_id, 'cdc', new_text FROM chg WHERE op = 'I'
),
v1 AS (
  SELECT 1 AS v, source, len(string_split(text, ' ')) AS n_words
  FROM documents
),
v2 AS (
  SELECT 2 AS v, source, len(string_split(text, ' ')) AS n_words
  FROM merged
),
u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT v, source, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS total_words
FROM u WHERE n_words >= {MIN_WORDS}
GROUP BY v, source
""",
)
def io_versioned_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned table (poor-man's time travel on plain parquet):
    each state transition publishes a NEW immutable version directory
    (v=1 the initial curation, v=2 after the CDC apply); partition
    discovery over the version root reads EVERY snapshot with its version
    as a column, so consumers can query any historical state or diff two
    versions — the audit/rollback semantics a Delta/Iceberg table gives,
    demonstrated on the layout primitives Spark already has. The oracle
    recomputes both snapshots from the source tables.

    Scale shape: versions are immutable appends of curated-state-sized
    parquet (never the raw corpus); reading one version is one pruned
    partition directory."""
    state_root = os.path.join(
        tempfile.gettempdir(),
        "nocouncil_etl_spark_scratch",
        f"versioned_state_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    base = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    chg = _changes(base)

    # version 1: initial curation
    _curate(base, "text", 1).write.mode("overwrite").parquet(f"{state_root}/v=1")
    # version 2: CDC applied — derived from the PUBLISHED v1, not recomputed
    v1 = spark.read.schema(
        "doc_id long, source string, n_words int, version int"
    ).parquet(f"{state_root}/v=1")
    upd = _curate(
        chg.filter(F.col("op") == "U")
        .join(base.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", F.col("new_text").alias("text")),
        "text",
        2,
    )
    ins = _curate(
        chg.filter(F.col("op") == "I").select(
            "doc_id", F.lit("cdc").alias("source"), F.col("new_text").alias("text")
        ),
        "text",
        2,
    )
    touched = chg.filter(F.col("op") != "I").select("doc_id")
    v2 = v1.join(touched, "doc_id", "left_anti").unionByName(upd).unionByName(ins)
    v2.write.mode("overwrite").parquet(f"{state_root}/v=2")

    # time travel: partition discovery turns version dirs into a column
    all_versions = spark.read.schema(
        "doc_id long, source string, n_words int, version int, v int"
    ).option("basePath", state_root).parquet(f"{state_root}/v=*")
    return all_versions.groupBy("v", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
    )


SFT_MIN_W, SFT_MAX_W = 10, 200   # quality gate bounds
SFT_PROMPT_W = 12                # prompt = first 12 words


@query(
    "pipeline_sft_e2e",
    oracle=f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 700000, text FROM documents WHERE doc_id % 11 = 0
),
g AS (
  SELECT doc_id, text FROM aug
  WHERE len(string_split(text, ' ')) BETWEEN {SFT_MIN_W} AND {SFT_MAX_W}
),
d AS (
  SELECT min(doc_id) AS doc_id, min(text) AS text
  FROM g GROUP BY md5(text)
),
s AS (
  SELECT text,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT text,
           (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
             AS b
    FROM d
  )
),
r AS (
  SELECT split,
         '<|user|>' || chr(10)
           || array_to_string((string_split(text, ' '))[1:{SFT_PROMPT_W}], ' ')
           || chr(10) || '<|assistant|>' || chr(10)
           || coalesce(array_to_string(
                (string_split(text, ' '))[{SFT_PROMPT_W + 1}:], ' '), '')
           || '<|end|>' AS rendered
  FROM s
)
SELECT split, count(*) AS n_examples,
       CAST(sum(length(rendered)) AS BIGINT) AS total_chars,
       CAST(bit_xor(('0x' || substr(md5(rendered), 1, 15))::BIGINT) AS BIGINT)
         AS content_xor
FROM r GROUP BY split
""",
)
def pipeline_sft_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT dataset build end-to-end: quality gate (word bounds) → exact
    dedup by content hash (duplicate copies are synthesized so the stage
    provably removes rows) → deterministic 80/10/10 id-hash split → chat-
    template rendering (prompt = first {SFT_PROMPT_W} words, completion =
    the rest) → per-split accounting with an order-independent CONTENT
    checksum (bit_xor of each rendered example's md5 prefix — any changed,
    dropped, or duplicated example anywhere in the pipeline flips it).
    Each stage is an operator proven alone (text_gopher_rules,
    dedup_exact, split_train_val_test, sft_chat_render); this composes
    them under one full-SQL oracle — the reference's pipeline shape
    (gate → dedup → emit) applied to SFT data production.

    Scale shape: the dedup groupBy keys on md5(text) so the shuffle
    carries hashes, not pairwise comparisons; everything else is narrow
    per-row compute + one split-keyed agg; bit_xor makes the checksum
    combine-order-independent at any parallelism."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "text"
    )
    aug = docs.unionByName(copies)
    g = aug.filter(
        F.size(F.split("text", " ")).between(SFT_MIN_W, SFT_MAX_W)
    )
    d = g.groupBy(F.md5("text").alias("k")).agg(
        F.min("doc_id").alias("doc_id"), F.min("text").alias("text")
    )
    b = pct_bucket("doc_id")
    split = (
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    w = F.split("text", " ")
    prompt = F.concat_ws(" ", F.slice(w, 1, SFT_PROMPT_W))
    completion = F.concat_ws(
        " ", F.expr(f"slice(split(text, ' '), {SFT_PROMPT_W + 1}, "
                    f"greatest(size(split(text, ' ')) - {SFT_PROMPT_W}, 0))")
    )
    nl = F.lit("\n")
    rendered = F.concat(
        F.lit("<|user|>"), nl, prompt, nl, F.lit("<|assistant|>"), nl,
        completion, F.lit("<|end|>"),
    )
    r = d.select(split.alias("split"), rendered.alias("rendered"))
    h = hash60("rendered")
    return r.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_examples"),
        F.sum(F.length("rendered")).cast("long").alias("total_chars"),
        F.expr(
            "bit_xor(CAST(conv(substring(md5(rendered), 1, 15), 16, 10) AS BIGINT))"
        ).alias("content_xor"),
    )


@query(
    "rollup_backfill_incremental",
    oracle="""
SELECT epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS day_us,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
FROM events
GROUP BY 1
""",
)
def rollup_backfill_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data backfill reconciliation of a daily rollup — the warehouse
    maintenance twin of curation_incremental_e2e, for AGGREGATES: the
    published rollup state covers the on-time events; when a late batch
    arrives (every 13th event, simulating backfill), only the AFFECTED
    DAYS are recomputed from source and swapped into the state — untouched
    days pass through from the artifact. The oracle is the full rollup
    over all events: hash equality proves day-partition replacement ≡
    recompute-from-scratch, the invariant that lets a daily pipeline
    reconcile late arrivals without reprocessing history.

    Scale shape: the recompute scans only the affected days (at 100 TB a
    day-partitioned source prunes to those partitions; the day filter is a
    broadcast semi-join here); the state merge is an anti-join on the day
    key + a union. Decimal-exact sums make both paths fold identically."""
    from nocouncil_etl_spark.functions.numeric import exact_sum

    state_dir = os.path.join(
        tempfile.gettempdir(),
        "nocouncil_etl_spark_scratch",
        f"rollup_state_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    on_time = ev.filter(F.col("event_id") % 13 != 0)
    late = ev.filter(F.col("event_id") % 13 == 0)

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("day").agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value").alias("total_dec"),
        )

    # publish the on-time state once (decimal carried as exact string to
    # dodge parquet decimal-scale renegotiation on re-read)
    rollup(on_time).withColumn(
        "total_dec", F.col("total_dec").cast("string")
    ).write.mode("overwrite").parquet(state_dir)
    state0 = spark.read.parquet(state_dir).withColumn(
        "total_dec", F.col("total_dec").cast("decimal(18,6)")
    )

    # reconcile: recompute ONLY the affected days from full source
    affected = late.select("day").distinct()
    recomputed = rollup(ev.join(F.broadcast(affected), "day"))
    merged = state0.join(affected, "day", "left_anti").unionByName(recomputed)
    return merged.select(
        F.unix_micros("day").alias("day_us"),
        "n",
        F.round(F.col("total_dec"), 2).cast("double").alias("total"),
    )


PPL_FLAG_MICRO = 8_000_000  # flag docs with avg NLL > 8.0 nats (1e-6 units)


@query(
    "curation_perplexity_filter",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
lm AS (
  SELECT term, count(*) AS n FROM toks GROUP BY term
),
meta AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM lm),
scored AS (
  SELECT t.doc_id,
         CAST(round(-ln(CAST(l.n AS DOUBLE) / (SELECT total FROM meta))
                    * 1000000) AS BIGINT) AS nll_micro
  FROM toks t JOIN lm l USING (term)
)
SELECT doc_id,
       count(*) AS n_tok,
       CAST(sum(nll_micro) AS BIGINT) AS nll_total_micro,
       CAST(sum(nll_micro) // count(*) AS BIGINT) AS avg_nll_micro,
       (sum(nll_micro) // count(*)) > {PPL_FLAG_MICRO} AS flagged
FROM scored GROUP BY doc_id
""",
)
def curation_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity scoring — the classic curation quality filter
    (docs whose tokens are improbable under the corpus's own language
    model are boilerplate, garbage, or wrong-language): estimate unigram
    probabilities from corpus counts, score each doc by its average
    negative log-likelihood, flag the high-perplexity tail. Each token's
    −ln p quantizes to INTEGER micro-nats once (one rounding per DISTINCT
    token), so per-doc sums are exact BIGINTs — a float NLL sum would fold
    in engine/partition order and flicker at the hash level.

    Scale shape: LM build = one vocab-sized agg; scoring = token stream ⋈
    broadcast LM (vocab-sized) + per-doc integer agg. Linear, two
    shuffles, no driver state."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    lm = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = lm.agg(F.sum("n").cast("long").alias("total"))
    lmp = lm.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(
            -F.log(F.col("n").cast("double") / F.col("total")) * 1000000, 0
        )
        .cast("long")
        .alias("nll_micro"),
    )
    scored = toks.join(F.broadcast(lmp), "term")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum("nll_micro").cast("long").alias("nll_total_micro"),
        F.expr("CAST(sum(nll_micro) div count(*) AS BIGINT)").alias(
            "avg_nll_micro"
        ),
        (
            F.expr("sum(nll_micro) div count(*)") > PPL_FLAG_MICRO
        ).alias("flagged"),
    )


@query(
    "io_snapshot_diff",
    oracle="""
WITH chg AS (
  SELECT doc_id, 'U' AS op, 'rev2: ' || substr(text, 1, 40) AS new_text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id, 'D', NULL FROM documents WHERE doc_id % 7 = 3 AND doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id + 200000, 'I', 'new: ' || substr(text, 1, 40)
  FROM documents WHERE doc_id % 9 = 1
),
v2 AS (
  SELECT b.doc_id, coalesce(c.new_text, b.text) AS text
  FROM documents b
  LEFT JOIN (SELECT * FROM chg WHERE op <> 'I') c ON b.doc_id = c.doc_id
  WHERE c.op IS NULL OR c.op = 'U'
  UNION ALL
  SELECT doc_id, new_text FROM chg WHERE op = 'I'
),
d AS (
  SELECT CASE
           WHEN a.doc_id IS NULL THEN 'added'
           WHEN b.doc_id IS NULL THEN 'removed'
           WHEN md5(a.text) <> md5(b.text) THEN 'changed'
           ELSE 'unchanged'
         END AS status
  FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
)
SELECT status, count(*) AS n FROM d GROUP BY status
""",
)
def io_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two corpus versions (v1 = base, v2 =
    after the CDC apply) into added / removed / changed / unchanged
    counts via one full-outer join on the key with content-hash
    comparison — the audit report run after every merge or migration
    ("did the upgrade touch exactly what the change feed said it
    would"). Content equality goes through md5 so the comparison ships
    hashes, not full text, across the join at scale.

    Scale shape: one full-outer equi-join on the primary key + a 4-row
    agg; the hash projection prunes the text columns before the
    shuffle."""
    base = load(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    chg = _changes(load(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    matched = chg.filter(F.col("op") != "I")
    v2 = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .join(matched, "doc_id", "left")
        .filter(F.col("op").isNull() | (F.col("op") == "U"))
        .select("doc_id", F.md5(F.coalesce("new_text", "text")).alias("h2"))
        .unionByName(
            chg.filter(F.col("op") == "I").select(
                "doc_id", F.md5("new_text").alias("h2")
            )
        )
    )
    d = base.join(v2, "doc_id", "full_outer").select(
        F.when(F.col("h").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("status")
    )
    return d.groupBy("status").agg(F.count(F.lit(1)).alias("n"))
