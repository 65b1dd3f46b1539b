"""Curation wave 7: corpus-composition gates.

- ``text_code_detection`` — code-vs-prose detection by symbol statistics
  (brace/bracket/operator density, indented-line ratio, identifier
  casing), the gate that routes documents into code vs natural-language
  training mixes — a composition decision every pretraining corpus makes
  before mixing (text_gopher_rules is the quality sibling; this is the
  modality router).
- ``curation_token_budget_fill`` — fill a fixed token budget greedily by
  quality-per-token: rank documents by a deterministic quality score,
  admit while the running token total fits. The final assembly step after
  dedup/quality/mixing — "we can afford N tokens; which documents ship?"
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.operators.quantiles import ranged_rank_cumsum
from nocouncil_etl_spark.registry import query

CODE_SYMBOLS = "{};=()[]<>"
CODE_SCORE_THRESHOLD = 25  # per-mille symbol density above which doc = code

TOKEN_BUDGET = 20_000




@query(
    "text_code_detection",
    oracle=f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN
           text || chr(10)
                || repeat('if (x[i] >= y) {{ z = arr[i]; emit(z); }}' || chr(10),
                          greatest(1, CAST(n_chars AS BIGINT) // 150))
         ELSE text END AS text
  FROM documents
),
stats AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(replace(replace(replace(replace(replace(
              replace(replace(replace(replace(text,
              '{{', ''), '}}', ''), ';', ''), '=', ''), '(', ''),
              ')', ''), '[', ''), ']', ''), '<', '')) AS BIGINT) AS n_sym,
         CAST(len(list_filter(string_split(text, chr(10)),
              l -> l LIKE '    %' OR l LIKE chr(9) || '%')) AS BIGINT)
           AS n_indented,
         CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9_]+'),
              t -> regexp_matches(t, '^[a-z]+[A-Z]'))) AS BIGINT)
           AS n_camel,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
  FROM aug
)
SELECT doc_id, n_chars, n_sym, n_indented, n_camel,
       (n_sym * 1000) // n_chars AS sym_per_mille,
       CAST((n_sym * 1000) // n_chars >= {CODE_SCORE_THRESHOLD}
            AS BOOLEAN) AS is_code
FROM stats WHERE n_chars > 0
""",
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose router: counts code-shaped symbols ({CODE_SYMBOLS}
    minus '>' kept implicit via '<'-pairing), 4-space/tab-indented lines,
    and camelCase identifiers; the routing decision is an integer
    per-mille symbol density against threshold {CODE_SCORE_THRESHOLD}.
    All counts exact integers (replace-difference and list_filter
    semantics match Spark's translate/filter), so the gate is
    engine-portable bit-for-bit.

    Scale shape: one narrow projection — every statistic is a scalar
    expression over the text column, no shuffle at all until a consumer
    aggregates. The cheapest possible modality router at 100 TB."""
    raw = load(spark, sf_dir, "documents")
    # planted fixture: every 7th doc gets a deterministic code tail sized
    # ∝ its length, so the router has exact ground truth on both engines
    # (the same planted-fixture discipline as the fuzzy-dedup typo copies).
    docs = raw.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit("\n"),
                F.repeat(
                    F.lit("if (x[i] >= y) { z = arr[i]; emit(z); }\n"),
                    F.greatest(
                        F.lit(1),
                        F.expr("CAST(n_chars AS BIGINT) div 150").cast("int"),
                    ),
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # translate() deletes every listed char — the Spark twin of the
    # nested-replace difference in the oracle (same 9 symbols).
    n_sym = F.length("text") - F.length(
        F.translate(F.col("text"), "{};=()[]<", "")
    )
    lines = F.split(F.col("text"), "\n")
    n_indented = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("    ") | l.startswith("\t"),
        )
    )
    n_camel = F.size(
        F.filter(
            F.split(F.col("text"), "[^A-Za-z0-9_]+"),
            lambda t: t.rlike("^[a-z]+[A-Z]"),
        )
    )
    stats = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_sym.cast("long").alias("n_sym"),
        n_indented.cast("long").alias("n_indented"),
        n_camel.cast("long").alias("n_camel"),
        F.size(lines).cast("long").alias("n_lines"),
    ).filter(F.col("n_chars") > 0)
    density = F.expr("(n_sym * 1000) div n_chars")
    return stats.select(
        "doc_id",
        "n_chars",
        "n_sym",
        "n_indented",
        "n_camel",
        density.alias("sym_per_mille"),
        (density >= CODE_SCORE_THRESHOLD).alias("is_code"),
    )


@query(
    "curation_token_budget_fill",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(lower(text),
              '[^a-z0-9]+'), t -> length(t) > 0)) AS BIGINT) AS n_tokens,
         CAST(n_chars AS BIGINT)
           - CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
           AS quality
  FROM documents
),
ranked AS (
  SELECT doc_id, source, n_tokens, quality,
         CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM scored WHERE n_tokens > 0
)
SELECT doc_id, source, n_tokens, quality, cum_tokens
FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET}
""",
)
def curation_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget assembly: rank documents by a deterministic
    quality score (chars minus spaces — a stand-in for any upstream
    quality model; the ordering is the operator, not the score), admit in
    (quality desc, doc_id) order while the running token total stays
    within {TOKEN_BUDGET}. Emits the admitted set with its cumulative
    accounting — the reproducible answer to "which documents are in this
    training run?".

    Scale shape: one narrow token-count pass, then the running total via
    the range-partitioned two-phase scan (no global sort, no Fenwick
    explode — quality is near-unique, the ranged scan's domain), exact
    at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: F.length(t) > 0,
        )
    )
    quality = F.col("n_chars").cast("long") - (
        F.length("text") - F.length(F.translate(F.col("text"), " ", ""))
    )
    scored = docs.select(
        "doc_id",
        "source",
        n_tokens.cast("long").alias("n_tokens"),
        quality.cast("long").alias("quality"),
    ).filter(F.col("n_tokens") > 0)
    # r9: the greedy-fill running total via the range-partitioned
    # two-phase scan on (-quality, doc_id) — quality (chars minus spaces)
    # is a NEAR-UNIQUE domain, where the r7 Fenwick pass paid its
    # O(levels) explode per distinct value (measured 4.4x at 10x data;
    # this swap took sf1 from 5.96 s to flat). Ascending (-quality,
    # doc_id) IS (quality desc, doc_id) — the greedy admit order.
    ranked = ranged_rank_cumsum(
        scored.withColumn("_negq", -F.col("quality")),
        "_negq",
        "doc_id",
        ("n_tokens",),
    ).select(
        "doc_id",
        "source",
        "n_tokens",
        "quality",
        F.col("cum_n_tokens").alias("cum_tokens"),
    )
    return ranked.filter(F.col("cum_tokens") <= TOKEN_BUDGET)


# --------------------------------------------------------------------------
# Jensen-Shannon divergence per source vs rest-of-corpus
# --------------------------------------------------------------------------

JSD_VOCAB = 30


@query(
    "text_jsd_sources",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(list_filter(regexp_split_to_array(lower(text),
       '[^a-z0-9]+'), t -> length(t) > 0)) AS term
  FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY term
  ) ORDER BY n DESC, term LIMIT {JSD_VOCAB}
),
vt AS (SELECT source, term FROM tok WHERE term IN (SELECT term FROM vocab)),
per_src AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c
  FROM vt GROUP BY source, term
),
src_tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM per_src GROUP BY source),
all_tot AS (
  SELECT term, CAST(sum(c) AS BIGINT) AS c_all FROM per_src GROUP BY term
),
grand AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_all FROM all_tot),
cells AS (
  SELECT s.source, v.term,
         coalesce(p.c, 0) AS c_s, st.n AS n_s,
         a.c_all - coalesce(p.c, 0) AS c_r,
         (SELECT n_all FROM grand) - st.n AS n_r
  FROM src_tot st
  CROSS JOIN vocab v
  JOIN (SELECT DISTINCT source FROM per_src) s ON s.source = st.source
  JOIN all_tot a ON a.term = v.term
  LEFT JOIN per_src p ON p.source = st.source AND p.term = v.term
),
terms AS (
  SELECT source,
         CAST(c_s AS DOUBLE) / n_s AS p,
         CAST(c_r AS DOUBLE) / n_r AS q
  FROM cells
),
parts AS (
  SELECT source,
         CASE WHEN p > 0 THEN
           CAST(round(0.5 * p * ln(p / (0.5 * p + 0.5 * q)), 6)
                AS DECIMAL(18, 6))
         ELSE CAST(0 AS DECIMAL(18, 6)) END
         + CASE WHEN q > 0 THEN
           CAST(round(0.5 * q * ln(q / (0.5 * p + 0.5 * q)), 6)
                AS DECIMAL(18, 6))
         ELSE CAST(0 AS DECIMAL(18, 6)) END AS jsd_part
  FROM terms
)
SELECT source, CAST(sum(jsd_part) AS DOUBLE) AS jsd_nats
FROM parts GROUP BY source
""",
)
def text_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's token distribution (over
    the top-{JSD_VOCAB} corpus vocabulary) against the REST of the corpus
    — the symmetric, bounded drift score that flags an off-distribution
    source before it pollutes a training mix (PSI is the binned sibling;
    JSD is the distributional one). Each ½p·ln(p/m) term quantizes to
    DECIMAL(18,6) before the per-source sum; probabilities are exact count
    ratios, so ln() runs on identical doubles.

    Scale shape: token stream → (source, term) hash-agg restricted to the
    chosen vocabulary (|sources|·V state), the rest is arithmetic on that
    contingency table — one data-sized pass total."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("term"),
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(JSD_VOCAB)
        .select("term")
    )
    vt = tok.join(F.broadcast(vocab), "term")
    per_src = vt.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_src.persist()
    src_tot = per_src.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    all_tot = per_src.groupBy("term").agg(
        F.sum("c").cast("long").alias("c_all")
    )
    n_all = per_src.agg(F.sum("c")).collect()[0][0]  # one scalar
    cells = (
        src_tot.crossJoin(F.broadcast(vocab))
        .join(F.broadcast(all_tot), "term")
        .join(per_src, ["source", "term"], "left")
        .select(
            "source",
            "term",
            F.coalesce("c", F.lit(0)).alias("c_s"),
            F.col("n").alias("n_s"),
            (F.col("c_all") - F.coalesce("c", F.lit(0))).alias("c_r"),
            (F.lit(n_all) - F.col("n")).alias("n_r"),
        )
    )
    p = F.col("c_s").cast("double") / F.col("n_s")
    q = F.col("c_r").cast("double") / F.col("n_r")
    m = 0.5 * p + 0.5 * q
    zero = F.lit(0).cast("decimal(18,6)")
    part = F.when(
        p > 0, F.round(0.5 * p * F.log(p / m), 6).cast("decimal(18,6)")
    ).otherwise(zero) + F.when(
        q > 0, F.round(0.5 * q * F.log(q / m), 6).cast("decimal(18,6)")
    ).otherwise(zero)
    return (
        cells.select("source", part.alias("jsd_part"))
        .groupBy("source")
        .agg(F.sum("jsd_part").alias("jsd_dec"))
        .select("source", F.col("jsd_dec").cast("double").alias("jsd_nats"))
    )


# --------------------------------------------------------------------------
# license compliance gate (planted license notices)
# --------------------------------------------------------------------------


@query(
    "curation_license_gate",
    oracle="""
WITH aug AS (
  SELECT doc_id, source,
         text || CASE
           WHEN doc_id % 11 = 0 THEN ' Licensed under CC-BY-4.0.'
           WHEN doc_id % 11 = 1 THEN ' Licensed under CC-BY-NC-2.0.'
           WHEN doc_id % 11 = 2 THEN ' All rights reserved.'
           ELSE '' END AS text
  FROM documents
),
classified AS (
  SELECT doc_id, source,
         CASE
           WHEN regexp_matches(text, 'CC-BY-NC') THEN 'cc-by-nc'
           WHEN regexp_matches(text, 'CC-BY') THEN 'cc-by'
           WHEN regexp_matches(lower(text), 'all rights reserved')
             THEN 'all-rights-reserved'
           ELSE 'unknown' END AS license,
         CASE
           WHEN regexp_matches(text, 'CC-BY-NC') THEN FALSE
           WHEN regexp_matches(text, 'CC-BY') THEN TRUE
           WHEN regexp_matches(lower(text), 'all rights reserved') THEN FALSE
           ELSE FALSE END AS train_ok
  FROM aug
)
SELECT license, train_ok, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
FROM classified GROUP BY license, train_ok
""",
)
def curation_license_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License-compliance gate: classify each document by its license
    notice (precedence: CC-BY-NC before CC-BY — the substring trap that
    mislabels NC content as permissive is exactly what the ordering
    guards) and decide trainability (permissive CC-BY only; NC,
    all-rights-reserved, and UNKNOWN all excluded — unknown-means-no is
    the conservative policy every compliant corpus runs). License tails
    are planted deterministically (doc_id % 11 ∈ {0,1,2}) so the gate has
    exact ground truth on both engines. Emits the audit rollup per
    (license, decision).

    Scale shape: one narrow regex classification pass + a tiny rollup —
    the gate composes as a filter pushed into any downstream curation
    scan."""
    raw = load(spark, sf_dir, "documents")
    docs = raw.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" Licensed under CC-BY-4.0."))
            .when(F.col("doc_id") % 11 == 1, F.lit(" Licensed under CC-BY-NC-2.0."))
            .when(F.col("doc_id") % 11 == 2, F.lit(" All rights reserved."))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    is_nc = F.col("text").rlike("CC-BY-NC")
    is_by = F.col("text").rlike("CC-BY")
    is_arr = F.lower(F.col("text")).rlike("all rights reserved")
    classified = docs.select(
        "doc_id",
        F.when(is_nc, "cc-by-nc")
        .when(is_by, "cc-by")
        .when(is_arr, "all-rights-reserved")
        .otherwise("unknown")
        .alias("license"),
        F.when(is_nc, F.lit(False))
        .when(is_by, F.lit(True))
        .when(is_arr, F.lit(False))
        .otherwise(F.lit(False))
        .alias("train_ok"),
    )
    return classified.groupBy("license", "train_ok").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )
