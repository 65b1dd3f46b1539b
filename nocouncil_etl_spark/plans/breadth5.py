"""Breadth batch 5: regression/EMA analytics, Markov transitions, retrieval
structures, distribution windows.

- ``agg_linear_regression``  — per-group least-squares fit (slope /
  intercept / r²) from decimal-exact co-moments, the trend-line sibling of
  agg_correlation (engine-native regr_* fold floats in engine order).
- ``ts_ema_fixedpoint``      — exponential moving average with α = 1/2 over
  the trailing 16 observations, entirely in integer fixed-point: the
  recursive smoother every metrics stack pairs with the rolling mean,
  made oracle-exact by unrolling the truncated recursion into power-of-two
  weights (both engines compute the IDENTICAL finite sum).
- ``session_transitions``    — per-user event-type bigram (Markov
  transition) counts + row-normalized probabilities; the behavioral model
  behind next-event prediction features.
- ``text_inverted_index``    — term → ordered posting list (doc, position)
  with document frequencies: the retrieval index build step, bounded to
  vocabulary-frequency terms.
- ``window_cume_dist``       — cume_dist / percent_rank value distributions
  per event type (both defined by tie-insensitive counts, so they are
  engine-portable where ntile/rank games are not).
- ``text_term_cooccurrence`` — PMI co-occurrence over the top-50 document-
  frequency vocabulary: the phrase/topic-mining step of corpus analysis;
  the vocabulary cap is what keeps the pair space constant at any corpus
  size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.plans.retrieval_plans import _TOK_SPARK, _TOK_SQL
from nocouncil_etl_spark.registry import query

EMA_LAGS = 16      # truncated EMA horizon (weight 2^-(j+1), j = 0..15)
EMA_DEN = 1 << EMA_LAGS
COOC_VOCAB = 50    # top-df vocabulary size — FIXED, corpus-size-independent
COOC_MIN_PAIR = 5
IDX_MIN_DOCS = 25  # inverted index bounded to vocabulary-frequency terms
IDX_POSTINGS = 5   # sample postings kept per term


# --------------------------------------------------------------------------
# 1. per-group linear regression from exact co-moments
# --------------------------------------------------------------------------


@query(
    "agg_linear_regression",
    oracle="""
WITH c AS (
  SELECT event_type, value AS y,
         (epoch_us(ts) - 1704067200000000) / 1000000 AS x
  FROM events
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(24,6))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y * y AS DECIMAL(18,6))) AS DOUBLE) AS syy,
         CAST(sum(CAST(x * y AS DECIMAL(24,6))) AS DOUBLE) AS sxy
  FROM c GROUP BY event_type
)
SELECT event_type, n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m
""",
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend per event type — value regressed on seconds since
    2024-01-01 — from the same decimal-exact co-moment kernel as
    agg_correlation: n, Σx, Σy, Σx², Σy², Σxy accumulate on the DECIMAL
    grid (order-independent), then the closed forms divide identical
    doubles on both engines. Engine-native regr_slope/regr_r2 fold floats
    in engine-specific order and drift at the value-hash level.

    Scale shape: one hash agg with map-side combine; six decimal
    accumulators per group; O(groups) output."""
    ev = load(spark, sf_dir, "events")
    x = (F.unix_micros("ts") - F.lit(1704067200000000)) / F.lit(1000000)
    y = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(18,6)")).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(24,6)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(18,6)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(24,6)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return m.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# 2. fixed-point EMA
# --------------------------------------------------------------------------


def _ema_terms(lag_fn: str) -> str:
    """SQL sum of the 16 truncated-EMA terms: Σ lag(v4, j) · 2^(15−j)."""
    return " + ".join(
        f"{lag_fn}(v4, {j}) OVER w * {1 << (EMA_LAGS - 1 - j)}"
        for j in range(EMA_LAGS)
    )


@query(
    "ts_ema_fixedpoint",
    oracle=f"""
WITH q AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 10000) AS BIGINT) AS v4
  FROM events
)
SELECT event_id, user_id,
       round(CAST(({_ema_terms("lag")}) AS DOUBLE) / {EMA_DEN * 10000}.0, 6)
         AS ema
FROM q
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY lag(v4, {EMA_LAGS - 1}) OVER w IS NOT NULL
""",
)
def ts_ema_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average (α = 1/2) per series, truncated at 16
    lags so the recursion becomes the finite sum Σ v·2^-(j+1) — computable
    as integer arithmetic on the 1e-4 money grid. A recursive EMA cannot
    be oracle-checked (running floats diverge between engines); the
    truncated form is the SAME finite expression on both sides, and the
    final division by 2^16·10^4 divides identical exact integers. Rows
    without a full 16-lag history are skipped (zscore's full-frame rule).

    Scale shape: one user_id shuffle; 16 lag() reads share one window
    sort — linear, no self-join."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    return ema_fixedpoint(ev, "user_id", ["ts", "event_id"], "value").select(
        "event_id", "user_id", "ema"
    )


def ema_fixedpoint(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    lags: int = EMA_LAGS,
) -> DataFrame:
    """The truncated fixed-point EMA kernel: ``df`` plus ``ema`` =
    round(Σ_j lag(v4, j)·2^(lags−1−j) / (2^lags·10^4), 6) per ``key_col``
    series in ``order_cols`` order, v4 = value on the 1e-4 integer grid;
    rows without ``lags`` observations of history are dropped."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    base = df.withColumn("_v4", F.round(F.col(value_col) * 10000, 0).cast("long"))
    s = None
    for j in range(lags):
        term = F.lag("_v4", j).over(w) * F.lit(1 << (lags - 1 - j))
        s = term if s is None else s + term
    return (
        base.withColumns(
            {
                "ema": F.round(s.cast("double") / F.lit(float((1 << lags) * 10000)), 6),
                "_full": F.lag("_v4", lags - 1).over(w).isNotNull(),
            }
        )
        .filter("_full")
        .drop("_v4", "_full")
    )


# --------------------------------------------------------------------------
# 3. Markov transition matrix over the event stream
# --------------------------------------------------------------------------


@query(
    "session_transitions",
    oracle="""
WITH t AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
)
SELECT prev AS from_type, event_type AS to_type,
       count(*) AS n,
       round(CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER (PARTITION BY prev) AS DOUBLE), 6) AS p
FROM t WHERE prev IS NOT NULL
GROUP BY prev, event_type
""",
)
def session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type bigram (first-order Markov) transition matrix: per-user
    consecutive event pairs, counted and row-normalized into transition
    probabilities — the behavioral feature behind next-event prediction
    and funnel-anomaly detection. Normalization is an aggregate-sized
    window over the |types|² matrix, not the stream.

    Scale shape: one user_id shuffle for the lag, one hash agg to the
    tiny (from, to) matrix, one window over that matrix."""
    ev = load(spark, sf_dir, "events")
    return markov_transitions(ev, "user_id", ["ts", "event_id"], "event_type").select(
        F.col("from_state").alias("from_type"),
        F.col("to_state").alias("to_type"),
        "n",
        "p",
    )


def markov_transitions(
    df: DataFrame, key_col: str, order_cols: list[str], state_col: str
) -> DataFrame:
    """The transition-matrix kernel: consecutive ``state_col`` pairs per
    ``key_col`` in ``order_cols`` order → (from_state, to_state, n, p),
    p = n / row total of from_state, rounded 6dp."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    t = df.select(
        F.col(state_col).alias("to_state"),
        F.lag(state_col).over(w).alias("from_state"),
    ).filter(F.col("from_state").isNotNull())
    m = t.groupBy("from_state", "to_state").agg(F.count(F.lit(1)).alias("n"))
    row_total = F.sum("n").over(Window.partitionBy("from_state"))
    return m.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n").cast("double") / row_total.cast("double"), 6).alias("p"),
    )


# --------------------------------------------------------------------------
# 4. inverted index build
# --------------------------------------------------------------------------


@query(
    "text_inverted_index",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS term
  FROM (SELECT doc_id, {_TOK_SQL} AS t FROM documents)
),
agg AS (
  SELECT term,
         count(DISTINCT doc_id) AS n_docs,
         count(*) AS n_occ,
         (list(doc_id || ':' || pos ORDER BY doc_id, pos))[1:{IDX_POSTINGS}]
           AS postings
  FROM toks GROUP BY term
)
SELECT term, n_docs, n_occ, postings
FROM agg WHERE n_docs >= {IDX_MIN_DOCS}
""",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-index build: term → document frequency, total occurrences,
    and the first {IDX_POSTINGS} (doc:position) postings in canonical
    order — the structure behind keyword/BM25 search, emitted for
    vocabulary-frequency terms (df ≥ {IDX_MIN_DOCS}) so the output is the
    vocabulary, not the corpus. Postings order is total (doc_id, pos), so
    the sampled list is deterministic on both engines.

    Scale shape: posexplode → one term-keyed shuffle shared by the rank
    window and the agg. The posting sample is bounded BEFORE aggregation:
    a row_number over (term ORDER BY doc_id, pos) keeps only the first
    {IDX_POSTINGS} postings per term, so a stopword-frequency term never
    collects its corpus-wide posting list into one aggregation buffer —
    the skew discipline exact-percentile uses, applied to list building."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.posexplode(F.expr(_TOK_SPARK)).alias("pos", "term")
    )
    wr = Window.partitionBy("term").orderBy("doc_id", "pos")
    ranked = toks.withColumn("rn", F.row_number().over(wr))
    agg = ranked.groupBy("term").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occ"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("rn") <= IDX_POSTINGS,
                        F.struct("doc_id", "pos"),
                    )
                )
            ),
            lambda s: F.concat_ws(":", s.doc_id.cast("string"),
                                  s.pos.cast("string")),
        ).alias("postings"),
    )
    return agg.filter(F.col("n_docs") >= IDX_MIN_DOCS).select(
        "term", "n_docs", "n_occ", "postings"
    )


# --------------------------------------------------------------------------
# 5. distribution windows
# --------------------------------------------------------------------------


@query(
    "window_cume_dist",
    oracle="""
SELECT event_id, event_type,
       round(cume_dist() OVER w, 6) AS cd,
       round(percent_rank() OVER w, 6) AS pr
FROM (SELECT event_id, event_type, round(value, 2) AS v2 FROM events)
WINDOW w AS (PARTITION BY event_type ORDER BY v2)
""",
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value distribution positions: cume_dist (fraction of rows
    with value ≤ current) and percent_rank ((rank−1)/(n−1)). Both are
    defined by tie-group COUNTS, not tie order, so equal 2dp-grid values
    get identical outputs on both engines — the property row_number-based
    normalizations lack.

    Scale shape: one event_type shuffle + per-partition sort; both
    functions evaluate in the same single window pass."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 2).alias("v2")
    )
    w = Window.partitionBy("event_type").orderBy("v2")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


# --------------------------------------------------------------------------
# 6. PMI term co-occurrence
# --------------------------------------------------------------------------


@query(
    "text_term_cooccurrence",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
vocab AS (
  SELECT term, count(*) AS df FROM toks GROUP BY term
  ORDER BY df DESC, term LIMIT {COOC_VOCAB}
),
vt AS (SELECT t.doc_id, t.term, v.df FROM toks t JOIN vocab v USING (term)),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b,
         a.df AS df_a, b.df AS df_b, count(*) AS n_pair
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2, 3, 4
),
meta AS (SELECT count(*) AS nd FROM documents)
SELECT term_a, term_b, n_pair,
       round(ln(CAST(n_pair AS DOUBLE) * (SELECT nd FROM meta)
                / (df_a * df_b)), 6) AS pmi
FROM pairs WHERE n_pair >= {COOC_MIN_PAIR}
""",
)
def text_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over term pairs from the top-{COOC_VOCAB}
    document-frequency vocabulary: PMI = ln(P(a,b) / (P(a)P(b))) on
    document-level co-occurrence — the phrase/topic-mining pass of corpus
    analysis. The vocabulary cap is the scale contract: the pair space is
    ≤ C({COOC_VOCAB},2) per document REGARDLESS of corpus size, so the
    self-join is bounded-fanout, never doc×doc or term×term. ln() of an
    exact rational rounds to 6dp identically on both engines (1-ulp libm
    skew sits 10 decimal digits below the grid).

    Scale shape: distinct (doc, term) → df agg → TakeOrdered vocabulary →
    broadcast vocabulary join → per-doc bounded self-join → pair agg."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.expr(_TOK_SPARK)).alias("term")
    ).distinct()
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(COOC_VOCAB)
    )
    vt = toks.join(F.broadcast(vocab), "term")
    a = vt.select("doc_id", F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    b = vt.select("doc_id", F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= COOC_MIN_PAIR)
    )
    nd = docs.count()  # one scalar — the corpus size constant
    pmi = F.log(
        F.col("n_pair").cast("double") * F.lit(nd)
        / (F.col("df_a") * F.col("df_b"))
    )
    return pairs.select(
        "term_a", "term_b", "n_pair", F.round(pmi, 6).alias("pmi")
    )


# --------------------------------------------------------------------------
# 7. URL canonicalization dedup
# --------------------------------------------------------------------------

_URL_VARIANTS_SQL = """
SELECT doc_id,
       CASE doc_id % 3
         WHEN 0 THEN 'https://ex' || (doc_id % 7) || '.org/p/' || doc_id
         WHEN 1 THEN 'HTTPS://EX' || (doc_id % 7) || '.ORG/p/' || doc_id || '/'
         ELSE 'https://ex' || (doc_id % 7) || '.org/p/' || doc_id
              || '?utm_source=feed#sec'
       END AS url
FROM documents
UNION ALL
SELECT doc_id + 500000,
       CASE (doc_id + 1) % 3
         WHEN 0 THEN 'https://ex' || (doc_id % 7) || '.org/p/' || doc_id
         WHEN 1 THEN 'HTTPS://EX' || (doc_id % 7) || '.ORG/p/' || doc_id || '/'
         ELSE 'https://ex' || (doc_id % 7) || '.org/p/' || doc_id
              || '?utm_source=feed#sec'
       END AS url
FROM documents
"""

# each step is a single-occurrence replacement by construction, so Spark's
# replace-all and DuckDB's replace-first agree
_CANON_STEPS_SQL = """
regexp_replace(regexp_replace(regexp_replace(
  lower(regexp_extract(url, '(?i)^(https?://[^/]+)', 1))
    || regexp_extract(url, '(?i)^https?://[^/]+(.*)$', 1),
  '#.*$', ''),
  '[?&]utm_[a-z_]*=[^&#]*', ''),
  '/$', '')
"""


@query(
    "dedup_url_canonical",
    oracle=f"""
WITH u AS ({_URL_VARIANTS_SQL}),
c AS (SELECT doc_id, url, {_CANON_STEPS_SQL} AS canonical FROM u)
SELECT canonical, min(doc_id) AS keep_id, count(*) AS n_variants
FROM c GROUP BY canonical
""",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawler's identity problem
    (newscrawler seen-set keys on raw URLs; fetch variants of one article
    differ by host case, trailing slash, tracking params, fragments):
    normalize scheme+host case, strip fragments, drop utm tracking params,
    trim trailing slashes, then collapse by canonical form keeping the
    smallest id. Variant pairs are synthesized per doc (two different
    messy spellings of the same canonical URL) so every group provably
    collapses to n_variants = 2.

    Scale shape: narrow per-row regex chain (each step a single-occurrence
    replacement, portable across replace-all vs replace-first engines) +
    one hash agg on the canonical key."""
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def variants(id_col, selector):
        return F.when(
            selector % 3 == 0,
            F.concat(
                F.lit("https://ex"), (F.col("doc_id") % 7).cast("string"),
                F.lit(".org/p/"), F.col("doc_id").cast("string"),
            ),
        ).when(
            selector % 3 == 1,
            F.concat(
                F.lit("HTTPS://EX"), (F.col("doc_id") % 7).cast("string"),
                F.lit(".ORG/p/"), F.col("doc_id").cast("string"), F.lit("/"),
            ),
        ).otherwise(
            F.concat(
                F.lit("https://ex"), (F.col("doc_id") % 7).cast("string"),
                F.lit(".org/p/"), F.col("doc_id").cast("string"),
                F.lit("?utm_source=feed#sec"),
            )
        )

    u = docs.select(
        "doc_id", variants("doc_id", F.col("doc_id")).alias("url")
    ).unionByName(
        docs.select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            variants("doc_id", F.col("doc_id") + 1).alias("url"),
        )
    )
    host = F.lower(F.regexp_extract("url", r"(?i)^(https?://[^/]+)", 1))
    rest = F.regexp_extract("url", r"(?i)^https?://[^/]+(.*)$", 1)
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.concat(host, rest), r"#.*$", ""),
            r"[?&]utm_[a-z_]*=[^&#]*",
            "",
        ),
        r"/$",
        "",
    )
    return (
        u.select("doc_id", canon.alias("canonical"))
        .groupBy("canonical")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_variants"))
    )


# --------------------------------------------------------------------------
# 8. Markov stationary distribution (integer power iteration)
# --------------------------------------------------------------------------

PI_SCALE = 10**9
PI_ITERS = 6

_MARKOV_BASE = """
t AS (
  SELECT event_type AS to_state,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_state
  FROM events
),
m AS (
  SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE from_state IS NOT NULL GROUP BY from_state, to_state
),
rs AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS tot FROM m GROUP BY from_state),
states AS (SELECT DISTINCT from_state AS s FROM m),
meta AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM states)
"""


def _stationary_oracle() -> str:
    cte = [f"WITH {_MARKOV_BASE},"]
    cte.append(
        f"pi0 AS (SELECT s, {PI_SCALE}::BIGINT // (SELECT ns FROM meta) AS pi"
        " FROM states)"
    )
    for k in range(PI_ITERS):
        cte.append(f""",
pi{k + 1} AS (
  SELECT m.to_state AS s,
         CAST(sum((p.pi * m.n) // r.tot) AS BIGINT) AS pi
  FROM m
  JOIN pi{k} p ON p.s = m.from_state
  JOIN rs r ON r.from_state = m.from_state
  GROUP BY m.to_state
)""")
    cte.append(f"""
SELECT s AS state, pi AS pi_1e9 FROM pi{PI_ITERS}""")
    return "".join(cte)


@query("markov_stationary", oracle=_stationary_oracle())
def markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain by power
    iteration: π ← πP for {PI_ITERS} synchronous steps from uniform, in
    1e-9 integer units with per-term floor division — where user behavior
    settles in the long run, the equilibrium view of
    session_transitions' one-step probabilities. Integer state makes
    every step bit-identical, so the oracle unrolls one CTE per step
    (the PageRank recurrence on a 5-state chain — same math, behavioral
    matrix instead of a link graph).

    Scale shape: the stream collapses to the |types|² matrix first; the
    iteration then runs on constant-size frames."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("event_type").alias("to_state"),
        F.lag("event_type").over(w).alias("from_state"),
    ).filter(F.col("from_state").isNotNull())
    m = t.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).persist()
    rs = m.groupBy("from_state").agg(F.sum("n").cast("long").alias("tot"))
    states = m.select(F.col("from_state").alias("s")).distinct()
    ns = states.count()
    pi = states.withColumn("pi", F.lit(PI_SCALE // ns).cast("long"))
    mr = m.join(rs, "from_state")
    for _ in range(PI_ITERS):
        pi = (
            mr.join(pi, mr["from_state"] == pi["s"])
            .select(
                F.col("to_state").alias("s2"),
                F.expr("(pi * n) div tot").alias("c"),
            )
            .groupBy(F.col("s2").alias("s"))
            .agg(F.sum("c").cast("long").alias("pi"))
        )
    m.unpersist()
    return pi.select(F.col("s").alias("state"), F.col("pi").alias("pi_1e9"))
