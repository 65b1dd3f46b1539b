"""Breadth batch 7: drawdown, randomness testing, survey estimation,
table profiling.

- ``window_drawdown`` — maximum drawdown of each user's cumulative value
  curve (running max minus equity, all integer cents): the risk metric
  behind budget alerts and account-health monitors.
- ``agg_runs_test`` — Wald-Wolfowitz runs test for randomness of the
  event-value sequence around its exact median: the cheap global check
  that a "shuffled" dataset isn't secretly ordered (a shuffled training
  corpus that still clusters by source is exactly this failure).
- ``sample_horvitz_thompson`` — the estimation half of priority sampling
  (sample_weighted_priority draws the sample; this weights it back):
  Horvitz-Thompson totals from the m-smallest-priority sample vs the
  exact population total, with the relative error emitted. Proves the
  sample is not just reproducible but STATISTICALLY USABLE.
- ``dq_profile_table`` — per-column profile of ``orders`` (nulls,
  distincts, min/max, byte width): the first query every engineer runs on
  a new table, as one distributed pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.operators.quantiles import ranged_rank_cumsum, with_below
from nocouncil_etl_spark.registry import query

HASH_SPACE = float(1 << 60)
HT_M = 8  # per-stratum sample size; small enough that even sf0.001's
          # ~12-doc sources keep a (m+1)-th priority for the threshold


# --------------------------------------------------------------------------
# 1. max drawdown per user
# --------------------------------------------------------------------------


@query(
    "window_drawdown",
    oracle="""
WITH signed AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT)
              WHEN event_type = 'error' THEN -CAST(round(value * 100) AS BIGINT)
              ELSE 0 END AS pnl
  FROM events
),
eq AS (
  SELECT user_id, ts, event_id,
         sum(pnl) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS equity
  FROM signed
),
dd AS (
  SELECT user_id, equity,
         max(equity) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - equity AS drawdown
  FROM eq
)
SELECT user_id,
       CAST(max(drawdown) AS BIGINT) AS max_drawdown_cents,
       CAST(max(equity) AS BIGINT) AS peak_cents,
       CAST(count(*) AS BIGINT) AS n_events
FROM dd GROUP BY user_id
""",
)
def window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the signed cumulative value curve
    (purchases credit, errors debit — integer cents throughout): running
    max of the equity curve minus the curve, maximized. Two stacked
    windows on ONE (user) partition sort — Spark evaluates both frames in
    a single sort pass, no self-join, the shape that scales to any number
    of users."""
    ev = load(spark, sf_dir, "events")
    pnl = (
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        )
        .when(
            F.col("event_type") == "error",
            -F.round(F.col("value") * 100).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eq = ev.select("user_id", "ts", "event_id", pnl.alias("pnl")).withColumn(
        "equity", F.sum("pnl").over(run)
    )
    dd = eq.withColumn("drawdown", F.max("equity").over(run) - F.col("equity"))
    return dd.groupBy("user_id").agg(
        F.max("drawdown").cast("long").alias("max_drawdown_cents"),
        F.max("equity").cast("long").alias("peak_cents"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


# --------------------------------------------------------------------------
# 2. Wald-Wolfowitz runs test
# --------------------------------------------------------------------------


@query(
    "agg_runs_test",
    oracle="""
WITH v AS (
  SELECT ts, event_id, CAST(round(value * 100) AS BIGINT) AS c FROM events
),
med AS (
  SELECT c AS m FROM (
    SELECT c, row_number() OVER (ORDER BY c, ts, event_id) AS rn,
           count(*) OVER () AS n
    FROM v
  ) WHERE rn = (n + 1) // 2
),
signs AS (
  SELECT ts, event_id,
         CASE WHEN c >= (SELECT m FROM med) THEN 1 ELSE 0 END AS s
  FROM v
),
runs AS (
  SELECT s,
         CASE WHEN lag(s) OVER (ORDER BY ts, event_id) IS DISTINCT FROM s
              THEN 1 ELSE 0 END AS new_run
  FROM signs
),
agg AS (
  SELECT CAST(sum(new_run) AS BIGINT) AS r,
         CAST(sum(s) AS BIGINT) AS n1,
         CAST(sum(1 - s) AS BIGINT) AS n2
  FROM runs
)
SELECT r AS n_runs, n1, n2,
       round(1.0 + 2.0 * n1 * n2 / (n1 + n2), 6) AS mu,
       round((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6) AS z
FROM agg
""",
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the time-ordered event values around
    their exact median (the rank-picked order statistic, so no float
    quantile exists): count maximal same-sign runs, compare to the
    expected count under exchangeability via the standard z statistic.
    |z| ≫ 2 would mean the stream is serially correlated — the check that
    a 'shuffled' corpus actually is. Counts stay BIGINT; mu/z are single
    identical double expressions.

    Scale shape (r9): median from the value histogram (Fenwick — cents
    are histogram-shaped); time-order adjacency from ONE ranged scan
    carrying the lag (timestamps are near-unique — no Fenwick explode,
    no self-join, no global sort); everything else is a 1-row reduce."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "ts", "event_id", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    # r7: median via Fenwick prefix counts (the value at rank (n+1)÷2
    # depends only on the value histogram); time-order adjacency via a
    # consecutive-rank equi-join on with_global_rank — no global sorts
    byc = v.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("cc"))
    totc = byc.agg(F.sum("cc").cast("long").alias("n"))
    med = (
        with_below(byc, "c", "cc")
        .crossJoin(F.broadcast(totc))
        .filter(F.col("below") + F.col("cc") >= F.expr("(n + 1) div 2"))
        .agg(F.min("c").alias("m"))
    )
    signs = v.crossJoin(F.broadcast(med)).select(
        F.unix_micros("ts").alias("tsu"),
        "event_id",
        F.when(F.col("c") >= F.col("m"), 1).otherwise(0).alias("s"),
    )
    # r9: microsecond timestamps are NEAR-UNIQUE — the ranged scan carries
    # the lag in the same two phases (prev_s: partition-local lag + the
    # previous partition's last sign via the offset table), replacing the
    # r7 Fenwick rank pass AND its consecutive-rank self-join outright
    rk = ranged_rank_cumsum(signs, "tsu", "event_id", lag_col="s")
    runs = rk.select(
        "s",
        F.when(~F.col("prev_s").eqNullSafe(F.col("s")), 1)
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").cast("long").alias("r"),
        F.sum("s").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).cast("long").alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return agg.select(
        r.alias("n_runs"),
        "n1",
        "n2",
        F.round(mu, 6).alias("mu"),
        F.round((r - mu) / F.sqrt(var), 6).alias("z"),
    )


# --------------------------------------------------------------------------
# 3. Horvitz-Thompson estimation from the priority sample
# --------------------------------------------------------------------------


@query(
    "sample_horvitz_thompson",
    oracle=f"""
WITH pri AS (
  SELECT doc_id, source, n_chars,
         (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          / {HASH_SPACE!r}) / n_chars AS q
  FROM documents
),
ranked AS (
  SELECT doc_id, source, n_chars, q,
         row_number() OVER (PARTITION BY source ORDER BY q, doc_id) AS rk
  FROM pri
),
tau AS (
  SELECT source, max(CASE WHEN rk = {HT_M + 1} THEN q END) AS t,
         CAST(count(*) AS BIGINT) AS n_pop
  FROM ranked GROUP BY source
),
est AS (
  SELECT r.source,
         sum(CAST(round(greatest(CAST(r.n_chars AS DOUBLE), 1.0 / t.t), 4)
                  AS DECIMAL(28, 4)) ) AS ht,
         CAST(count(*) AS BIGINT) AS m
  FROM ranked r JOIN tau t ON r.source = t.source
  WHERE r.rk <= {HT_M} AND t.t IS NOT NULL
  GROUP BY r.source
),
exact AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS total FROM documents GROUP BY source)
SELECT e.source, x.total AS exact_total, m AS sample_m,
       CAST(e.ht AS DOUBLE) AS ht_est,
       round(abs(CAST(e.ht AS DOUBLE) - x.total) / x.total, 4) AS rel_err
FROM est e JOIN exact x ON e.source = x.source
""",
)
def sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The estimation half of priority sampling (Duffield-Lund-Thorup):
    from each source's {HT_M}-smallest-priority sample (q = hash-uniform /
    weight — the sample_weighted_priority draw, same hash) and threshold
    τ = q₍m₊₁₎, the Horvitz-Thompson total Σ max(wᵢ, 1/τ) estimates the
    population Σ wᵢ unbiasedly. Per-item terms quantize to DECIMAL(28,4)
    before summing (order-independent); the exact total rides alongside
    with the realized relative error.

    Scale shape: narrow hash + one per-source top-(m+1) window (mergeable
    min-m at scale, the KMV shape), then an m-row-per-source agg. The
    estimator is what makes weighted sampling USEFUL at 100 TB: you keep
    64 rows per stratum and still report calibrated totals."""
    docs = load(spark, sf_dir, "documents")
    pri = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (
            (hash60(F.col("doc_id").cast("string")) / F.lit(HASH_SPACE))
            / F.col("n_chars")
        ).alias("q"),
    )
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    ranked = pri.withColumn("rk", F.row_number().over(w))
    tau = ranked.groupBy("source").agg(
        F.max(F.when(F.col("rk") == HT_M + 1, F.col("q"))).alias("t"),
        F.count(F.lit(1)).cast("long").alias("n_pop"),
    )
    term = F.round(
        F.greatest(F.col("n_chars").cast("double"), 1.0 / F.col("t")), 4
    ).cast("decimal(28,4)")
    est = (
        ranked.join(F.broadcast(tau), "source")
        .filter((F.col("rk") <= HT_M) & F.col("t").isNotNull())
        .groupBy("source")
        .agg(
            F.sum(term).alias("ht"),
            F.count(F.lit(1)).cast("long").alias("m"),
        )
    )
    exact = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("total")
    )
    return est.join(exact, "source").select(
        "source",
        F.col("total").alias("exact_total"),
        F.col("m").alias("sample_m"),
        F.col("ht").cast("double").alias("ht_est"),
        F.round(
            F.abs(F.col("ht").cast("double") - F.col("total")) / F.col("total"), 4
        ).alias("rel_err"),
    )


# --------------------------------------------------------------------------
# 4. table profiler
# --------------------------------------------------------------------------

# (name, kind): kind drives an engine-portable stringification — doubles
# stringify as integer cents, timestamps through one explicit UTC format
# (bare CASTs to VARCHAR render differently per engine).
_PROFILE_COLS = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _duck_str(c: str, agg: str, kind: str) -> str:
    if kind == "money":
        return f"CAST(CAST(round({agg}({c}) * 100) AS BIGINT) AS VARCHAR)"
    if kind == "ts":
        return f"strftime({agg}({c}), '%Y-%m-%d %H:%M:%S')"
    return f"CAST({agg}({c}) AS VARCHAR)"


def _profile_sql() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        parts.append(f"""
SELECT '{c}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {_duck_str(c, 'min', kind)} AS min_value,
       {_duck_str(c, 'max', kind)} AS max_value
FROM orders""")
    return "\nUNION ALL\n".join(parts)


@query("dq_profile_table", oracle=_profile_sql())
def dq_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass-per-column profile of ``orders``: rows, nulls, distincts,
    min/max (stringified for a uniform schema) — the first look every
    engineer takes at a new table, as a catalog operator. Timestamp
    min/max stringify through a fixed UTC format so both engines emit the
    same text.

    Scale shape: |columns| independent aggregates unioned — Spark runs
    them as one scan per branch with partial aggs; a production profiler
    would fuse them into a single pass (observe()/struct aggs), kept
    per-column here so the oracle is trivially auditable."""
    od = load(spark, sf_dir, "orders")

    def stringify(col, agg, kind):
        a = agg(col)
        if kind == "money":
            return F.round(a * 100).cast("long").cast("string")
        if kind == "ts":
            return F.date_format(a, "yyyy-MM-dd HH:mm:ss")
        return a.cast("string")

    outs = []
    for c, kind in _PROFILE_COLS:
        col = F.col(c)
        s_min = stringify(col, F.min, kind)
        s_max = stringify(col, F.max, kind)
        outs.append(
            od.agg(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.when(col.isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_nulls"),
                F.countDistinct(col).cast("long").alias("n_distinct"),
                s_min.alias("min_value"),
                s_max.alias("max_value"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
