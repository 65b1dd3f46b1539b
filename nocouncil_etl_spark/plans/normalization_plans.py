"""Distribution-alignment and forecast-evaluation batch.

- ``curation_quantile_normalize`` — quantile normalization of a per-source
  metric onto the POOLED distribution (the microarray/batch-effect recipe
  applied to corpus curation): a doc's score becomes the pooled value at
  its within-source quantile, so every source ends up score-comparable —
  the principled way to mix heterogeneous sources before threshold gates
  (a fixed threshold on raw scores silently over-prunes whichever source
  scores low; mixing policy then controls proportions, not accidents).
- ``ts_backtest_forecast`` — rolling-origin backtest of the two standard
  forecast baselines (naive last-value vs seasonal-naive t−7) per horizon
  1..7 — the evaluation harness that decides whether ts_holt_forecast
  earns its keep: a model that can't beat seasonal-naive per horizon
  shouldn't ship.

Exactness: metric values are BIGINTs (chars / cents); every rank and index
is integer arithmetic with (value, id) total orders; MAPE parts quantize
to DECIMAL(18,6) before averaging.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.operators.quantiles import quantile_normalize_frame
from nocouncil_etl_spark.registry import query


@query(
    "curation_quantile_normalize",
    oracle="""
WITH src AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v FROM documents
),
ranked AS (
  SELECT doc_id, source, v,
         CAST(row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM src
),
pooled AS (
  SELECT v AS pv,
         CAST(row_number() OVER (ORDER BY v, doc_id) AS BIGINT) AS prow
  FROM src
),
meta AS (SELECT CAST(count(*) AS BIGINT) AS n FROM src),
idx AS (
  SELECT doc_id, source, v,
         CASE WHEN n_s = 1 THEN 1
              ELSE ((rn - 1) * ((SELECT n FROM meta) - 1)) // (n_s - 1) + 1
         END AS target
  FROM ranked
)
SELECT i.doc_id, i.source, i.v AS orig, p.pv AS normalized
FROM idx i JOIN pooled p ON p.prow = i.target
""",
)
def curation_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize document length per source onto the pooled
    distribution: within-source rank rn of n_s maps to pooled order
    statistic at index ((rn−1)·(N−1)) div (n_s−1) + 1 — pure integer
    arithmetic on (value, doc_id) total orders, so the mapping is exact
    and engine-portable. After normalization every source has (up to
    rounding of ranks) the same score distribution.

    Scale shape: one window sort per source partition + one global sort
    for the pooled order statistics + an equi-join on the index. The
    global sort is the honest cost of EXACT quantile normalization (same
    discipline as agg_percentile_exact_rank); the at-scale variant swaps
    the pooled side for a fixed quantile grid (1000 points) and maps
    through it — same join shape, bounded sort."""
    docs = load(spark, sf_dir, "documents")
    return quantile_normalize_frame(docs, "doc_id", "n_chars", "source")


BT_MAX_H = 7


@query(
    "ts_backtest_forecast",
    oracle=f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
),
h AS (SELECT unnest(range(1, {BT_MAX_H} + 1)) AS horizon),
evals AS (
  SELECT h.horizon,
         t.x AS actual, o.x AS f_naive, s.x AS f_snaive
  FROM h
  JOIN daily o ON true
  JOIN daily t ON t.day = o.day + h.horizon
  JOIN daily s ON s.day = t.day - 7
),
acc AS (
  SELECT horizon,
         CAST(count(*) AS BIGINT) AS n_evals,
         CAST(sum(abs(actual - f_naive)) AS BIGINT) AS ae_naive,
         CAST(sum(abs(actual - f_snaive)) AS BIGINT) AS ae_snaive,
         sum(CAST(round(abs(actual - f_naive) / CAST(actual AS DOUBLE), 6)
                  AS DECIMAL(18, 6))) AS pe_naive,
         sum(CAST(round(abs(actual - f_snaive) / CAST(actual AS DOUBLE), 6)
                  AS DECIMAL(18, 6))) AS pe_snaive
  FROM evals GROUP BY horizon
)
SELECT horizon, n_evals,
       round(CAST(ae_naive AS DOUBLE) / n_evals / 100.0, 4) AS mae_naive,
       round(CAST(ae_snaive AS DOUBLE) / n_evals / 100.0, 4) AS mae_snaive,
       round(CAST(pe_naive AS DOUBLE) / n_evals, 6) AS mape_naive,
       round(CAST(pe_snaive AS DOUBLE) / n_evals, 6) AS mape_snaive
FROM acc
""",
)
def ts_backtest_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest on the daily revenue series: from every
    origin day o, score the naive forecast x(o) and the seasonal-naive
    forecast x(t−7) against the actual x(t) at horizons t−o = 1..{BT_MAX_H}
    (only (o, t) pairs where both baselines are defined). Per horizon:
    evaluation count, MAE (currency units) and MAPE (each |err|/actual
    quantized to DECIMAL(18,6) before the mean). The horizon curve is the
    point: naive degrades with h, seasonal-naive stays flat where weekly
    seasonality holds — the bar any trained forecaster must clear.

    Scale shape: the stream collapses to the daily table first; the
    origin×horizon×lag joins run on that span-bounded table with the
    horizon list broadcast; output is {BT_MAX_H} rows."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    daily.persist()
    h = spark.range(1, BT_MAX_H + 1).select(F.col("id").alias("horizon"))
    o = daily.select(F.col("day").alias("o_day"), F.col("x").alias("f_naive"))
    t = daily.select(F.col("day").alias("t_day"), F.col("x").alias("actual"))
    s = daily.select(F.col("day").alias("s_day"), F.col("x").alias("f_snaive"))
    evals = (
        o.crossJoin(F.broadcast(h))
        .join(t, F.col("t_day") == F.col("o_day") + F.col("horizon"))
        .join(s, F.col("s_day") == F.col("t_day") - 7)
    )
    pe = lambda f: F.round(  # noqa: E731
        F.abs(F.col("actual") - F.col(f)) / F.col("actual").cast("double"), 6
    ).cast("decimal(18,6)")
    acc = evals.groupBy("horizon").agg(
        F.count(F.lit(1)).cast("long").alias("n_evals"),
        F.sum(F.abs(F.col("actual") - F.col("f_naive")))
        .cast("long")
        .alias("ae_naive"),
        F.sum(F.abs(F.col("actual") - F.col("f_snaive")))
        .cast("long")
        .alias("ae_snaive"),
        F.sum(pe("f_naive")).alias("pe_naive"),
        F.sum(pe("f_snaive")).alias("pe_snaive"),
    )
    return acc.select(
        "horizon",
        "n_evals",
        F.round(
            F.col("ae_naive").cast("double") / F.col("n_evals") / 100.0, 4
        ).alias("mae_naive"),
        F.round(
            F.col("ae_snaive").cast("double") / F.col("n_evals") / 100.0, 4
        ).alias("mae_snaive"),
        F.round(F.col("pe_naive").cast("double") / F.col("n_evals"), 6).alias(
            "mape_naive"
        ),
        F.round(F.col("pe_snaive").cast("double") / F.col("n_evals"), 6).alias(
            "mape_snaive"
        ),
    )


GRID_G = 64


@query(
    "curation_quantile_normalize_grid",
    oracle=f"""
WITH src AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v FROM documents
),
meta AS (SELECT CAST(count(*) AS BIGINT) AS n FROM src),
ranked AS (
  SELECT doc_id, source, v,
         CAST(row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM src
),
gq AS (
  SELECT doc_id, source, v,
         CASE WHEN n_s = 1 THEN 0
              ELSE ((rn - 1) * {GRID_G}) // (n_s - 1) END AS g
  FROM ranked
),
hist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY v),
cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cle FROM hist),
grid AS (
  SELECT CAST(g AS BIGINT) AS g,
         1 + (((SELECT n FROM meta) - 1) * g) // {GRID_G} AS pr
  FROM (SELECT unnest(range(0, {GRID_G + 1})) AS g)
),
gv AS (
  SELECT grid.g, min(cum.v) AS gval
  FROM grid JOIN cum ON cum.cle >= grid.pr
  GROUP BY grid.g
)
SELECT q.doc_id, q.source, q.v AS orig,
       CAST(q.g AS BIGINT) AS grid_q, gv.gval AS normalized
FROM gq q JOIN gv ON gv.g = q.g
""",
)
def curation_quantile_normalize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid twin of curation_quantile_normalize — the shape that survives
    100 TB (the exact twin's docstring always named it): within-source rank
    maps to a fixed {GRID_G}-point quantile grid, and the grid's pooled
    order statistics are computed with NO global sort —
    operators/quantiles.prefix_counts turns "rows ≤ v" into a Fenwick-style
    binary block decomposition (histogram explode ×31 levels + equi-join +
    sum), so the plan is hash aggregates and keyed joins end-to-end; the
    only non-equi join is against the broadcast 65-row grid. The oracle
    replays the same integer arithmetic (its cumulative window over
    DISTINCT values is semantics, not mechanism — same cle values).
    Asserted in tests/test_quantile_grid.py: no single-partition WindowExec
    anywhere in the plan, unlike the exact twin's pooled row_number."""
    from nocouncil_etl_spark.operators.quantiles import quantile_normalize_grid

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return quantile_normalize_grid(
        docs, "doc_id", "n_chars", "source", n_grid=GRID_G
    ).select("doc_id", "source", "orig", "grid_q", "normalized")
