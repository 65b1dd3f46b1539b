"""Breadth batch 63 (round 6): PCA explained share, streaming-state
size model, ISO-week mismatch audit, Wilcoxon signed-rank, projection
cost model, median confidence interval.

Six operators (reference scope: the scree-plot input, stateful-stream
capacity planning, the week-year reporting bug, the canonical paired
nonparametric test, projection-pushdown cost accounting, and the
distribution-free median interval):

- ``vec_pca_explained_share``  — top-eigenvalue share of total
  embedding variance (exact trace, power-iteration λ₁).
- ``stream_state_size_model``  — live-key counts and state bytes for a
  watermark-delay grid.
- ``dq_iso_week_mismatch``     — rows whose ISO week-year differs from
  the calendar year (the Dec/Jan reporting bug).
- ``stat_wilcoxon_signed_rank``— paired signed-rank test of week-over-
  week daily changes.
- ``io_projection_cost_model`` — bytes-scanned model for column
  projections vs the full row.
- ``stat_median_ci``           — order-statistic 95% CI for the median
  (binomial bounds, no distribution assumptions).

Reference parity: north-star extension — no reference analogue
(the reference has no analytics layer); these are the audit layers a lake-scale engine
adds on the same tables.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.operators.quantiles import with_below
from nocouncil_etl_spark.registry import query

PCA_DIMS = 16  # leading block of the embedding used for the trace/λ1
PCA_ITERS = 6
SSM_DELAYS_MIN = (10, 60, 360)
PROJ_SETS = (
    ("o_orderkey",),
    ("o_orderkey", "o_totalprice"),
    ("o_orderkey", "o_orderstatus", "o_orderdate"),
)
MCI_Z_MILLI = 1960  # 95% normal approx for the order-stat bounds


# --------------------------------------------------------------------------
# 1. PCA explained share
# --------------------------------------------------------------------------


@query(
    "vec_pca_explained_share",
    oracle=f"""
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
sub AS (SELECT vec_id, i, v FROM dims WHERE i <= {PCA_DIMS}),
mu AS (
  SELECT i, CAST(sum(CAST(round(1000000 * v) AS BIGINT)) AS BIGINT) AS sv,
         CAST(count(*) AS BIGINT) AS n
  FROM sub GROUP BY i
),
ctr AS (
  SELECT s.vec_id, s.i,
         CAST(round(1000000 * s.v) AS BIGINT) * (SELECT max(n) FROM mu)
         - m.sv AS c
  FROM sub s JOIN mu m ON m.i = s.i
),
trace AS (
  SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS tr FROM ctr
),
-- power iteration on the scatter direction: x ← Cᵀ(Cx), both half-steps
-- renormalized to ±1e6 (scale-invariant; keeps every sum in BIGINT)
x0 AS MATERIALIZED (
  SELECT i, CAST(1000000 AS BIGINT) AS x
  FROM (SELECT unnest(range(1, {PCA_DIMS} + 1)) AS i)
){"".join(f'''
,p{k} AS MATERIALIZED (
  SELECT ctr.vec_id, CAST(sum(CAST(ctr.c AS HUGEINT) * x.x // 1000000)
                          AS BIGINT) AS s
  FROM ctr JOIN x{k} x ON x.i = ctr.i GROUP BY ctr.vec_id
),
mp{k} AS (SELECT max(abs(s)) AS m FROM p{k}),
pn{k} AS MATERIALIZED (
  SELECT vec_id, CAST(s * 1000000 // (SELECT m FROM mp{k}) AS BIGINT) AS s
  FROM p{k}
),
y{k} AS MATERIALIZED (
  SELECT ctr.i, CAST(sum(CAST(ctr.c AS HUGEINT) * p.s // 1000000)
                     AS BIGINT) AS y
  FROM ctr JOIN pn{k} p ON p.vec_id = ctr.vec_id GROUP BY ctr.i
),
mx{k} AS (SELECT max(abs(y)) AS m FROM y{k}),
x{k + 1} AS MATERIALIZED (
  SELECT i, CAST(y * 1000000 // (SELECT m FROM mx{k}) AS BIGINT) AS x
  FROM y{k}
)''' for k in range(PCA_ITERS))},
-- quadratic form at the final direction: share = (|Cx|²/|x|²) / tr(CᵀC)
fs AS MATERIALIZED (
  SELECT ctr.vec_id, CAST(sum(CAST(ctr.c AS HUGEINT) * x.x // 1000000)
                          AS BIGINT) AS s
  FROM ctr JOIN x{PCA_ITERS} x ON x.i = ctr.i GROUP BY ctr.vec_id
),
quad AS (
  SELECT CAST(sum(CAST(s AS HUGEINT) * s) AS DOUBLE) AS q FROM fs
),
xx AS (
  SELECT CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS xx
  FROM x{PCA_ITERS}
)
SELECT CAST({PCA_DIMS} AS BIGINT) AS n_dims,
       CAST(round(1000.0 * ((SELECT q FROM quad) / (SELECT xx FROM xx))
            * 1000000000000.0 / (SELECT tr FROM trace)) AS BIGINT)
         AS pc1_share_milli
""",
)
def vec_pca_explained_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explained-variance share of the first principal component over
    the leading {PCA_DIMS} embedding dimensions: total variance is the
    exact integer trace of the (scaled) scatter matrix, λ₁ comes from
    {PCA_ITERS} integer power-iteration rounds through the two-step
    Cᵀ(Cx) product (never materializing the covariance — the tall-skinny
    PCA pattern vec_pca_power uses), and the ratio λ₁/trace is the
    first scree point — the number that says whether the embedding
    space is effectively low-rank (one dominant direction) or spread
    (healthy isotropy; pairs with vec_hubness_skew as geometry audits).

    Scale shape: centered entries are exact integers; each iteration is
    two keyed joins + hash aggs over the (vector, dim) long table;
    state per round is {PCA_DIMS} integers."""
    emb = fan_out(load(spark, sf_dir, "embeddings"))
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "v")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("v").cast("double").alias("v"),
    ).filter(F.col("i") <= PCA_DIMS)
    mu = dims.groupBy("i").agg(
        F.sum(F.round(1_000_000 * F.col("v")).cast("long")).alias("sv"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    nmax = mu.agg(F.max("n").alias("nm"))
    ctr = (
        dims.join(F.broadcast(mu), "i")
        .crossJoin(F.broadcast(nmax))
        .select(
            "vec_id",
            "i",
            (
                F.round(1_000_000 * F.col("v")).cast("long") * F.col("nm")
                - F.col("sv")
            ).alias("c"),
        )
    )
    ctr.persist()
    trace = ctr.agg(
        F.sum((F.col("c").cast("decimal(38,0)") * F.col("c")))
        .cast("double")
        .alias("tr")
    )
    x = spark.range(1, PCA_DIMS + 1).select(
        F.col("id").alias("i"), F.lit(1_000_000).cast("long").alias("x")
    ).localCheckpoint(eager=True)
    for _ in range(PCA_ITERS):
        p = (
            ctr.join(x, "i")
            .groupBy("vec_id")
            .agg(
                F.sum(
                    F.expr("CAST(c AS DECIMAL(38,0)) * x div 1000000")
                ).cast("long").alias("s")
            )
            .localCheckpoint(eager=True)
        )
        mp = int(p.agg(F.max(F.abs("s")).alias("m")).first().m)
        pn = p.select(
            "vec_id", F.expr(f"s * 1000000 div {mp}").cast("long").alias("s")
        )
        y = (
            ctr.join(pn, "vec_id")
            .groupBy("i")
            .agg(
                F.sum(
                    F.expr("CAST(c AS DECIMAL(38,0)) * s div 1000000")
                ).cast("long").alias("y")
            )
            .localCheckpoint(eager=True)
        )
        m = int(y.agg(F.max(F.abs("y")).alias("m")).first().m)
        x = y.select(
            "i", F.expr(f"y * 1000000 div {m}").cast("long").alias("x")
        ).localCheckpoint(eager=True)
    fs = (
        ctr.join(x, "i")
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.expr("CAST(c AS DECIMAL(38,0)) * x div 1000000")
            ).cast("long").alias("s")
        )
    )
    quad = fs.agg(
        F.sum((F.col("s").cast("decimal(38,0)") * F.col("s")))
        .cast("double")
        .alias("q")
    )
    xx = x.agg(
        F.sum((F.col("x").cast("decimal(38,0)") * F.col("x")))
        .cast("double")
        .alias("xx")
    )
    return (
        quad.crossJoin(F.broadcast(xx))
        .crossJoin(F.broadcast(trace))
        .select(
            F.lit(PCA_DIMS).cast("long").alias("n_dims"),
            F.round(
                1000.0
                * (F.col("q") / F.col("xx"))
                * 1_000_000_000_000.0
                / F.col("tr")
            )
            .cast("long")
            .alias("pc1_share_milli"),
        )
    )


# --------------------------------------------------------------------------
# 2. Streaming state-size model
# --------------------------------------------------------------------------


def _ssm_oracle() -> str:
    arms = "\nUNION ALL\n".join(
        f"""SELECT {d} AS delay_min,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events
        WHERE ts >= (SELECT mx FROM horizon) - INTERVAL {d} MINUTE)
         AS live_keys"""
        for d in SSM_DELAYS_MIN
    )
    return f"""
WITH horizon AS (SELECT max(ts) AS mx FROM events),
arms AS (
{arms}
)
SELECT delay_min, live_keys,
       CAST(live_keys * 64 AS BIGINT) AS est_state_bytes
FROM arms
"""


@query("stream_state_size_model", oracle=_ssm_oracle())
def stream_state_size_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming capacity model: for watermark delays of
    {SSM_DELAYS_MIN} minutes, the number of DISTINCT user keys active
    in the trailing window at the stream head — which is exactly the
    per-key state a withWatermark + applyInPandasWithState pipeline
    (stream_stateful_user_stats) must hold — and the byte estimate at
    64 B/key. The delay the lateness audit recommends
    (dq_watermark_lateness) has a memory price; this is that price.

    Scale shape: one distinct-count per delay arm over the trailing
    filter; 3-row output."""
    ev = load(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("mx"))
    arms = None
    for d in SSM_DELAYS_MIN:
        arm = (
            ev.crossJoin(F.broadcast(horizon))
            .filter(
                F.col("ts")
                >= F.col("mx") - F.expr(f"INTERVAL {d} MINUTE")
            )
            .agg(F.countDistinct("user_id").cast("long").alias("live_keys"))
            .select(
                F.lit(d).cast("long").alias("delay_min"),
                "live_keys",
                (F.col("live_keys") * 64).cast("long").alias(
                    "est_state_bytes"
                ),
            )
        )
        arms = arm if arms is None else arms.unionByName(arm)
    return arms


# --------------------------------------------------------------------------
# 3. ISO week mismatch
# --------------------------------------------------------------------------


@query(
    "dq_iso_week_mismatch",
    oracle="""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         extract(year FROM o_orderdate) AS cal_year,
         extract(isoyear FROM o_orderdate) AS iso_year
  FROM orders
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN cal_year <> iso_year THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatched,
       CAST(round(1000000.0 * sum(CASE WHEN cal_year <> iso_year
                                       THEN 1 ELSE 0 END) / count(*))
            AS BIGINT) AS mismatch_micro,
       CAST(min(CASE WHEN cal_year <> iso_year THEN day END) AS VARCHAR)
         AS first_mismatch_day
FROM d
""",
)
def dq_iso_week_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO week-year mismatch audit: rows whose ISO week-year (the one
    weekofyear-based reports group by) differs from the calendar year —
    the Dec 29–Jan 3 rows that silently move revenue BETWEEN years
    whenever a dashboard mixes year(date) with weekofyear(date), one of
    the most recurrent reporting bugs in practice (the fiscal-calendar
    operator fn_fiscal_445_calendar exists precisely to avoid it).
    Reports the affected share and the first offending date.

    Scale shape: pure date arithmetic in the scan + one rollup."""
    d = load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.year("o_orderdate").alias("cal_year"),
        # ISO year: the year of the Thursday of the date's ISO week
        F.year(
            F.date_add(
                F.col("o_orderdate").cast("date"),
                (4 - F.when(
                    F.dayofweek(F.col("o_orderdate").cast("date")) == 1, 7
                ).otherwise(
                    F.dayofweek(F.col("o_orderdate").cast("date")) - 1
                )).cast("int"),
            )
        ).alias("iso_year"),
    )
    mism = F.col("cal_year") != F.col("iso_year")
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(mism, 1).otherwise(0)).cast("long").alias("n_mismatched"),
        F.round(
            1_000_000.0
            * F.sum(F.when(mism, 1).otherwise(0))
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mismatch_micro"),
        F.min(F.when(mism, F.col("day"))).cast("string").alias(
            "first_mismatch_day"
        ),
    )


# --------------------------------------------------------------------------
# 4. Wilcoxon signed-rank
# --------------------------------------------------------------------------


@query(
    "stat_wilcoxon_signed_rank",
    oracle="""
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(CAST(round(10000 * value) AS BIGINT)) AS v4
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
d AS (
  SELECT event_type, day, v4 - lag(v4, 7) OVER w AS diff
  FROM s WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
nz AS (
  SELECT event_type, day, diff FROM d WHERE diff IS NOT NULL AND diff <> 0
),
r AS (
  SELECT diff,
         CAST(row_number() OVER (ORDER BY abs(diff), event_type, day)
              AS BIGINT) AS rk
  FROM nz
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN diff > 0 THEN rk ELSE 0 END) AS BIGINT) AS w_plus
  FROM r
)
SELECT n, w_plus,
       CAST(round(1000.0 * (w_plus - n * (n + 1) / 4.0)
            / sqrt(n * (n + 1.0) * (2 * n + 1) / 24.0)) AS BIGINT) AS z_milli
FROM agg
""",
)
def stat_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired week-over-week daily changes
    (each day pairs with the same weekday one week earlier, pooled
    across types): |differences| rank in the (|d|, key) total order,
    W⁺ sums the ranks of positive changes, and the z standardizes with
    the exact null moments n(n+1)/4 and n(n+1)(2n+1)/24 — the PAIRED
    nonparametric test (stat_sign_test ignores magnitudes;
    stat_mann_whitney_u is the unpaired cousin), asking 'did this week
    genuinely run above last week?'. Zero differences drop per the
    standard convention.

    Scale shape: one per-type lag window + one pooled rank window over
    the calendar-sized frame, 1-row arithmetic."""
    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(10000 * F.col("value")).cast("long")).alias("v4"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    d = s.select(
        "event_type",
        "day",
        (F.col("v4") - F.lag("v4", 7).over(w)).alias("diff"),
    ).filter(F.col("diff").isNotNull() & (F.col("diff") != 0))
    r = d.select(
        "diff",
        F.row_number()
        .over(Window.orderBy(F.abs("diff"), "event_type", "day"))
        .cast("long")
        .alias("rk"),
    )
    agg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("diff") > 0, F.col("rk")).otherwise(0))
        .cast("long")
        .alias("w_plus"),
    )
    n, wp = F.col("n"), F.col("w_plus")
    return agg.select(
        "n",
        "w_plus",
        F.round(
            1000.0
            * (wp - n * (n + 1) / 4.0)
            / F.sqrt(n * (n + 1.0) * (2 * n + 1) / 24.0)
        )
        .cast("long")
        .alias("z_milli"),
    )


# --------------------------------------------------------------------------
# 5. Projection cost model
# --------------------------------------------------------------------------


def _proj_width_sql(c: str) -> str:
    if c in ("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"):
        return "8.0"
    return f"(SELECT avg(length({c})) FROM orders)"


def _proj_oracle() -> str:
    arms = []
    for cols in PROJ_SETS:
        w_expr = " + ".join(_proj_width_sql(c) for c in cols)
        arms.append(f"""
SELECT '{",".join(cols)}' AS projection,
       CAST(round(({w_expr}) * 1000) AS BIGINT) AS row_bytes_milli""")
    body = "\nUNION ALL\n".join(arms)
    full_w = " + ".join(
        _proj_width_sql(c)
        for c in (
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
    )
    return f"""
WITH arms AS ({body}),
full_ AS (SELECT CAST(round(({full_w}) * 1000) AS BIGINT) AS fw),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders)
SELECT projection, row_bytes_milli,
       CAST(round(CAST(row_bytes_milli AS DOUBLE)
            * (SELECT n_rows FROM n) / 1000) AS BIGINT) AS scan_bytes,
       CAST(round(1000.0 * row_bytes_milli / (SELECT fw FROM full_))
            AS BIGINT) AS vs_full_milli
FROM arms
"""


@query("io_projection_cost_model", oracle=_proj_oracle())
def io_projection_cost_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection-pushdown cost model: per candidate column set, the
    estimated bytes a columnar scan reads (numeric/date columns at 8 B,
    strings at their MEASURED average length — one stats pass, the
    io_analyze_table_stats discipline) against the full row width —
    the vs_full ratio is the pushdown saving `.explain`'s ReadSchema
    promises, quantified before running. The planner arithmetic behind
    'never SELECT *'.

    Scale shape: one avg-length stats scan; the model is literal
    arithmetic over it."""
    orders = load(spark, sf_dir, "orders")
    stats = orders.agg(
        F.avg(F.length("o_orderstatus")).alias("w_status"),
        F.avg(F.length("o_orderpriority")).alias("w_priority"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    ).first()
    widths = {
        "o_orderkey": 8.0,
        "o_custkey": 8.0,
        "o_orderstatus": float(stats.w_status),
        "o_totalprice": 8.0,
        "o_orderdate": 8.0,
        "o_orderpriority": float(stats.w_priority),
    }
    # addition order matches the oracle's '+' chain exactly
    full_w = 0.0
    for c in (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ):
        full_w = full_w + widths[c]
    n_rows = int(stats.n_rows)

    def rha(x: float) -> int:
        return int(math.floor(x + 0.5))

    rows = []
    for cols in PROJ_SETS:
        wsum = 0.0
        for c in cols:
            wsum = wsum + widths[c]
        row_bytes_milli = rha(wsum * 1000)
        rows.append(
            (
                ",".join(cols),
                row_bytes_milli,
                rha(float(row_bytes_milli) * n_rows / 1000),
                rha(1000.0 * row_bytes_milli / rha(full_w * 1000)),
            )
        )
    return spark.createDataFrame(
        rows,
        "projection string, row_bytes_milli long, scan_bytes long,"
        " vs_full_milli long",
    )


# --------------------------------------------------------------------------
# 6. Median confidence interval
# --------------------------------------------------------------------------


@query(
    "stat_median_ci",
    oracle=f"""
WITH v AS (
  SELECT event_id, CAST(round(100 * value) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT x, row_number() OVER (ORDER BY x, event_id) AS rn,
         count(*) OVER () AS n
  FROM v
),
idx AS (
  SELECT max(n) AS n,
         CAST(floor(max(n) / 2.0
              - {MCI_Z_MILLI / 1000.0} * sqrt(max(n) / 4.0)) AS BIGINT) AS jl,
         CAST(ceil(max(n) / 2.0 + 1
              + {MCI_Z_MILLI / 1000.0} * sqrt(max(n) / 4.0)) AS BIGINT) AS jh
  FROM r
)
SELECT (SELECT CAST(n AS BIGINT) FROM idx) AS n,
       (SELECT max(CASE WHEN rn = CAST(ceil(n / 2.0) AS BIGINT)
                        THEN x END) FROM r) AS median_cents,
       (SELECT max(CASE WHEN rn = (SELECT greatest(jl, 1) FROM idx)
                        THEN x END) FROM r) AS ci_lo_cents,
       (SELECT max(CASE WHEN rn = (SELECT least(jh, n) FROM idx)
                        THEN x END) FROM r) AS ci_hi_cents
""",
)
def stat_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median: the
    order statistics at ranks n/2 ± z·√(n/4) bracket the true median
    with ≥95% coverage by the BINOMIAL argument alone — no normality,
    no symmetry, no bootstrap resampling (agg_bootstrap_ci's job when
    the functional is more exotic). The interval every robust report
    should print next to the median.

    Scale shape (r7): all three order statistics come from the
    distinct-value histogram + Fenwick prefix counts (value at rank k =
    min v whose inclusive cumulative count reaches k) — no global rank
    window over the raw rows anywhere in the plan."""
    v = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            F.round(100 * F.col("value")).cast("long").alias("x"),
        )
    )
    byv = v.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = with_below(byv, "x", "c")
    z = MCI_Z_MILLI / 1000.0
    tot = byv.agg(F.sum("c").cast("long").alias("n"))
    idx = tot.select(
        "n",
        F.ceil(F.col("n") / 2.0).cast("long").alias("jm"),
        F.greatest(
            F.floor(F.col("n") / 2.0 - z * F.sqrt(F.col("n") / 4.0)).cast(
                "long"
            ),
            F.lit(1).cast("long"),
        ).alias("jl"),
        F.least(
            F.ceil(F.col("n") / 2.0 + 1 + z * F.sqrt(F.col("n") / 4.0)).cast(
                "long"
            ),
            F.col("n"),
        ).alias("jh"),
    )
    reach = F.col("below") + F.col("c")
    picks = cum.crossJoin(F.broadcast(idx)).agg(
        F.min(F.when(reach >= F.col("jm"), F.col("x"))).alias("median_cents"),
        F.min(F.when(reach >= F.col("jl"), F.col("x"))).alias("ci_lo_cents"),
        F.min(F.when(reach >= F.col("jh"), F.col("x"))).alias("ci_hi_cents"),
        F.max("n").cast("long").alias("n"),
    )
    return picks.select("n", "median_cents", "ci_lo_cents", "ci_hi_cents")
