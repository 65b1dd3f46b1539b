"""Breadth batch 50 (round 6): two-way ANOVA, projection depth, TTL
reclaim projection, Siegel-Tukey test, Zipf-Mandelbrot fit, duplicate
payment audit.

Six operators (reference scope: factorial experiment analysis,
multivariate outlyingness, storage lifecycle forecasting, rank-based
scale testing, the two-parameter vocabulary law, and a classic fraud
screen):

- ``stat_anova_two_way``      — two-way ANOVA (type × weekday) with
  interaction, SS terms quantized from exact cell moments.
- ``ml_projection_depth``     — minimum rank-depth over literal
  projection directions: the shallowest (most outlying) embeddings.
- ``io_ttl_reclaim_projection`` — rows/bytes reclaimed per month under
  a retention TTL, cumulative.
- ``stat_siegel_tukey``       — Siegel-Tukey alternating-extreme ranks
  + rank-sum z for scale differences.
- ``text_zipf_mandelbrot``    — Zipf-Mandelbrot (s, beta) by grid
  search over the rank offset.
- ``dq_duplicate_payments``   — same-customer same-amount orders within
  a week: the double-charge screen.

Reference parity: north-star extension — no reference analogue
(the reference has no analytics layer); these are the audit layers a lake-scale engine
adds on the same tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.operators.quantiles import with_global_rank
from nocouncil_etl_spark.plans.retrieval_plans import _TOK_SPARK, _TOK_SQL
from nocouncil_etl_spark.registry import query

PD_DIRS = (  # literal projection directions over the first 8 dims
    (1, 0, 0, 0, 0, 0, 0, 0),
    (0, 1, 0, 0, 0, 0, 0, 0),
    (0, 0, 1, 1, 0, 0, 0, 0),
    (1, -1, 0, 0, 1, -1, 0, 0),
    (1, 1, 1, 1, -1, -1, -1, -1),
    (0, 0, 0, 0, 1, 1, 1, 1),
)
PD_TOP = 10
TTL_MONTHS = 24
TTL_ROW_BYTES = 128
ZM_BETAS = (0, 1, 2, 5, 10)
ZM_TOP = 100
DUP_WINDOW_DAYS = 7


# --------------------------------------------------------------------------
# 1. Two-way ANOVA
# --------------------------------------------------------------------------


@query(
    "stat_anova_two_way",
    oracle="""
WITH d AS (
  SELECT event_type AS a, isodow(CAST(ts AS DATE)) AS b,
         CAST(round(100 * value) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
),
g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s FROM d),
ma AS (
  SELECT a, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
  FROM d GROUP BY a
),
mb AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
  FROM d GROUP BY b
),
mab AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS ss
  FROM d GROUP BY a, b
),
ssa AS (
  SELECT CAST(sum(CAST(round(ma.n * (CAST(ma.s AS DOUBLE) / ma.n
               - CAST((SELECT s FROM g) AS DOUBLE) / (SELECT n FROM g))
               * (CAST(ma.s AS DOUBLE) / ma.n
               - CAST((SELECT s FROM g) AS DOUBLE) / (SELECT n FROM g)))
               AS BIGINT)) AS BIGINT) AS ss,
         CAST(count(*) - 1 AS BIGINT) AS df
  FROM ma
),
ssb AS (
  SELECT CAST(sum(CAST(round(mb.n * (CAST(mb.s AS DOUBLE) / mb.n
               - CAST((SELECT s FROM g) AS DOUBLE) / (SELECT n FROM g))
               * (CAST(mb.s AS DOUBLE) / mb.n
               - CAST((SELECT s FROM g) AS DOUBLE) / (SELECT n FROM g)))
               AS BIGINT)) AS BIGINT) AS ss,
         CAST(count(*) - 1 AS BIGINT) AS df
  FROM mb
),
ssab AS (
  SELECT CAST(sum(CAST(round(c.n
           * (CAST(c.s AS DOUBLE) / c.n
              - CAST(ma.s AS DOUBLE) / ma.n
              - CAST(mb.s AS DOUBLE) / mb.n
              + CAST((SELECT s FROM g) AS DOUBLE) / (SELECT n FROM g))
           * (CAST(c.s AS DOUBLE) / c.n
              - CAST(ma.s AS DOUBLE) / ma.n
              - CAST(mb.s AS DOUBLE) / mb.n
              + CAST((SELECT s FROM g) AS DOUBLE) / (SELECT n FROM g)))
           AS BIGINT)) AS BIGINT) AS ss,
         CAST(((SELECT count(*) FROM ma) - 1)
              * ((SELECT count(*) FROM mb) - 1) AS BIGINT) AS df
  FROM mab c JOIN ma ON ma.a = c.a JOIN mb ON mb.b = c.b
),
sse AS (
  SELECT CAST(sum(CAST(round(ss - CAST(s AS DOUBLE) * s / n) AS BIGINT))
              AS BIGINT) AS ss,
         CAST((SELECT n FROM g) - (SELECT count(*) FROM mab) AS BIGINT) AS df
  FROM mab
)
SELECT 'type' AS source, (SELECT df FROM ssa) AS df, (SELECT ss FROM ssa) AS ss,
       CAST(round(1000.0 * ((SELECT ss FROM ssa) / (SELECT df FROM ssa))
                  / ((SELECT ss FROM sse) / (SELECT df FROM sse)))
            AS BIGINT) AS f_milli
UNION ALL
SELECT 'weekday', (SELECT df FROM ssb), (SELECT ss FROM ssb),
       CAST(round(1000.0 * ((SELECT ss FROM ssb) / (SELECT df FROM ssb))
                  / ((SELECT ss FROM sse) / (SELECT df FROM sse))) AS BIGINT)
UNION ALL
SELECT 'interaction', (SELECT df FROM ssab), (SELECT ss FROM ssab),
       CAST(round(1000.0 * ((SELECT ss FROM ssab) / (SELECT df FROM ssab))
                  / ((SELECT ss FROM sse) / (SELECT df FROM sse))) AS BIGINT)
UNION ALL
SELECT 'error', (SELECT df FROM sse), (SELECT ss FROM sse), NULL
""",
)
def stat_anova_two_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA of value on event type × weekday with the
    interaction term: main-effect sums of squares from marginal means,
    interaction SS from cell deviations (ȳ_ij − ȳ_i − ȳ_j + ȳ), error
    SS from within-cell variance — each term computed from EXACT
    integer cell sums and quantized to the cent² grid before the
    rollup, so the whole table is engine-identical. F ratios against
    the error mean square say whether the weekly shape differs BY TYPE
    (the interaction stat_anova_f_oneway cannot see).

    Scale shape: four hash aggs (grand, two marginals, cells — all
    tiny), broadcast joins among them, a 4-row table out."""
    d = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("a"),
            F.when(F.dayofweek(F.col("ts").cast("date")) == 1, 7)
            .otherwise(F.dayofweek(F.col("ts").cast("date")) - 1)
            .alias("b"),
            F.round(100 * F.col("value")).cast("long").alias("y"),
        )
    )
    g = d.agg(
        F.count(F.lit(1)).cast("long").alias("gn"),
        F.sum("y").cast("long").alias("gs"),
    )
    ma = d.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("na"),
        F.sum("y").cast("long").alias("sa"),
    )
    mb = d.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("y").cast("long").alias("sb"),
    )
    mab = d.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("nc"),
        F.sum("y").cast("long").alias("sc"),
        F.sum((F.col("y").cast("decimal(38,0)") * F.col("y")))
        .cast("double")
        .alias("ssc"),
    )
    gmean = F.col("gs").cast("double") / F.col("gn")
    ssa = (
        ma.crossJoin(F.broadcast(g))
        .select(
            F.round(
                F.col("na")
                * (F.col("sa").cast("double") / F.col("na") - gmean)
                * (F.col("sa").cast("double") / F.col("na") - gmean)
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").cast("long").alias("ss"), (F.count(F.lit(1)) - 1).cast("long").alias("df"))
    )
    ssb = (
        mb.crossJoin(F.broadcast(g))
        .select(
            F.round(
                F.col("nb")
                * (F.col("sb").cast("double") / F.col("nb") - gmean)
                * (F.col("sb").cast("double") / F.col("nb") - gmean)
            )
            .cast("long")
            .alias("t")
        )
        .agg(F.sum("t").cast("long").alias("ss"), (F.count(F.lit(1)) - 1).cast("long").alias("df"))
    )
    ka = ma.count()
    kb = mb.count()
    dev = (
        F.col("sc").cast("double") / F.col("nc")
        - F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
        + gmean
    )
    ssab = (
        mab.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(g))
        .select(F.round(F.col("nc") * dev * dev).cast("long").alias("t"))
        .agg(
            F.sum("t").cast("long").alias("ss"),
            F.lit((ka - 1) * (kb - 1)).cast("long").alias("df"),
        )
    )
    sse = (
        mab.crossJoin(F.broadcast(g))
        .select(
            F.round(
                F.col("ssc")
                - F.col("sc").cast("double") * F.col("sc") / F.col("nc")
            )
            .cast("long")
            .alias("t"),
            "gn",
        )
        .groupBy()
        .agg(
            F.sum("t").cast("long").alias("ss"),
            (F.max("gn") - F.lit(ka * kb)).cast("long").alias("df"),
        )
    )

    def row(name: str, frame: DataFrame, with_f: bool) -> DataFrame:
        base = frame.crossJoin(
            F.broadcast(
                sse.select(
                    F.col("ss").alias("e_ss"), F.col("df").alias("e_df")
                )
            )
        )
        fcol = (
            F.round(
                1000.0
                * (F.col("ss") / F.col("df"))
                / (F.col("e_ss") / F.col("e_df"))
            ).cast("long")
            if with_f
            else F.lit(None).cast("long")
        )
        return base.select(
            F.lit(name).alias("source"), "df", "ss", fcol.alias("f_milli")
        )

    return (
        row("type", ssa, True)
        .unionByName(row("weekday", ssb, True))
        .unionByName(row("interaction", ssab, True))
        .unionByName(
            sse.select(
                F.lit("error").alias("source"),
                "df",
                "ss",
                F.lit(None).cast("long").alias("f_milli"),
            )
        )
    )


# --------------------------------------------------------------------------
# 2. Projection depth
# --------------------------------------------------------------------------


def _pd_oracle() -> str:
    arms = []
    for j, dvec in enumerate(PD_DIRS):
        proj = " + ".join(
            f"({w}) * CAST(embedding[{i + 1}] AS DOUBLE)"
            for i, w in enumerate(dvec)
            if w
        )
        arms.append(f"""
SELECT vec_id, {j} AS dir,
       CAST(round(1000000 * ({proj})) AS BIGINT) AS proj
FROM embeddings""")
    body = "\nUNION ALL\n".join(arms)
    return f"""
WITH projs AS ({body}),
rk AS (
  SELECT vec_id, dir,
         row_number() OVER (PARTITION BY dir ORDER BY proj, vec_id) AS rn,
         count(*) OVER (PARTITION BY dir) AS n
  FROM projs
),
dep AS (
  SELECT vec_id,
         min(CAST(round(1000000.0 * least(rn, n + 1 - rn) / n) AS BIGINT))
           AS depth_micro
  FROM rk GROUP BY vec_id
)
SELECT vec_id, depth_micro FROM dep
ORDER BY depth_micro, vec_id LIMIT {PD_TOP}
"""


@query("ml_projection_depth", oracle=_pd_oracle())
def ml_projection_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection (halfspace-style) depth of each embedding: along each
    of {len(PD_DIRS)} literal directions over the first 8 dimensions,
    a point's one-dimensional depth is min(rank, n+1−rank)/n; its
    multivariate depth is the MINIMUM over directions (the projection
    pursuit lower bound on Tukey halfspace depth). The {PD_TOP}
    shallowest points are the geometric outliers — the depth-based
    companion to ml_isolation_depth (tree-based) and vec_neardup_cosine
    (similarity-based). Projections quantize to micro before ranking;
    ties break by vec_id.

    Scale shape: directions are literals compiled into the scan (one
    pass emits all projections); per-direction rank windows partition
    by direction; the depth rollup is vector-cardinality."""
    emb = load(spark, sf_dir, "embeddings")
    arms = None
    for j, dvec in enumerate(PD_DIRS):
        proj = None
        for i, wgt in enumerate(dvec):
            if not wgt:
                continue
            term = F.lit(float(wgt)) * F.col("embedding").getItem(i).cast(
                "double"
            )
            proj = term if proj is None else proj + term
        arm = emb.select(
            "vec_id",
            F.lit(j).alias("dir"),
            F.round(1_000_000 * proj).cast("long").alias("proj"),
        )
        arms = arm if arms is None else arms.unionByName(arm)
    wd = Window.partitionBy("dir").orderBy("proj", "vec_id")
    wn = Window.partitionBy("dir")
    rk = arms.select(
        "vec_id",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    dep = rk.groupBy("vec_id").agg(
        F.min(
            F.round(
                1_000_000.0
                * F.least(F.col("rn"), F.col("n") + 1 - F.col("rn"))
                / F.col("n")
            ).cast("long")
        ).alias("depth_micro")
    )
    return dep.orderBy("depth_micro", "vec_id").limit(PD_TOP)


# --------------------------------------------------------------------------
# 3. TTL reclaim projection
# --------------------------------------------------------------------------


@query(
    "io_ttl_reclaim_projection",
    oracle=f"""
WITH part AS (
  SELECT strftime(CAST(o_orderdate AS DATE) + INTERVAL {TTL_MONTHS} MONTH,
                  '%Y-%m') AS expiry_mon,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1
),
horizon AS (SELECT strftime(max(o_orderdate), '%Y-%m') AS now_mon FROM orders),
future AS (
  SELECT expiry_mon, n_rows FROM part
  WHERE expiry_mon > (SELECT now_mon FROM horizon)
)
SELECT expiry_mon,
       n_rows AS rows_expiring,
       CAST(sum(n_rows) OVER (ORDER BY expiry_mon
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            * {TTL_ROW_BYTES} AS BIGINT) AS cum_reclaim_bytes
FROM future
""",
)
def io_ttl_reclaim_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-reclaim forecast under a {TTL_MONTHS}-month retention
    TTL: each order row expires {TTL_MONTHS} months after creation, so
    the future monthly expiry schedule and the CUMULATIVE bytes
    reclaimed ({TTL_ROW_BYTES} B/row proxy) fall directly out of the
    creation-month histogram — the capacity-planning curve every
    retention policy review asks for, and the forward-looking
    complement of io_hot_cold_tiering (which classifies the present).
    Month arithmetic is calendar-exact on both engines.

    Scale shape: one month-grain hash agg + one cumulative window over
    the calendar-sized schedule."""
    orders = load(spark, sf_dir, "orders")
    part = orders.groupBy(
        F.date_format(
            F.add_months(F.col("o_orderdate").cast("date"), TTL_MONTHS),
            "yyyy-MM",
        ).alias("expiry_mon")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    horizon = orders.agg(
        F.date_format(F.max("o_orderdate"), "yyyy-MM").alias("now_mon")
    )
    future = part.crossJoin(F.broadcast(horizon)).filter(
        F.col("expiry_mon") > F.col("now_mon")
    )
    w = Window.orderBy("expiry_mon").rowsBetween(Window.unboundedPreceding, 0)
    return future.select(
        "expiry_mon",
        F.col("n_rows").alias("rows_expiring"),
        (F.sum("n_rows").over(w) * TTL_ROW_BYTES)
        .cast("long")
        .alias("cum_reclaim_bytes"),
    )


# --------------------------------------------------------------------------
# 4. Siegel-Tukey
# --------------------------------------------------------------------------


@query(
    "stat_siegel_tukey",
    oracle="""
WITH s AS (
  SELECT event_id, CAST(round(100 * value) AS BIGINT) AS x,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
),
r AS (
  SELECT is_a,
         CAST(row_number() OVER (ORDER BY x, event_id) AS BIGINT) AS l,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM s
),
st AS (
  SELECT is_a, n,
         CASE WHEN l <= n + 1 - l
              THEN 2 * l - CASE WHEN l % 2 = 1 THEN 1 ELSE 0 END
              ELSE 2 * (n + 1 - l)
                   - CASE WHEN (n + 1 - l) % 2 = 0 THEN 1 ELSE 0 END
         END AS rk
  FROM r
),
agg AS (
  SELECT max(n) AS n,
         CAST(sum(is_a) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN is_a = 1 THEN rk ELSE 0 END) AS BIGINT) AS w
  FROM st
)
SELECT n1, CAST(n - n1 AS BIGINT) AS n2, w AS w_stat,
       CAST(round(1000.0 * (w - n1 * (n + 1) / 2.0)
                  / sqrt(n1 * (n - n1) * (n + 1) / 12.0)) AS BIGINT)
         AS z_milli
FROM agg
""",
)
def stat_siegel_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel-Tukey test for SCALE differences between purchase and
    view values: ranks are assigned from the EXTREMES inward in the
    alternating 1, 2, 3, 3', 2', ... pattern (closed form from the
    left/right position — no sequential pass), so a sample with larger
    spread collects the low ranks; the rank sum then standardizes with
    the ordinary Wilcoxon null moments (ST ranks are a permutation of
    1..n). The rank-based scale test that needs NO moment existence —
    cousin of stat_levene_mean (moment-based) and the location tests
    (stat_mann_whitney_u). Total order (value, id) fixes ties.

    Scale shape (r7): pooled ranks via Fenwick prefix counts (no global
    sort), closed-form rank mapping, 1-row arithmetic."""
    s = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select(
            "event_id",
            F.round(100 * F.col("value")).cast("long").alias("x"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
                "is_a"
            ),
        )
    )
    # r7: ranks via Fenwick prefix counts + tie-block windows — no
    # global sort (with_global_rank); n via a broadcast 1-row aggregate
    tot = s.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = with_global_rank(s, "x", "event_id", "l").crossJoin(
        F.broadcast(tot)
    ).select("is_a", "l", "n")
    right = F.col("n") + 1 - F.col("l")
    rk = F.when(
        F.col("l") <= right,
        2 * F.col("l") - F.when(F.col("l") % 2 == 1, 1).otherwise(0),
    ).otherwise(2 * right - F.when(right % 2 == 0, 1).otherwise(0))
    st = r.select("is_a", "n", rk.alias("rk"))
    agg = st.agg(
        F.max("n").alias("n"),
        F.sum("is_a").cast("long").alias("n1"),
        F.sum(F.when(F.col("is_a") == 1, F.col("rk")).otherwise(0))
        .cast("long")
        .alias("w"),
    )
    n, n1, w = F.col("n"), F.col("n1"), F.col("w")
    return agg.select(
        n1.alias("n1"),
        (n - n1).cast("long").alias("n2"),
        w.alias("w_stat"),
        F.round(
            1000.0
            * (w - n1 * (n + 1) / 2.0)
            / F.sqrt(n1 * (n - n1) * (n + 1) / 12.0)
        )
        .cast("long")
        .alias("z_milli"),
    )


# --------------------------------------------------------------------------
# 5. Zipf-Mandelbrot
# --------------------------------------------------------------------------


def _zm_oracle() -> str:
    arms = "\nUNION ALL\n".join(
        f"""SELECT {b} AS beta,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(1000000 * ln(r + {b}.0)) AS BIGINT)) AS BIGINT) AS sx,
       CAST(sum(lf) AS BIGINT) AS sy,
       CAST(sum(CAST(round(1000000 * ln(r + {b}.0)) AS HUGEINT) * lf)
            AS DOUBLE) AS sxy,
       CAST(sum(CAST(round(1000000 * ln(r + {b}.0)) AS HUGEINT)
                * CAST(round(1000000 * ln(r + {b}.0)) AS HUGEINT))
            AS DOUBLE) AS sxx,
       CAST(sum(CAST(lf AS HUGEINT) * lf) AS DOUBLE) AS syy
FROM ranked"""
        for b in ZM_BETAS
    )
    return f"""
WITH tok AS (
  SELECT unnest({_TOK_SQL}) AS term FROM documents
),
tf AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY c DESC, term) AS BIGINT) AS r,
         CAST(round(1000000 * ln(CAST(c AS DOUBLE))) AS BIGINT) AS lf
  FROM tf QUALIFY r <= {ZM_TOP}
),
arms AS (
{arms}
),
fit AS (
  SELECT beta,
         (n * sxy - CAST(sx AS DOUBLE) * sy)
         / (n * sxx - CAST(sx AS DOUBLE) * sx) AS slope,
         (n * sxy - CAST(sx AS DOUBLE) * sy)
         * (n * sxy - CAST(sx AS DOUBLE) * sy)
         / ((n * sxx - CAST(sx AS DOUBLE) * sx)
            * (n * syy - CAST(sy AS DOUBLE) * sy)) AS r2
  FROM arms
)
SELECT beta,
       CAST(round(-1000 * slope) AS BIGINT) AS s_milli,
       CAST(round(1000 * r2) AS BIGINT) AS r2_milli
FROM (SELECT *, row_number() OVER (ORDER BY r2 DESC, beta) AS rk FROM fit)
WHERE rk = 1
""".replace("QUALIFY r <=", "QUALIFY row_number() OVER (ORDER BY c DESC, term) <=")


@query("text_zipf_mandelbrot", oracle=_zm_oracle())
def text_zipf_mandelbrot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-Mandelbrot law fit: frequency ∝ 1/(rank + β)^s over the top
    {ZM_TOP} vocabulary terms, with the rank offset β selected from the
    grid {ZM_BETAS} by OLS R² on the (ln(r+β), ln f) line — Mandelbrot's
    β is what fixes plain Zipf's (text_zipf_fit) systematic misfit at
    the head of the curve. Both log coordinates quantize to micro
    before the integer moment sums (the ts_ses_grid_alpha grid-search
    discipline), so the winning (β, s, R²) is engine-exact.

    Scale shape: one tokenization pass + vocabulary hash agg; the
    ranked head is {ZM_TOP} rows; each grid arm is one tiny aggregate
    over it."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tf = (
        docs.select(F.explode(F.expr(_TOK_SPARK)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = (
        tf.withColumn(
            "r",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), "term"))
            .cast("long"),
        )
        .filter(F.col("r") <= ZM_TOP)
        .select(
            "r",
            F.round(1_000_000 * F.log(F.col("c").cast("double")))
            .cast("long")
            .alias("lf"),
        )
    )
    ranked.persist()
    dec = "decimal(38,0)"
    arms = None
    for b in ZM_BETAS:
        xq = F.round(1_000_000 * F.log(F.col("r") + float(b))).cast("long")
        arm = ranked.select(xq.alias("xq"), "lf").agg(
            F.lit(b).cast("long").alias("beta"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("xq").cast("long").alias("sx"),
            F.sum("lf").cast("long").alias("sy"),
            F.sum((F.col("xq").cast(dec) * F.col("lf"))).cast("double").alias("sxy"),
            F.sum((F.col("xq").cast(dec) * F.col("xq"))).cast("double").alias("sxx"),
            F.sum((F.col("lf").cast(dec) * F.col("lf"))).cast("double").alias("syy"),
        ).select("beta", "n", "sx", "sy", "sxy", "sxx", "syy")
        arms = arm if arms is None else arms.unionByName(arm)
    n = F.col("n")
    cov = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    fit = arms.select(
        "beta",
        (cov / varx).alias("slope"),
        (cov * cov / (varx * vary)).alias("r2"),
    )
    return (
        fit.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("r2"), "beta"))
        )
        .filter(F.col("rk") == 1)
        .select(
            "beta",
            F.round(-1000 * F.col("slope")).cast("long").alias("s_milli"),
            F.round(1000 * F.col("r2")).cast("long").alias("r2_milli"),
        )
    )


# --------------------------------------------------------------------------
# 6. Duplicate payments
# --------------------------------------------------------------------------


@query(
    "dq_duplicate_payments",
    oracle=f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(100 * o_totalprice) AS BIGINT) AS cents,
         CAST(o_orderdate AS DATE) AS day
  FROM orders
),
pairs AS (
  SELECT a.o_custkey AS custkey, a.cents,
         abs(b.day - a.day) AS gap_days
  FROM o a JOIN o b
    ON b.o_custkey = a.o_custkey AND b.cents = a.cents
   AND b.o_orderkey > a.o_orderkey
  WHERE abs(b.day - a.day) <= {DUP_WINDOW_DAYS}
)
SELECT custkey,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(max(cents) AS BIGINT) AS max_amount_cents,
       CAST(min(gap_days) AS BIGINT) AS min_gap_days
FROM pairs GROUP BY custkey
""",
)
def dq_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge screen: pairs of orders by the SAME customer for
    the SAME amount within {DUP_WINDOW_DAYS} days — the classic
    payments-audit heuristic (exact amount + short window ≈ retried or
    double-submitted charge). The pair join is keyed on (customer,
    amount), so candidates are equal-amount collisions per customer,
    never a cross join; emits per-customer pair counts, the largest
    flagged amount, and the tightest gap.

    Scale shape: self equi-join on the composite (custkey, cents) key
    (amount equality IS the blocking key — the dedup_phonetic_block
    discipline applied to payments), one hash agg."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(100 * F.col("o_totalprice")).cast("long").alias("cents"),
        F.col("o_orderdate").cast("date").alias("day"),
    )
    b = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("cents").alias("c2"),
        F.col("o_orderkey").alias("ok2"),
        F.col("day").alias("day2"),
    )
    pairs = (
        o.join(
            b,
            (F.col("o_custkey") == F.col("ck"))
            & (F.col("cents") == F.col("c2"))
            & (F.col("ok2") > F.col("o_orderkey")),
        )
        .filter(
            F.abs(F.datediff("day2", "day")) <= DUP_WINDOW_DAYS
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            "cents",
            F.abs(F.datediff("day2", "day")).alias("gap_days"),
        )
    )
    return pairs.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.max("cents").cast("long").alias("max_amount_cents"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
    )
