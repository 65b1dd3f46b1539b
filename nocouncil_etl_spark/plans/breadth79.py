"""Breadth batch 59 (round 6): Jarque-Bera, determinism audit, Shapley
R² decomposition, competing risks, sampled triangle estimator, exact
binomial test.

Six operators (reference scope: the cheap moment normality test, an
engine-QA invariant, game-theoretic variable importance, the
competing-risks extension of survival analysis, sampling estimators for
graph statistics, and the exact one-proportion test):

- ``stat_jarque_bera``          — JB normality test from exact 4th-
  order moments of the value distribution.
- ``dq_determinism_audit``      — the same keep-best canary computed
  under two different partitionings must checksum identically.
- ``ml_shapley_r2_decomposition`` — LMG/Shapley split of the two-
  regressor R² between balance and order count.
- ``survival_competing_risks``  — Aalen-Johansen cumulative incidence
  of first-purchase vs first-error (competing events).
- ``graph_triangle_sample_estimate`` — p³-corrected triangle count
  from an md5-sampled edge set vs the exact count.
- ``stat_binomial_exact``       — exact two-sided binomial test of the
  weekend share against 2/7 via the log-factorial table.

Reference parity: north-star extension — no reference analogue
(the reference has no analytics layer); these are the audit layers a lake-scale engine
adds on the same tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.operators.quantiles import dense_cumsum
from nocouncil_etl_spark.plans.breadth15 import _pt, _pt_sql
from nocouncil_etl_spark.plans.graph_plans import _EDGES_SQL, _graph
from nocouncil_etl_spark.registry import query

TS_SAMPLE_MOD = 4  # edge sampling probability 1/4
CR_TAU_DAYS = 21


# --------------------------------------------------------------------------
# 1. Jarque-Bera
# --------------------------------------------------------------------------


@query(
    "stat_jarque_bera",
    oracle="""
WITH v AS (
  SELECT CAST(round(100 * value) AS BIGINT) // 100 AS x
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s1,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS s2,
         CAST(sum(CAST(x AS HUGEINT) * x * x) AS DOUBLE) AS s3,
         CAST(sum(CAST(x AS HUGEINT) * x * x * x) AS DOUBLE) AS s4
  FROM v
),
c AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / n AS m1,
         s2 / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS mu2,
         s3 / n - 3 * (CAST(s1 AS DOUBLE) / n) * s2 / n
           + 2 * pow(CAST(s1 AS DOUBLE) / n, 3) AS mu3,
         s4 / n - 4 * (CAST(s1 AS DOUBLE) / n) * s3 / n
           + 6 * pow(CAST(s1 AS DOUBLE) / n, 2) * s2 / n
           - 3 * pow(CAST(s1 AS DOUBLE) / n, 4) AS mu4
  FROM m
)
SELECT n,
       CAST(round(1000 * mu3 / pow(mu2, 1.5)) AS BIGINT) AS skew_milli,
       CAST(round(1000 * mu4 / (mu2 * mu2)) AS BIGINT) AS kurt_milli,
       CAST(round(1000 * n / 6.0 * (pow(mu3 / pow(mu2, 1.5), 2)
            + pow(mu4 / (mu2 * mu2) - 3, 2) / 4)) AS BIGINT) AS jb_milli
FROM c
""",
)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on the value distribution (rescaled
    to whole units so the quartic moment stays exact in 128 bits):
    JB = n/6·(S² + (K−3)²/4) from the sample skewness and kurtosis —
    the single cheapest normality check (two extra moments on a scan
    you already run), read before trusting any z-based interval the
    moment machinery (agg_ttest_welch, agg_numeric_stats) emits;
    stat_anderson_darling is the powerful-but-costlier follow-up.
    Central moments expand from raw exact sums on identical doubles.

    Scale shape: ONE 4-moment map-side-combined aggregate; scalar
    arithmetic."""
    v = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.expr("CAST(round(100 * value) AS BIGINT) div 100").alias("x")
        )
    )
    dec = "decimal(38,0)"
    m = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum((F.col("x").cast(dec) * F.col("x"))).cast("double").alias("s2"),
        F.sum((F.col("x").cast(dec) * F.col("x") * F.col("x")))
        .cast("double")
        .alias("s3"),
        F.sum(
            (F.col("x").cast(dec) * F.col("x") * F.col("x") * F.col("x"))
        )
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    mu2 = F.col("s2") / n - m1 * m1
    mu3 = F.col("s3") / n - 3 * m1 * F.col("s2") / n + 2 * F.pow(m1, 3.0)
    mu4 = (
        F.col("s4") / n
        - 4 * m1 * F.col("s3") / n
        + 6 * F.pow(m1, 2.0) * F.col("s2") / n
        - 3 * F.pow(m1, 4.0)
    )
    skew = mu3 / F.pow(mu2, 1.5)
    kurt = mu4 / (mu2 * mu2)
    return m.select(
        "n",
        F.round(1000 * skew).cast("long").alias("skew_milli"),
        F.round(1000 * kurt).cast("long").alias("kurt_milli"),
        F.round(
            1000 * n / 6.0 * (F.pow(skew, 2.0) + F.pow(kurt - 3, 2.0) / 4)
        )
        .cast("long")
        .alias("jb_milli"),
    )


# --------------------------------------------------------------------------
# 2. Determinism audit
# --------------------------------------------------------------------------


@query(
    "dq_determinism_audit",
    oracle="""
WITH win AS (
  SELECT event_id AS winner FROM (
    SELECT event_id,
           row_number() OVER (PARTITION BY user_id
             ORDER BY CAST(round(100 * value) AS BIGINT) DESC,
                      event_id DESC) AS rn
    FROM events WHERE value IS NOT NULL
  ) WHERE rn = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(winner) AS BIGINT) AS checksum_a,
       CAST(sum(winner) AS BIGINT) AS checksum_b,
       1 AS deterministic
FROM win
""",
)
def dq_determinism_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine determinism audit: a keep-best canary (per-user argmax
    event by the TOTAL order (value, event id)) is evaluated twice
    under deliberately different physical partitionings
    (repartition 5 vs 13), and the two winner checksums must match —
    the invariant every dedup/golden-record operator in this repo
    relies on, verified as a query. A mismatch would mean an
    under-specified ORDER BY or a non-total tie-break leaked in
    (the classic nondeterminism bug class in distributed SQL).

    Scale shape: two key hash aggs under forced shuffles + 1-row
    checksums — the cost of sleeping well."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.round(100 * F.col("value")).cast("long").alias("cents"),
        )
    )

    def winners(parts: int) -> DataFrame:
        return (
            ev.repartition(parts, "event_id")
            .groupBy("user_id")
            .agg(
                F.max(
                    F.struct(F.col("cents"), F.col("event_id"))
                ).alias("top")
            )
            .select(F.col("top.event_id").alias("winner"))
        )

    a = winners(5).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("winner").cast("long").alias("checksum_a"),
    )
    b = winners(13).agg(F.sum("winner").cast("long").alias("checksum_b"))
    return a.crossJoin(F.broadcast(b)).select(
        "n_keys",
        "checksum_a",
        "checksum_b",
        F.when(F.col("checksum_a") == F.col("checksum_b"), 1)
        .otherwise(0)
        .alias("deterministic"),
    )


# --------------------------------------------------------------------------
# 3. Shapley R² decomposition
# --------------------------------------------------------------------------


@query(
    "ml_shapley_r2_decomposition",
    oracle="""
WITH d AS (
  SELECT CAST(round(100 * c.c_acctbal) AS BIGINT) AS x1,
         coalesce(o.cnt, 0) AS x2, coalesce(o.rev, 0) AS y
  FROM customer c
  LEFT JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
                    CAST(sum(CAST(round(100 * o_totalprice) AS BIGINT))
                         AS BIGINT) AS rev
             FROM orders GROUP BY 1) o ON o.o_custkey = c.c_custkey
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS sa, CAST(sum(x2) AS BIGINT) AS sb,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS saa,
         CAST(sum(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS sbb,
         CAST(sum(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS sab,
         CAST(sum(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS say,
         CAST(sum(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS sby,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
  FROM d
),
c AS (
  SELECT n,
         saa - CAST(sa AS DOUBLE) * sa / n AS caa,
         sbb - CAST(sb AS DOUBLE) * sb / n AS cbb,
         sab - CAST(sa AS DOUBLE) * sb / n AS cab,
         say - CAST(sa AS DOUBLE) * sy / n AS cay,
         sby - CAST(sb AS DOUBLE) * sy / n AS cby,
         syy - CAST(sy AS DOUBLE) * sy / n AS cyy
  FROM m
),
r AS (
  SELECT cay * cay / (caa * cyy) AS r1,
         cby * cby / (cbb * cyy) AS r2,
         (cbb * cay * cay - 2 * cab * cay * cby + caa * cby * cby)
         / ((caa * cbb - cab * cab) * cyy) AS r12
  FROM c
)
SELECT CAST(round(1000 * r12) AS BIGINT) AS r2_full_milli,
       CAST(round(1000 * 0.5 * (r1 + r12 - r2)) AS BIGINT) AS phi1_milli,
       CAST(round(1000 * 0.5 * (r2 + r12 - r1)) AS BIGINT) AS phi2_milli
FROM r
""",
)
def ml_shapley_r2_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley (LMG) decomposition of the two-regressor R²: balance and
    order count each receive φⱼ = the average of their marginal R²
    contributions over both entry orders — the game-theoretically fair
    answer to 'which variable explains the revenue?', immune to the
    order-of-entry arbitrariness of sequential sums of squares. Exactly
    φ₁ + φ₂ = R²(full). All three R² values come from one closed-form
    2-variable normal-equation solve on exact 128-bit moments
    (attribution_shapley does the same averaging over marketing
    channels; this is its statistical-modeling cousin).

    Scale shape: one 10-moment scan, scalar algebra."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.round(100 * F.col("o_totalprice")).cast("long"))
        .cast("long")
        .alias("rev"),
    )
    d = cust.join(per, cust["c_custkey"] == per["o_custkey"], "left").select(
        F.round(100 * F.col("c_acctbal")).cast("long").alias("x1"),
        F.coalesce("cnt", F.lit(0)).alias("x2"),
        F.coalesce("rev", F.lit(0)).alias("y"),
    )
    dec = "decimal(38,0)"
    m = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("sa"),
        F.sum("x2").cast("long").alias("sb"),
        F.sum("y").cast("long").alias("sy"),
        F.sum((F.col("x1").cast(dec) * F.col("x1"))).cast("double").alias("saa"),
        F.sum((F.col("x2").cast(dec) * F.col("x2"))).cast("double").alias("sbb"),
        F.sum((F.col("x1").cast(dec) * F.col("x2"))).cast("double").alias("sab"),
        F.sum((F.col("x1").cast(dec) * F.col("y"))).cast("double").alias("say"),
        F.sum((F.col("x2").cast(dec) * F.col("y"))).cast("double").alias("sby"),
        F.sum((F.col("y").cast(dec) * F.col("y"))).cast("double").alias("syy"),
    )
    n = F.col("n")
    caa = F.col("saa") - F.col("sa").cast("double") * F.col("sa") / n
    cbb = F.col("sbb") - F.col("sb").cast("double") * F.col("sb") / n
    cab = F.col("sab") - F.col("sa").cast("double") * F.col("sb") / n
    cay = F.col("say") - F.col("sa").cast("double") * F.col("sy") / n
    cby = F.col("sby") - F.col("sb").cast("double") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy").cast("double") * F.col("sy") / n
    r1 = cay * cay / (caa * cyy)
    r2 = cby * cby / (cbb * cyy)
    r12 = (cbb * cay * cay - 2 * cab * cay * cby + caa * cby * cby) / (
        (caa * cbb - cab * cab) * cyy
    )
    return m.select(
        F.round(1000 * r12).cast("long").alias("r2_full_milli"),
        F.round(1000 * 0.5 * (r1 + r12 - r2)).cast("long").alias("phi1_milli"),
        F.round(1000 * 0.5 * (r2 + r12 - r1)).cast("long").alias("phi2_milli"),
    )


# --------------------------------------------------------------------------
# 4. Competing risks
# --------------------------------------------------------------------------


@query(
    "survival_competing_risks",
    oracle=f"""
WITH span AS (
  SELECT user_id, min(ts) AS first_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS buy,
         min(CASE WHEN event_type = 'error' THEN ts END) AS err
  FROM events GROUP BY user_id
),
life AS (
  SELECT CASE
    WHEN buy IS NOT NULL AND (err IS NULL OR buy <= err) THEN 'purchase'
    WHEN err IS NOT NULL THEN 'error'
    ELSE 'censored' END AS cause,
    CASE
      WHEN buy IS NOT NULL AND (err IS NULL OR buy <= err)
        THEN CAST(date_diff('day', first_ts, buy) AS BIGINT) + 1
      WHEN err IS NOT NULL
        THEN CAST(date_diff('day', first_ts, err) AS BIGINT) + 1
      ELSE {CR_TAU_DAYS + 1} END AS t
  FROM span
),
tab AS (
  SELECT t,
         CAST(count(*) AS BIGINT) AS leaving,
         CAST(sum(CASE WHEN cause = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS dp,
         CAST(sum(CASE WHEN cause = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS de
  FROM life GROUP BY t
),
risk AS (
  SELECT t, dp, de,
         sum(leaving) OVER (ORDER BY t DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
  FROM tab
),
surv AS (
  SELECT t, dp, de, n,
         coalesce(exp(sum(CASE WHEN n - dp - de > 0
                 THEN CAST(round(ln((n - dp - de)
                                    / CAST(n AS DOUBLE)), 6)
                      AS DECIMAL(18, 6)) END) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), 1.0)
           AS s_prev
  FROM risk WHERE t <= {CR_TAU_DAYS}
),
cif AS (
  SELECT
    CAST(sum(CAST(round(1000000 * s_prev * dp / n) AS BIGINT)) AS BIGINT)
      AS cif_p,
    CAST(sum(CAST(round(1000000 * s_prev * de / n) AS BIGINT)) AS BIGINT)
      AS cif_e,
    CAST(sum(dp) AS BIGINT) AS np, CAST(sum(de) AS BIGINT) AS ne
  FROM surv
)
SELECT 'purchase' AS cause, np AS n_events, cif_p AS cif_micro FROM cif
UNION ALL
SELECT 'error', ne, cif_e FROM cif
""",
)
def survival_competing_risks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence under COMPETING risks: each
    user's clock runs from first activity to whichever comes first —
    first purchase or first error (ties → purchase); the cumulative
    incidence of each cause at τ = {CR_TAU_DAYS} days is
    Σ S(t−)·d_k(t)/n(t) with S the all-cause KM survivor — the
    estimator that 1−KM-per-cause gets WRONG when risks compete
    (it over-counts; AJ incidences provably sum with S to 1).
    Survival accumulates as 6dp-quantized log terms (the KM grid);
    per-time increments quantize to micro before summing.

    Scale shape: per-user span rollup, day-grain life table, the KM
    reverse/forward windows, 2-row output."""
    ev = load(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("buy"),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias(
            "err"
        ),
    )
    is_p = F.col("buy").isNotNull() & (
        F.col("err").isNull() | (F.col("buy") <= F.col("err"))
    )
    life = span.select(
        F.when(is_p, "purchase")
        .when(F.col("err").isNotNull(), "error")
        .otherwise("censored")
        .alias("cause"),
        F.when(is_p, F.datediff("buy", "first_ts") + 1)
        .when(
            F.col("err").isNotNull(), F.datediff("err", "first_ts") + 1
        )
        .otherwise(F.lit(CR_TAU_DAYS + 1))
        .cast("long")
        .alias("t"),
    )
    tab = life.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("leaving"),
        F.sum(F.when(F.col("cause") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("dp"),
        F.sum(F.when(F.col("cause") == "error", 1).otherwise(0))
        .cast("long")
        .alias("de"),
    )
    wd = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    risk = tab.select(
        "t",
        "dp",
        "de",
        F.sum("leaving").over(wd).alias("n"),
    ).filter(F.col("t") <= CR_TAU_DAYS)
    logs = F.round(
        F.log(
            (F.col("n") - F.col("dp") - F.col("de"))
            / F.col("n").cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    surv = risk.select(
        "dp",
        "de",
        "n",
        F.coalesce(
            F.exp(F.sum(logs).over(wprev).cast("double")), F.lit(1.0)
        ).alias("s_prev"),
    )
    cif = surv.agg(
        F.sum(
            F.round(
                1_000_000 * F.col("s_prev") * F.col("dp") / F.col("n")
            ).cast("long")
        )
        .cast("long")
        .alias("cif_p"),
        F.sum(
            F.round(
                1_000_000 * F.col("s_prev") * F.col("de") / F.col("n")
            ).cast("long")
        )
        .cast("long")
        .alias("cif_e"),
        F.sum("dp").cast("long").alias("np"),
        F.sum("de").cast("long").alias("ne"),
    )
    p = cif.select(
        F.lit("purchase").alias("cause"),
        F.col("np").alias("n_events"),
        F.col("cif_p").alias("cif_micro"),
    )
    e = cif.select(
        F.lit("error").alias("cause"),
        F.col("ne").alias("n_events"),
        F.col("cif_e").alias("cif_micro"),
    )
    return p.unionByName(e)


# --------------------------------------------------------------------------
# 5. Sampled triangle estimate
# --------------------------------------------------------------------------


@query(
    "graph_triangle_sample_estimate",
    oracle=f"""
WITH {_EDGES_SQL},
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS t_exact
  FROM edges0 a
  JOIN edges0 b ON b.src = a.dst AND b.dst > a.src
  JOIN edges0 c ON c.src = a.src AND c.dst = b.dst
  WHERE a.src < a.dst
),
se AS (
  SELECT src, dst FROM edges0
  WHERE ({_pt_sql("tse#", "CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)",
                  TS_SAMPLE_MOD)}) = 0
),
stri AS (
  SELECT CAST(count(*) AS BIGINT) AS t_samp
  FROM se a
  JOIN se b ON b.src = a.dst AND b.dst > a.src
  JOIN se c ON c.src = a.src AND c.dst = b.dst
  WHERE a.src < a.dst
)
SELECT (SELECT t_exact FROM tri) AS exact_triangles,
       (SELECT t_samp FROM stri) AS sampled_triangles,
       (SELECT t_samp FROM stri) * {TS_SAMPLE_MOD ** 3} AS estimate,
       CASE WHEN (SELECT t_exact FROM tri) > 0
            THEN CAST(round(1000.0 * abs((SELECT t_samp FROM stri)
                       * {TS_SAMPLE_MOD ** 3}
                       - (SELECT t_exact FROM tri))
                       / (SELECT t_exact FROM tri)) AS BIGINT)
       END AS rel_err_milli
""",
)
def graph_triangle_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-sampling triangle estimation (Tsourakakis-style DOULION):
    keep each edge with probability 1/{TS_SAMPLE_MOD} (md5-determined),
    count triangles in the thinned graph, and scale by
    {TS_SAMPLE_MOD}³ — the unbiased estimator whose variance/cost
    trade is the whole point: the sampled join touches ~1/{TS_SAMPLE_MOD ** 2}
    of the wedge volume. Reported against the exact count
    (graph_triangle_count's kernel) with the relative error — the audit
    that says whether sampling is safe for YOUR graph before you run it
    at 100 TB.

    Scale shape: two triangle joins (one full, one on the thinned edge
    list — the estimator's production half costs Σd²/{TS_SAMPLE_MOD}²);
    1-row comparison."""
    nodes, edges, _n = _graph(spark, sf_dir)
    # exact triangles on the DIRECTED edges0 convention of the oracle
    d0 = edges.select("src", "dst").distinct()
    d0.persist()

    def tri_directed(df: DataFrame) -> DataFrame:
        a = df.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        )
        bc = df.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        ac = df.select(F.col("src").alias("a2"), F.col("dst").alias("c2"))
        return (
            a.join(bc, "b")
            .filter(F.col("c") > F.col("a"))
            .join(
                ac,
                (F.col("a2") == F.col("a")) & (F.col("c2") == F.col("c")),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("t"))
        )

    exact = tri_directed(d0).select(F.col("t").alias("exact_triangles"))
    key = F.concat(
        F.col("src").cast("string"), F.lit(":"), F.col("dst").cast("string")
    )
    se = d0.filter(_pt("tse#", key) % TS_SAMPLE_MOD == 0)
    samp = tri_directed(se).select(F.col("t").alias("sampled_triangles"))
    scale = TS_SAMPLE_MOD ** 3
    return exact.crossJoin(F.broadcast(samp)).select(
        "exact_triangles",
        "sampled_triangles",
        (F.col("sampled_triangles") * scale).cast("long").alias("estimate"),
        F.when(
            F.col("exact_triangles") > 0,
            F.round(
                1000.0
                * F.abs(
                    F.col("sampled_triangles") * scale
                    - F.col("exact_triangles")
                )
                / F.col("exact_triangles")
            ).cast("long"),
        ).alias("rel_err_milli"),
    )


# --------------------------------------------------------------------------
# 6. Exact binomial test
# --------------------------------------------------------------------------


@query(
    "stat_binomial_exact",
    oracle="""
WITH d AS (
  SELECT CASE WHEN isodow(CAST(ts AS DATE)) >= 6 THEN 1 ELSE 0 END AS wknd
  FROM events
),
tab AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(wknd) AS BIGINT) AS k FROM d
),
lf AS MATERIALIZED (
  SELECT 0 AS j, CAST(0 AS BIGINT) AS lf
  UNION ALL
  SELECT j,
         sum(CAST(round(1000000 * ln(CAST(j AS DOUBLE))) AS BIGINT))
           OVER (ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS lf
  FROM (SELECT unnest(range(1, (SELECT n FROM tab) + 1)) AS j)
),
comp AS MATERIALIZED (
  SELECT (SELECT n FROM tab) - j AS j, lf AS lf2 FROM lf
),
lnp AS MATERIALIZED (
  SELECT l1.j AS jj,
         (SELECT lf FROM lf WHERE j = (SELECT n FROM tab))
         - l1.lf - c.lf2
         + l1.j * CAST(round(1000000 * ln(2.0 / 7.0)) AS BIGINT)
         + ((SELECT n FROM tab) - l1.j)
           * CAST(round(1000000 * ln(5.0 / 7.0)) AS BIGINT) AS lnp_micro
  FROM lf l1 JOIN comp c ON c.j = l1.j
),
obs AS (SELECT lnp_micro FROM lnp WHERE jj = (SELECT k FROM tab)),
tail AS (
  SELECT CAST(sum(CAST(round(1000000000000
                * exp((lnp_micro
                       - (SELECT max(lnp_micro) FROM lnp)) / 1000000.0))
                AS BIGINT)) AS BIGINT) AS mass_pico,
         CAST(sum(CASE WHEN lnp_micro <= (SELECT lnp_micro FROM obs)
                       THEN CAST(round(1000000000000
                            * exp((lnp_micro
                                   - (SELECT max(lnp_micro) FROM lnp))
                                  / 1000000.0)) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS tail_pico
  FROM lnp
)
SELECT (SELECT n FROM tab) AS n,
       (SELECT k FROM tab) AS k_weekend,
       CAST(round(1000000.0 * (SELECT tail_pico FROM tail)
                  / (SELECT mass_pico FROM tail)) AS BIGINT)
         AS p_two_sided_micro
""",
)
def stat_binomial_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sided binomial test of the weekend event share against
    p₀ = 2/7: every count's log-pmf comes from the quantized
    log-factorial table (the stat_fisher_exact machinery) plus integer
    multiples of ln p₀ / ln(1−p₀); the two-sided p-value is the
    probability mass of all counts no more likely than the observed one
    (method of small p-values), SELF-NORMALIZED by the total quantized
    mass (max-shifted exp keeps every term in range) so quantization
    cancels. The exact test behind stat_power_binomial's approximations.

    Scale shape: the lnfact table is one sequence + running sum
    (documented); the pmf table is n rows of integer arithmetic; two
    rollups."""
    ev = load(spark, sf_dir, "events")
    tab = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                F.when(
                    F.dayofweek(F.col("ts").cast("date")) == 1, 7
                ).otherwise(F.dayofweek(F.col("ts").cast("date")) - 1)
                >= 6,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("k"),
    ).first()
    n, k = int(tab.n), int(tab.k)
    import math

    def rha(x: float) -> int:
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    lnp_w = rha(1_000_000 * math.log(2.0 / 7.0))
    lnp_l = rha(1_000_000 * math.log(5.0 / 7.0))
    lf = (
        dense_cumsum(
            spark.range(1, n + 1).select(
                F.col("id").alias("j"),
                F.round(1_000_000 * F.log(F.col("id").cast("double")))
                .cast("long")
                .alias("l"),
            ),
            "j",
            "l",
        )
        # r7: the log-factorial running sum via the dense two-phase scan
        # (partition-local windows + broadcast offsets) — spark.range
        # partitions are contiguous, so no global sort and no Fenwick
        # explode is needed
        .select("j", F.col("cum").alias("lf"))
        .unionByName(spark.createDataFrame([(0, 0)], "j long, lf long"))
    )
    lf.persist()
    lfn = int(lf.filter(F.col("j") == n).first().lf)
    comp = lf.select((n - F.col("j")).alias("j"), F.col("lf").alias("lf2"))
    lnp = (
        lf.join(comp, "j")
        .select(
            F.col("j").alias("jj"),
            (
                F.lit(lfn)
                - F.col("lf")
                - F.col("lf2")
                + F.col("j") * lnp_w
                + (n - F.col("j")) * lnp_l
            ).alias("lnp_micro"),
        )
    )
    lnp.persist()
    obs = int(lnp.filter(F.col("jj") == k).first().lnp_micro)
    mx = int(lnp.agg(F.max("lnp_micro").alias("m")).first().m)
    term = F.round(
        1_000_000_000_000
        * F.exp((F.col("lnp_micro") - F.lit(mx)) / 1_000_000.0)
    ).cast("long")
    tail = lnp.agg(
        F.sum(term).cast("long").alias("mass_pico"),
        F.sum(F.when(F.col("lnp_micro") <= obs, term).otherwise(0))
        .cast("long")
        .alias("tail_pico"),
    )
    return tail.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(k).cast("long").alias("k_weekend"),
        F.round(
            1_000_000.0 * F.col("tail_pico") / F.col("mass_pico")
        )
        .cast("long")
        .alias("p_two_sided_micro"),
    )
