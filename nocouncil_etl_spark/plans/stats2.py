"""Statistics batch 2: an oracle-exact HyperLogLog, survival analysis,
deterministic bootstrap intervals, and sequential path mining.

- ``sketch_hll_custom`` — HyperLogLog from first principles (md5 buckets +
  leading-zero registers) with EXACT cross-engine parity: unlike
  ``agg_approx_sketches`` (Spark's built-in HLL, bounded-error rank
  check), this one's registers are deterministic integers, so the
  estimate itself hash-matches. Completes the sketch family
  (KMV / Count-Min / Bloom / HLL), all mergeable at 100 TB.
- ``survival_kaplan_meier`` — user-retention survival curve with
  right-censoring: the product-limit estimator over per-user lifetimes,
  exp/ln-of-rationals on the 6dp grid.
- ``agg_bootstrap_ci`` — a bootstrap confidence interval for the mean
  event value with DETERMINISTIC resampling: per (row, replica) Poisson(1)
  weights drawn by inverse-CDF on a 60-bit hash, so the classically
  "random" procedure is replayable bit-for-bit on both engines.
- ``mine_top_paths`` — most common 3-step event-type paths per user-day:
  the sequential-pattern counterpart of session_transitions' first-order
  Markov matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.registry import query

HASH_SPACE = float(1 << 60)

HLL_M = 64  # 2^6 buckets
HLL_ALPHA = 0.709  # alpha_64
HLL_WBITS = 54  # 60-bit hash minus 6 bucket bits

BOOT_B = 32  # bootstrap replicas
# Poisson(1) CDF thresholds (fixed literals → identical comparisons)
POIS_CDF = (0.367879, 0.735759, 0.919699, 0.981012, 0.99634, 0.999406)

PATH_LEN = 3
PATH_TOP = 15


# --------------------------------------------------------------------------
# 1. oracle-exact HyperLogLog
# --------------------------------------------------------------------------


@query(
    "sketch_hll_custom",
    oracle=f"""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
  FROM events
),
reg AS (
  SELECT event_type, hv % {HLL_M} AS bucket,
         max(CASE WHEN hv // {HLL_M} = 0 THEN {HLL_WBITS + 1}
                  ELSE {HLL_WBITS + 1} - length(bin(hv // {HLL_M})) END) AS rho
  FROM h GROUP BY 1, 2
),
z AS (
  SELECT event_type,
         CAST(sum(CAST(1 AS BIGINT) << CAST({HLL_WBITS + 1} - rho AS INT)) AS BIGINT)
           + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {HLL_WBITS + 1}) AS s,
         {HLL_M} - count(*) AS zeros
  FROM reg GROUP BY 1
),
est AS (
  SELECT event_type, zeros,
         {HLL_ALPHA} * {HLL_M} * {HLL_M}
           * CAST(CAST(1 AS BIGINT) << {HLL_WBITS + 1} AS DOUBLE)
           / CAST(s AS DOUBLE) AS raw
  FROM z
),
fixed AS (
  SELECT event_type,
         CASE WHEN raw <= 2.5 * {HLL_M} AND zeros > 0
              THEN {HLL_M} * ln({HLL_M} / CAST(zeros AS DOUBLE))
              ELSE raw END AS e
  FROM est
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events GROUP BY 1
)
SELECT f.event_type, x.n_exact, round(f.e, 4) AS hll_est,
       round(abs(f.e - x.n_exact) / x.n_exact, 4) AS rel_err
FROM fixed f JOIN exact x ON f.event_type = x.event_type
""",
)
def sketch_hll_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type, built from first
    principles so BOTH engines compute the identical registers: 60-bit md5
    hash → bucket = low 6 bits, rho = leading-zero rank of the remaining
    {HLL_WBITS} bits via length(bin(w)) (both engines' bin() of identical
    integers agree; no float log2 anywhere). The harmonic mean is kept
    rational — Z = S/2^{HLL_WBITS + 1} with S an exact BIGINT including
    empty buckets — so the one division is identical, and the small-range
    correction (m·ln(m/zeros)) is ln-of-rationals on the 6dp grid. Exact
    count emitted alongside.

    Scale shape: DISTINCT (type, user) collapses duplicates (the linear
    term, same as any exact distinct), then {HLL_M} registers per type; at
    100 TB the registers are what merges across 1000 executors — the DISTINCT
    can also be dropped (max is idempotent per duplicate) to make the
    sketch single-pass streaming-mergeable, kept here so the oracle's
    bucket cardinality matches exactly."""
    ev = load(spark, sf_dir, "events")
    h = ev.select(
        "event_type", hash60(F.col("user_id").cast("string")).alias("hv")
    ).distinct()
    w = F.expr(f"hv div {HLL_M}")  # integer division — hv exceeds 2^53
    reg = (
        h.select(
            "event_type",
            (F.col("hv") % HLL_M).alias("bucket"),
            F.when(w == 0, F.lit(HLL_WBITS + 1))
            .otherwise(F.lit(HLL_WBITS + 1) - F.length(F.bin(w)))
            .alias("rho_val"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho_val").alias("rho"))
    )
    # exact integer harmonic-mean numerator via bit shifts (2^55 terms
    # overflow double precision, so no pow() anywhere)
    shift_term = F.expr(
        f"shiftleft(cast(1 as bigint), cast({HLL_WBITS + 1} - rho as int))"
    )
    full_reg = F.expr(f"shiftleft(cast(1 as bigint), {HLL_WBITS + 1})")
    z = reg.groupBy("event_type").agg(
        (F.sum(shift_term) + (HLL_M - F.count(F.lit(1))) * full_reg)
        .cast("long")
        .alias("s"),
        (HLL_M - F.count(F.lit(1))).alias("zeros"),
    )
    raw = (
        F.lit(HLL_ALPHA)
        * HLL_M
        * HLL_M
        * F.expr(
            f"cast(shiftleft(cast(1 as bigint), {HLL_WBITS + 1}) as double)"
        )
        / F.col("s").cast("double")
    )
    e = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("zeros") > 0),
        HLL_M * F.log(HLL_M / F.col("zeros").cast("double")),
    ).otherwise(raw)
    est = z.select("event_type", e.alias("e"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        F.round("e", 4).alias("hll_est"),
        F.round(F.abs(F.col("e") - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_err"
        ),
    )


# --------------------------------------------------------------------------
# 2. Kaplan-Meier survival
# --------------------------------------------------------------------------


@query(
    "survival_kaplan_meier",
    oracle="""
WITH span AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts FROM events GROUP BY 1
),
horizon AS (SELECT max(ts) AS mx FROM events),
life AS (
  SELECT user_id,
         CAST(date_diff('day', first_ts, last_ts) // 7 AS BIGINT) AS t,
         CASE WHEN last_ts < (SELECT mx FROM horizon) - INTERVAL 7 DAY
              THEN 1 ELSE 0 END AS died
  FROM span
),
tab AS (
  SELECT t, CAST(sum(died) AS BIGINT) AS d,
         CAST(sum(1 - died) AS BIGINT) AS c
  FROM life GROUP BY t
),
risk AS (
  SELECT t, d, c,
         sum(d + c) OVER (ORDER BY t DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
  FROM tab
),
surv AS (
  SELECT t, d, c, n_risk,
         sum(CAST(round(ln((n_risk - d) / CAST(n_risk AS DOUBLE)), 6)
                  AS DECIMAL(18, 6)) ) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS logS
  FROM risk
)
SELECT t AS week, CAST(n_risk AS BIGINT) AS n_risk, d AS deaths, c AS censored,
       round(CAST(logS AS DOUBLE), 6) AS log_survival,
       round(exp(CAST(logS AS DOUBLE)), 6) AS survival
FROM surv
""",
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit retention curve over per-user lifetimes
    (weeks between first and last event), right-censored for users still
    active in the final week of the horizon. S(t) = Π_{s≤t}(1 − d_s/n_s)
    accumulates as a DECIMAL sum of 6dp-quantized ln((n−d)/n) terms —
    order-independent, ln/exp on identical rationals (the libm-parity
    grid). n_risk is a reverse-cumulative window, no self-join.

    Scale shape: one hash-agg to per-user spans, one to the per-week
    life table (≤ horizon-weeks rows), then windows over that tiny frame."""
    ev = load(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    horizon = ev.agg(F.max("ts").alias("mx"))
    life = span.crossJoin(F.broadcast(horizon)).select(
        (F.datediff("last_ts", "first_ts") / 7).cast("long").alias("t"),
        F.when(
            F.col("last_ts") < F.col("mx") - F.expr("INTERVAL 7 DAY"), 1
        )
        .otherwise(0)
        .alias("died"),
    )
    tab = life.groupBy("t").agg(
        F.sum("died").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("died")).cast("long").alias("c"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = tab.withColumn("n_risk", F.sum(F.col("d") + F.col("c")).over(wdesc))
    wasc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    term = F.round(
        F.log((F.col("n_risk") - F.col("d")) / F.col("n_risk").cast("double")), 6
    ).cast("decimal(18,6)")
    surv = risk.withColumn("logS", F.sum(term).over(wasc))
    return surv.select(
        F.col("t").alias("week"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").alias("deaths"),
        F.col("c").alias("censored"),
        F.round(F.col("logS").cast("double"), 6).alias("log_survival"),
        F.round(F.exp(F.col("logS").cast("double")), 6).alias("survival"),
    )


# --------------------------------------------------------------------------
# 3. deterministic bootstrap CI
# --------------------------------------------------------------------------


def _pois_weight_sql(u: str) -> str:
    w = f"CASE WHEN {u} < {POIS_CDF[0]} THEN 0"
    for k in range(1, len(POIS_CDF)):
        w += f" WHEN {u} < {POIS_CDF[k]} THEN {k}"
    return w + f" ELSE {len(POIS_CDF)} END"


@query(
    "agg_bootstrap_ci",
    oracle=f"""
WITH reps AS (
  SELECT e.event_id, CAST(round(e.value * 100) AS BIGINT) AS v, t.b
  FROM events e, range(0, {BOOT_B}) t(b)
),
u AS (
  SELECT b, v,
         CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || '#' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)
           / {HASH_SPACE!r} AS u
  FROM reps
),
wts AS (SELECT b, v, {_pois_weight_sql('u')} AS w FROM u),
means AS (
  SELECT b, CAST(sum(w * v) AS BIGINT) AS num, CAST(sum(w) AS BIGINT) AS den
  FROM wts GROUP BY b
),
ranked AS (
  SELECT b, num / CAST(den AS DOUBLE) / 100.0 AS mean_b,
         row_number() OVER (ORDER BY num / CAST(den AS DOUBLE), b) AS rn
  FROM means
),
base AS (
  SELECT sum(CAST(round(value * 100) AS BIGINT)) / CAST(count(*) AS DOUBLE) / 100.0
           AS mean_full
  FROM events
)
SELECT CAST({BOOT_B} AS BIGINT) AS n_replicas,
       round((SELECT mean_full FROM base), 6) AS mean_full,
       round(max(CASE WHEN rn = 2 THEN mean_b END), 6) AS ci_lo,
       round(max(CASE WHEN rn = {BOOT_B - 1} THEN mean_b END), 6) AS ci_hi
FROM ranked
""",
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap CI for the mean event value with deterministic resampling:
    each of {BOOT_B} replicas draws per-row Poisson(1) weights by inverse
    CDF on a 60-bit hash of (event_id, replica) — the standard Poisson
    bootstrap (weights approximate multinomial resampling without
    coordination, THE distributed-bootstrap trick), made replayable. CI =
    2nd and {BOOT_B - 1}th order statistics of the replica means
    (≈ 90% interval at B={BOOT_B}). Integer cents keep every sum exact.

    Scale shape: the ×{BOOT_B} explode is the only fan-out and feeds one
    map-side-combined agg to {BOOT_B} rows; no per-replica scan of the
    data. At 100 TB you'd trade fan-out for {BOOT_B} weight columns in ONE
    pass — same arithmetic, fewer shuffled bytes."""
    ev = fan_out(load(spark, sf_dir, "events"))
    return bootstrap_ci(ev, "event_id", "value", BOOT_B)


def bootstrap_ci(
    df: DataFrame, id_col: str, value_col: str, replicas: int
) -> DataFrame:
    """The Poisson-bootstrap CI kernel for the mean of ``value_col``
    (cents-exact; weights by inverse CDF on hash60(id#replica)) → one row
    (n_replicas, mean_full, ci_lo, ci_hi): the 2nd and (B−1)th order
    statistics of the replica means."""
    reps = df.select(
        F.col(id_col).alias("_id"),
        F.round(F.col(value_col) * 100).cast("long").alias("_v"),
        F.explode(F.array(*[F.lit(b) for b in range(replicas)])).alias("_b"),
    )
    key = F.concat_ws("#", F.col("_id").cast("string"), F.col("_b").cast("string"))
    u = hash60(key) / F.lit(HASH_SPACE)
    w = F.when(u < POIS_CDF[0], 0)
    for k in range(1, len(POIS_CDF)):
        w = w.when(u < POIS_CDF[k], k)
    w = w.otherwise(len(POIS_CDF))
    means = (
        reps.select("_b", "_v", w.alias("_w"))
        .groupBy("_b")
        .agg(
            F.sum(F.col("_w") * F.col("_v")).cast("long").alias("num"),
            F.sum("_w").cast("long").alias("den"),
        )
    )
    mean_b = F.col("num") / F.col("den").cast("double") / 100.0
    ranked = means.select(
        mean_b.alias("mean_b"),
        F.row_number().over(Window.orderBy(mean_b, "_b")).alias("rn"),
    )
    base = df.agg(
        (
            F.sum(F.round(F.col(value_col) * 100).cast("long"))
            / F.count(F.lit(1)).cast("double")
            / 100.0
        ).alias("mean_full")
    )
    return ranked.crossJoin(F.broadcast(base)).agg(
        F.lit(replicas).cast("long").alias("n_replicas"),
        F.round(F.first("mean_full"), 6).alias("mean_full"),
        F.round(F.max(F.when(F.col("rn") == 2, F.col("mean_b"))), 6).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("rn") == replicas - 1, F.col("mean_b"))), 6
        ).alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# 4. top event paths
# --------------------------------------------------------------------------


@query(
    "mine_top_paths",
    oracle=f"""
WITH seq AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id, day,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM seq WHERE rn <= {PATH_LEN}
  GROUP BY user_id, day
  HAVING count(*) = {PATH_LEN}
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path LIMIT {PATH_TOP}
""",
)
def mine_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common {PATH_LEN}-step opening event-type paths per (user, day)
    — the sequential patterns behind onboarding and funnel design.
    User-days with fewer than {PATH_LEN} events drop (no complete path).
    Deterministic: step order is (ts, event_id), output order is
    (count desc, path).

    Scale shape: one (user, day) window sort → first-{PATH_LEN} filter →
    per-user-day listagg → path hash-agg → TakeOrdered. The path alphabet
    is |event_types|^{PATH_LEN}, so the final agg is tiny regardless of
    corpus size."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    seq = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= PATH_LEN)
    paths = (
        seq.groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).alias("n_steps"),
        )
        .filter(F.col("n_steps") == PATH_LEN)
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOP)
    )
