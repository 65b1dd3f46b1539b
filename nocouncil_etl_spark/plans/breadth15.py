"""Breadth batch 15: bounded nearest-neighbor spatial join, vocabulary
coverage, seasonal anomaly flags.

- ``geo_nearest_join`` — for every customer point, the nearest supplier
  point within a bounded radius (grid-cell 3×3 probe + per-customer
  argmin): the spatial top-1 sibling of geo_radius_join's all-pairs,
  i.e. "assign each order to its closest depot". Positions are the
  documented deterministic synthetic grid (the operator under test is
  the join).
- ``text_oov_rate`` — out-of-vocabulary rate per source against the
  corpus top-1k vocabulary: the tokenizer-coverage diagnostic run
  before committing a vocab (high OOV source ⇒ domain mismatch or
  encoding rot).
- ``ts_seasonal_anomaly`` — weekday-seasonal residual anomaly flags:
  residual vs the per-weekday mean baseline, flagged beyond 3× the
  lower-median MAD — the deseasonalized alert that doesn't page on
  "it's Saturday" (composes ts_seasonal_weekday_baseline's baseline
  with agg_mad_outliers' robust threshold, all in integer fixed point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.registry import query

LAT_RANGE = 400
LON_RANGE = 600
CELL = 50  # grid cell + nearest-match radius bound, millidegrees

VOCAB_K = 1000
OOV_SCALE = 1_000_000

SEAS_FP = 1000
MAD_MULT = 3


def _pt_sql(salt: str, id_expr: str, rng: int) -> str:
    return (
        f"CAST(('0x' || substring(md5('{salt}' || CAST({id_expr} AS VARCHAR)), 1, 15))"
        f" AS BIGINT) % {rng}"
    )


def _pt(salt: str, col) -> F.Column:
    return (
        hash60(F.concat(F.lit(salt), col.cast("string")))
    )


# --------------------------------------------------------------------------
# 1. Bounded nearest-neighbor join
# --------------------------------------------------------------------------


@query(
    "geo_nearest_join",
    oracle=f"""
WITH sc AS (
  SELECT CAST(ceil(sqrt(count(*) / 1500.0)) AS BIGINT) AS k FROM customer
),
cust AS (
  SELECT c_custkey AS cid,
         {_pt_sql('clat#', 'c_custkey', f"({LAT_RANGE} * (SELECT k FROM sc))")} AS y,
         {_pt_sql('clon#', 'c_custkey', f"({LON_RANGE} * (SELECT k FROM sc))")} AS x
  FROM customer
),
supp AS (
  SELECT s_suppkey AS sid,
         {_pt_sql('slat#', 's_suppkey', f"({LAT_RANGE} * (SELECT k FROM sc))")} AS y,
         {_pt_sql('slon#', 's_suppkey', f"({LON_RANGE} * (SELECT k FROM sc))")} AS x
  FROM supplier
),
home AS (
  SELECT sid, x, y, x // {CELL} AS cx, y // {CELL} AS cy FROM supp
),
probe AS (
  SELECT cid, x, y, (x // {CELL}) + dx.d AS cx, (y // {CELL}) + dy.d AS cy
  FROM cust,
       (SELECT unnest([-1, 0, 1]) AS d) dx,
       (SELECT unnest([-1, 0, 1]) AS d) dy
),
cand AS (
  SELECT DISTINCT p.cid, h.sid,
         (p.x - h.x) * (p.x - h.x) + (p.y - h.y) * (p.y - h.y) AS d2
  FROM probe p JOIN home h ON p.cx = h.cx AND p.cy = h.cy
  WHERE (p.x - h.x) * (p.x - h.x) + (p.y - h.y) * (p.y - h.y)
        <= {CELL * CELL}
)
SELECT cid, sid, CAST(d2 AS BIGINT) AS d2 FROM (
  SELECT cid, sid, d2,
         row_number() OVER (PARTITION BY cid ORDER BY d2, sid) AS rn
  FROM cand
) WHERE rn = 1
""",
)
def geo_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest supplier within {CELL} millidegrees for every customer:
    customers probe their 3×3 grid neighborhood, suppliers sit in their
    home cell, candidates within the radius bound are argmin-ed per
    customer (ties → lowest supplier id). Integer squared euclidean on
    the synthetic millidegree grid — no floats, no trig. Customers with
    no supplier in range are absent (the radius-bounded contract every
    scalable nearest join ships with; widen CELL to widen the search).

    Scale shape: the geo_radius_join grid equi-join with a top-1 window
    instead of pair emission — join volume is Σ per-cell density², the
    window shuffles only surviving candidates on the customer key."""
    import math

    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    # the synthetic city extent grows with the population (one driver
    # scalar, the `_graph` pattern) so per-cell density — and with it the
    # candidate-join volume — stays CONSTANT as the data scales. With the
    # extent fixed, density ∝ n and candidates ∝ n²/cells: measured 75 s
    # at sf1 vs ~4 s with the scaled extent.
    k = math.ceil(math.sqrt(c.count() / 1500.0))
    lat_rng, lon_rng = LAT_RANGE * k, LON_RANGE * k
    cust = c.select(
        F.col("c_custkey").alias("cid"),
        (_pt("clat#", F.col("c_custkey")) % lat_rng).alias("y"),
        (_pt("clon#", F.col("c_custkey")) % lon_rng).alias("x"),
    )
    supp = s.select(
        F.col("s_suppkey").alias("sid"),
        (_pt("slat#", F.col("s_suppkey")) % lat_rng).alias("sy"),
        (_pt("slon#", F.col("s_suppkey")) % lon_rng).alias("sx"),
    )
    # fan out the 3×3 probe on the SMALL side (suppliers): the pair set
    # "cell distance ≤ 1 in both dims" is symmetric in which side probes,
    # so the result is identical to the oracle's customer-probe form while
    # the exploded frame is |suppliers|·9 instead of |customers|·9
    home = cust.select(
        "cid", "x", "y",
        F.expr(f"x div {CELL}").alias("cx"),
        F.expr(f"y div {CELL}").alias("cy"),
    )
    d = spark.createDataFrame([(-1,), (0,), (1,)], "d INT")
    probe = (
        supp.crossJoin(F.broadcast(d.select(F.col("d").alias("dx"))))
        .crossJoin(F.broadcast(d.select(F.col("d").alias("dy"))))
        .select(
            "sid", "sx", "sy",
            (F.expr(f"sx div {CELL}") + F.col("dx")).alias("cx"),
            (F.expr(f"sy div {CELL}") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    cand = (
        probe.join(home, ["cx", "cy"])
        .filter(d2 <= CELL * CELL)
        .select("cid", "sid", d2.alias("d2"))
        .distinct()
    )
    w = Window.partitionBy("cid").orderBy("d2", "sid")
    return (
        cand.select("cid", "sid", "d2", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("cid", "sid", F.col("d2").cast("long").alias("d2"))
    )


# --------------------------------------------------------------------------
# 2. Vocabulary coverage / OOV rate
# --------------------------------------------------------------------------


@query(
    "text_oov_rate",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
vocab AS (
  SELECT t FROM (
    SELECT t, count(*) AS n FROM tok GROUP BY t
  ) QUALIFY row_number() OVER (ORDER BY n DESC, t) <= {VOCAB_K}
),
marked AS (
  SELECT tok.source, CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok LEFT JOIN vocab v ON tok.t = v.t
)
SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       CAST((sum(oov) * {OOV_SCALE}) // count(*) AS BIGINT) AS oov_1e6
FROM marked GROUP BY source
""",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus top-{VOCAB_K}
    token vocabulary (frequency desc, token asc tie-break): the
    tokenizer-coverage audit — a source with an outsized OOV rate is a
    domain mismatch, an encoding problem, or a language the vocab
    under-serves, and will fragment into rare tokens at training time.

    Scale shape: one token explode + combine count builds the vocab
    (TakeOrdered to a fixed k); membership is a broadcast join of that
    k-row dictionary against the token stream; per-source rates are one
    combine-agg. Vocab size is a design constant — nothing scales with
    the corpus except the linear token scan."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("n"))
        .select(
            "t",
            F.row_number()
            .over(Window.orderBy(F.desc("n"), F.asc("t")))
            .alias("rn"),
        )
        .filter(F.col("rn") <= VOCAB_K)
        .select(F.col("t").alias("vt"))
    )
    marked = tok.join(
        F.broadcast(vocab), tok["t"] == vocab["vt"], "left"
    ).select("source", F.when(F.col("vt").isNull(), 1).otherwise(0).alias("oov"))
    return marked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        F.expr(f"(sum(oov) * {OOV_SCALE}) div count(*)")
        .cast("long")
        .alias("oov_1e6"),
    )


# --------------------------------------------------------------------------
# 3. Seasonal-residual anomaly flags
# --------------------------------------------------------------------------


@query(
    "ts_seasonal_anomaly",
    oracle=f"""
WITH cnt AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1
),
wd AS (
  SELECT day, c, dayofweek(day) AS dow FROM cnt
),
base AS (
  SELECT dow, (sum(c) * {SEAS_FP}) // count(*) AS base_fp FROM wd GROUP BY dow
),
res AS (
  SELECT w.day, w.c, b.base_fp,
         w.c * {SEAS_FP} - b.base_fp AS res_fp
  FROM wd w JOIN base b ON w.dow = b.dow
),
mad AS (
  SELECT abs_res AS mad_fp FROM (
    SELECT abs(res_fp) AS abs_res,
           row_number() OVER (ORDER BY abs(res_fp), day) AS rn,
           count(*) OVER () AS n
    FROM res
  ) WHERE rn = (n + 1) // 2
)
SELECT CAST(r.day AS VARCHAR) AS day, r.c, CAST(r.base_fp AS BIGINT) AS base_fp,
       CAST(r.res_fp AS BIGINT) AS res_fp,
       (SELECT CAST(mad_fp AS BIGINT) FROM mad) AS mad_fp,
       CAST(CASE WHEN abs(r.res_fp) > {MAD_MULT} * (SELECT mad_fp FROM mad)
                 THEN 1 ELSE 0 END AS INT) AS is_anomaly
FROM res r
""",
)
def ts_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deseasonalized anomaly flags on the daily event counts: residual =
    count − per-weekday mean baseline (integer {SEAS_FP} fixed point,
    floor division), flagged where |residual| exceeds {MAD_MULT}× the
    LOWER-MEDIAN absolute residual (the Theil-Sen exact-median
    discipline) — so a busy Saturday doesn't page, a quiet Tuesday does.

    Scale shape: the corpus collapses to one row per day first; baseline
    is a 7-row aggregate; the median rank runs over the day table (a
    calendar-bounded frame), never the raw events."""
    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wd = cnt.select("day", "c", F.dayofweek("day").alias("dow"))
    base = wd.groupBy("dow").agg(
        F.expr(f"(sum(c) * {SEAS_FP}) div count(*)").alias("base_fp")
    )
    res = wd.join(F.broadcast(base), "dow").select(
        "day",
        "c",
        "base_fp",
        (F.col("c") * SEAS_FP - F.col("base_fp")).alias("res_fp"),
    )
    ranked = res.select(
        "res_fp",
        F.row_number()
        .over(Window.orderBy(F.abs("res_fp"), F.asc("day")))
        .alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    mad = ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        F.abs("res_fp").alias("mad_fp")
    )
    return res.crossJoin(F.broadcast(mad)).select(
        F.col("day").cast("string").alias("day"),
        "c",
        F.col("base_fp").cast("long").alias("base_fp"),
        F.col("res_fp").cast("long").alias("res_fp"),
        F.col("mad_fp").cast("long").alias("mad_fp"),
        F.when(F.abs("res_fp") > MAD_MULT * F.col("mad_fp"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_anomaly"),
    )
