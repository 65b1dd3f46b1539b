"""Breadth batch 25 (round 6): HyperBall, Mann-Kendall, SAX.

- ``graph_hyperball_neighborhood`` — the HyperBall algorithm (Boldi &
  Vigna): per-node HLL registers of the t-hop out-ball, advanced by
  elementwise register max along edges — the technique behind the
  'four degrees of separation' Facebook-scale neighborhood-function
  measurements, here with the repo's oracle-exact integer HLL registers
  and the exact ball size alongside.
- ``ts_mann_kendall_trend``    — the Mann-Kendall monotonic-trend TEST
  (companion to ts_theil_sen_trend's estimator): pairwise sign statistic
  S with tie-corrected variance and the continuity-corrected z.
- ``ts_sax_symbols``           — SAX symbolization (Lin et al.): each
  per-type daily series z-normalizes, compresses to an 8-segment PAA,
  and maps to a 4-letter word via fixed Gaussian breakpoints — the
  timeseries-indexing primitive (similar series → small word distance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.plans.graph_plans import _EDGES_SQL, _graph
from nocouncil_etl_spark.registry import query

# --------------------------------------------------------------------------
# 1. HyperBall
# --------------------------------------------------------------------------

HB_M = 64        # HLL buckets (2^6)
HB_WBITS = 54    # 60-bit hash minus 6 bucket bits
HB_ALPHA = 0.709
HB_T = 2         # ball radius


def _hb_oracle() -> str:
    reg_next = """
reg{next} AS MATERIALIZED (
  SELECT node, bucket, max(rho) AS rho FROM (
    SELECT node, bucket, rho FROM reg{cur}
    UNION ALL
    SELECT e.src AS node, r.bucket, r.rho
    FROM edges0 e JOIN reg{cur} r ON r.node = e.dst
  ) GROUP BY node, bucket
)"""
    regs = "".join(
        "," + reg_next.format(cur=t, next=t + 1) for t in range(HB_T)
    )
    ball_hops = []
    for t in range(HB_T + 1):
        if t == 0:
            ball_hops.append("SELECT node AS src, node AS member FROM nodes")
        else:
            ball_hops.append(f"""
SELECT b.src, e.dst AS member
FROM ({ball_hops[t - 1]}) b JOIN edges0 e ON e.src = b.member""")
    return f"""
WITH {_EDGES_SQL},
hv AS (
  SELECT node,
         CAST(('0x' || substring(md5(CAST(node AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM nodes
),
reg0 AS MATERIALIZED (
  SELECT node, h % {HB_M} AS bucket,
         CASE WHEN h // {HB_M} = 0 THEN {HB_WBITS + 1}
              ELSE {HB_WBITS + 1} - length(bin(h // {HB_M})) END AS rho
  FROM hv
){regs},
z AS (
  SELECT node,
         CAST(sum(CAST(1 AS BIGINT) << CAST({HB_WBITS + 1} - rho AS INT)) AS BIGINT)
           + ({HB_M} - count(*)) * (CAST(1 AS BIGINT) << {HB_WBITS + 1}) AS s,
         {HB_M} - count(*) AS zeros
  FROM reg{HB_T} GROUP BY node
),
est AS (
  SELECT node, zeros,
         {HB_ALPHA} * {HB_M} * {HB_M}
           * CAST(CAST(1 AS BIGINT) << {HB_WBITS + 1} AS DOUBLE)
           / CAST(s AS DOUBLE) AS raw
  FROM z
),
fixed AS (
  SELECT node,
         CASE WHEN raw <= 2.5 * {HB_M} AND zeros > 0
              THEN {HB_M} * ln({HB_M} / CAST(zeros AS DOUBLE))
              ELSE raw END AS e
  FROM est
),
ball AS MATERIALIZED (
  SELECT src AS node, CAST(count(DISTINCT member) AS BIGINT) AS n_exact
  FROM ({" UNION ALL ".join(f"({h})" for h in ball_hops)})
  GROUP BY src
)
SELECT f.node, b.n_exact, round(f.e, 4) AS hll_est,
       round(abs(f.e - b.n_exact) / b.n_exact, 4) AS rel_err
FROM fixed f JOIN ball b ON f.node = b.node
"""


@query("graph_hyperball_neighborhood", oracle=_hb_oracle())
def graph_hyperball_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall: per-node HLL sketch of the {HB_T}-hop out-ball. Each
    node starts with the registers of its own 60-bit md5 hash; iteration
    t+1 takes the elementwise register MAX of the node's own sketch and
    its out-neighbors' — max is idempotent and associative, which is the
    whole trick: the union of HLL sketches IS the register max, so a
    t-hop neighborhood function costs t keyed joins instead of t-hop
    BFS materialization per node. Registers are the repo's oracle-exact
    integer HLL (sketch_hll_custom discipline: bin()-length rho, rational
    harmonic mean, linear-counting small-range fix), so the ESTIMATE
    hash-matches; the exact {HB_T}-ball size rides alongside for the
    error column.

    Scale shape: state = (node, bucket, rho) rows — ≤ {HB_M} per node
    regardless of graph size; each iteration is one edges⋈registers
    equi-join + max agg (map-side combined). This is how neighborhood
    functions / effective diameters are measured on billion-edge graphs;
    the exact-ball comparison column is the test-surface luxury (it IS
    t-hop BFS, and would be dropped at 100 TB)."""
    nodes, edges, _ = _graph(spark, sf_dir)
    e0 = edges.select("src", "dst").localCheckpoint(eager=False)
    hv = nodes.select(
        "node",
        hash60(F.col("node").cast("string"))
        .alias("h"),
    )
    reg = hv.select(
        "node",
        (F.col("h") % HB_M).alias("bucket"),
        F.when(F.expr(f"h div {HB_M}") == 0, F.lit(HB_WBITS + 1))
        .otherwise(
            F.lit(HB_WBITS + 1) - F.length(F.bin(F.expr(f"h div {HB_M}")))
        )
        .cast("int")
        .alias("rho"),
    )
    for _ in range(HB_T):
        pushed = (
            e0.join(reg, e0.dst == reg.node)
            .select(F.col("src").alias("node"), "bucket", "rho")
        )
        reg = (
            reg.unionByName(pushed)
            .groupBy("node", "bucket")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=False)
        )
    z = reg.groupBy("node").agg(
        (
            F.sum(F.expr(f"CAST(1 AS BIGINT) << CAST({HB_WBITS + 1} - rho AS INT)"))
            + (HB_M - F.count(F.lit(1)))
            * F.lit(1 << (HB_WBITS + 1)).cast("long")
        )
        .cast("long")
        .alias("s"),
        (HB_M - F.count(F.lit(1))).alias("zeros"),
    )
    est = z.select(
        "node",
        "zeros",
        (
            F.lit(HB_ALPHA * HB_M * HB_M)
            * F.lit(float(1 << (HB_WBITS + 1)))
            / F.col("s").cast("double")
        ).alias("raw"),
    )
    fixed = est.select(
        "node",
        F.when(
            (F.col("raw") <= 2.5 * HB_M) & (F.col("zeros") > 0),
            F.lit(float(HB_M)) * F.log(F.lit(float(HB_M)) / F.col("zeros").cast("double")),
        )
        .otherwise(F.col("raw"))
        .alias("e"),
    )
    # exact t-ball (test-surface only): t-hop expansion + distinct count
    ball = nodes.select(F.col("node").alias("bsrc"), F.col("node").alias("member"))
    frontier = ball
    for _ in range(HB_T):
        frontier = (
            frontier.join(e0, frontier.member == e0.src)
            .select("bsrc", F.col("dst").alias("member"))
        )
        ball = ball.unionByName(frontier)
    n_exact = (
        ball.distinct()
        .groupBy("bsrc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    return fixed.join(n_exact, fixed.node == n_exact.bsrc).select(
        "node",
        "n_exact",
        F.round("e", 4).alias("hll_est"),
        F.round(F.abs(F.col("e") - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_err"
        ),
    )


# --------------------------------------------------------------------------
# 2. Mann-Kendall trend test
# --------------------------------------------------------------------------

_DAILY_TYPE_SQL = """
daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
)
"""


@query(
    "ts_mann_kendall_trend",
    oracle=f"""
WITH {_DAILY_TYPE_SQL},
pairs AS (
  SELECT a.event_type,
         CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.day > a.day
),
s AS (
  SELECT event_type, CAST(sum(sgn) AS BIGINT) AS s_stat,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY event_type
),
n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
ties AS (
  SELECT event_type,
         CAST(coalesce(sum(tj * (tj - 1) * (2 * tj + 5)), 0) AS BIGINT) AS tie_term
  FROM (
    SELECT event_type, x, CAST(count(*) AS BIGINT) AS tj
    FROM daily GROUP BY event_type, x HAVING count(*) > 1
  ) GROUP BY event_type
)
SELECT s.event_type, n.n AS n_days, s.s_stat,
       CAST((n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie_term, 0)) AS BIGINT)
         AS var18,
       round((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                              WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
             / sqrt((n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie_term, 0))
                    / 18.0), 6) AS z_mk
FROM s
JOIN n ON s.event_type = n.event_type
LEFT JOIN ties t ON s.event_type = t.event_type
""",
)
def ts_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per event type — the
    nonparametric TEST that accompanies ts_theil_sen_trend's estimator:
    S = Σ_{{i<j}} sign(x_j − x_i) over the daily-cents series (exact
    integer), variance with the standard tie correction
    (n(n−1)(2n+5) − Σ t_j(t_j−1)(2t_j+5))/18 (reported ×18 as the exact
    integer var18), and the continuity-corrected z rounded 6dp.

    Scale shape: the stream collapses to per-type daily rows first, so
    the O(span²) pair set is bounded by the DATE RANGE per type — the
    Theil-Sen discipline; everything after is integer aggregation."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("x")
    )
    a = daily.select("event_type", F.col("day").alias("di"), F.col("x").alias("xi"))
    b = daily.select("event_type", F.col("day").alias("dj"), F.col("x").alias("xj"))
    pairs = a.join(b, "event_type").filter(F.col("dj") > F.col("di"))
    s = pairs.groupBy("event_type").agg(
        F.sum(F.signum(F.col("xj") - F.col("xi")).cast("long"))
        .cast("long")
        .alias("s_stat"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    n = daily.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("tj"))
        .filter(F.col("tj") > 1)
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("tj") * (F.col("tj") - 1) * (2 * F.col("tj") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    out = (
        s.join(n, "event_type")
        .join(ties, "event_type", "left")
        .withColumn("tie_term", F.coalesce("tie_term", F.lit(0)))
        .withColumn(
            "var18",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            ).cast("long"),
        )
    )
    cc = F.when(F.col("s_stat") > 0, 1).when(F.col("s_stat") < 0, -1).otherwise(0)
    return out.select(
        "event_type",
        F.col("n").alias("n_days"),
        "s_stat",
        "var18",
        F.round(
            (F.col("s_stat") - cc) / F.sqrt(F.col("var18") / F.lit(18.0)), 6
        ).alias("z_mk"),
    )


# --------------------------------------------------------------------------
# 3. SAX symbolization
# --------------------------------------------------------------------------

SAX_SEGMENTS = 8
SAX_BREAKS = (-0.6745, 0.0, 0.6745)  # Gaussian quartiles, alphabet size 4


@query(
    "ts_sax_symbols",
    oracle=f"""
WITH {_DAILY_TYPE_SQL},
idx AS (
  SELECT event_type, day, x,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM daily
),
stats AS (
  SELECT event_type,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(count(*) AS BIGINT) AS n
  FROM daily GROUP BY event_type
),
paa AS (
  SELECT event_type, ((rn - 1) * {SAX_SEGMENTS}) // n AS seg,
         CAST(sum(x) AS BIGINT) AS segsum, CAST(count(*) AS BIGINT) AS segn
  FROM idx GROUP BY event_type, seg
),
zseg AS (
  SELECT p.event_type, p.seg,
         round((CAST(p.segsum AS DOUBLE) / p.segn - CAST(s.sx AS DOUBLE) / s.n)
               / sqrt((CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * s.sx / s.n)
                      / s.n), 6) AS z
  FROM paa p JOIN stats s ON p.event_type = s.event_type
),
sym AS (
  SELECT event_type, seg,
         CASE WHEN z < {SAX_BREAKS[0]} THEN 'a'
              WHEN z < {SAX_BREAKS[1]} THEN 'b'
              WHEN z < {SAX_BREAKS[2]} THEN 'c'
              ELSE 'd' END AS c
  FROM zseg
)
SELECT s.event_type, string_agg(s.c, '' ORDER BY s.seg) AS sax_word,
       (SELECT max(n) FROM idx i WHERE i.event_type = s.event_type) AS n_days
FROM sym s GROUP BY s.event_type
""",
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization per event type: the daily-cents series
    z-normalizes against its own exact integer moments (μ = Σx/n,
    σ = population sd from Σx², both BIGINT sums so the one float
    division per segment is identical cross-engine), compresses to
    {SAX_SEGMENTS} PAA segments (rank-split, floor arithmetic — the
    grid-quantile discipline), rounds each segment z to 6dp, and maps
    through the fixed Gaussian-quartile breakpoints to a 4-letter
    alphabet. The resulting word is the series' index key: similar
    shapes → small word distance, the basis of SAX similarity search
    and motif discovery over telemetry at scale.

    Scale shape: daily collapse bounds everything by the date range;
    per-type windows are partitioned; segments are {SAX_SEGMENTS} rows
    per series."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type",
        "day",
        "x",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("n"),
    )
    stats = daily.groupBy("event_type").agg(
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    paa = idx.groupBy(
        "event_type", F.expr(f"((rn - 1) * {SAX_SEGMENTS}) div n").alias("seg")
    ).agg(
        F.sum("x").cast("long").alias("segsum"),
        F.count(F.lit(1)).cast("long").alias("segn"),
    )
    zseg = paa.join(stats, "event_type").select(
        "event_type",
        "seg",
        "n",
        F.round(
            (
                F.col("segsum").cast("double") / F.col("segn")
                - F.col("sx").cast("double") / F.col("n")
            )
            / F.sqrt(
                (
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx") / F.col("n")
                )
                / F.col("n")
            ),
            6,
        ).alias("z"),
    )
    sym = zseg.select(
        "event_type",
        "seg",
        "n",
        F.when(F.col("z") < SAX_BREAKS[0], "a")
        .when(F.col("z") < SAX_BREAKS[1], "b")
        .when(F.col("z") < SAX_BREAKS[2], "c")
        .otherwise("d")
        .alias("c"),
    )
    return sym.groupBy("event_type").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "c"))), lambda s: s.c
            ),
            "",
        ).alias("sax_word"),
        F.max("n").cast("long").alias("n_days"),
    )
