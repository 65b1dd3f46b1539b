"""Breadth batch 33 (round 6): matrix profile, JSON schema inference,
Jonckheere-Terpstra, Poisson bootstrap, k-truss, Page-Hinkley drift.

Six operators (reference scope: motif discovery on fetch-rate series,
semi-structured feed introspection, ordered-alternative testing, at-scale
uncertainty, cohesive-subgraph mining, and streaming drift alarms):

- ``ts_matrix_profile_lite`` — unnormalized Euclidean matrix profile
  (window m=7, exclusion zone) per event-type daily series; all integer.
- ``io_json_schema_infer``  — per-key type/coverage histogram inferred
  from a JSON-lines feed (synthesized from orders with typed + nullable
  fields, so inference has real work to do).
- ``stat_jonckheere_terpstra`` — ordered-alternative k-sample test via
  cross-group doubled Mann-Whitney counts on the dense value grid.
- ``sample_poisson_bootstrap`` — deterministic Poisson(1) bootstrap:
  md5-uniform → inverse-CDF replicate weights, per-replicate means.
- ``graph_ktruss_rounds``   — two peeling rounds toward the 4-truss:
  edge support via neighbor intersection, filter support >= 2, repeat.
- ``ts_page_hinkley_drift`` — Page-Hinkley cumulative drift detector as
  prefix sums + prefix min (fully declarative windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import fan_out_if_narrow, load
from nocouncil_etl_spark.plans.breadth15 import _pt
from nocouncil_etl_spark.registry import query

# --------------------------------------------------------------------------
# 1. Matrix profile (unnormalized, integer)
# --------------------------------------------------------------------------

MP_M = 7  # window length
MP_EXCL = 4  # exclusion zone: |i - j| >= MP_EXCL


@query(
    "ts_matrix_profile_lite",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS t,
         x,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM daily
),
ks AS (SELECT unnest(range(0, {MP_M})) AS k),
win AS (
  SELECT i.event_type, i.t - ks.k AS i, CAST(ks.k AS BIGINT) AS k, i.x
  FROM idx i JOIN ks ON true
  WHERE i.t - ks.k >= 1 AND i.t - ks.k <= i.n - {MP_M} + 1
),
dists AS (
  SELECT a.event_type, a.i AS i, b.i AS j,
         CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
  FROM win a JOIN win b
    ON a.event_type = b.event_type AND a.k = b.k
  WHERE abs(a.i - b.i) >= {MP_EXCL}
  GROUP BY 1, 2, 3
)
SELECT event_type, i, j AS nn_j, d2 FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type, i
                               ORDER BY d2, j) AS rk
  FROM dists
) WHERE rk = 1
""",
)
def ts_matrix_profile_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile (Yeh et al. 2016) of each event-type's daily series,
    unnormalized-Euclidean integer form: for every length-{MP_M} window,
    the squared distance to its nearest non-trivial neighbor window
    (exclusion zone |i−j| ≥ {MP_EXCL} suppresses trivial self-matches).
    Low profile values = repeated motifs; the maximum = the series
    discord (most anomalous week). Exact BIGINT distances; argmin
    tie-breaks on the neighbor index.

    Scale shape: the window fan-out and pair join run on the date-range-
    bounded daily table ((n−m)² pairs per type with n ≤ date range) —
    corpus volume only feeds the map-side daily collapse. The full
    z-normalized MASS/STOMP algorithms exist for long series; for
    calendar-bounded operational series this exact quadratic form is the
    honest size."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.round("value").cast("long")).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        F.row_number().over(w.orderBy("d")).cast("long").alias("t"),
        "x",
        F.count("*").over(w).cast("long").alias("n"),
    )
    ks = spark.range(MP_M).select(F.col("id").cast("long").alias("k"))
    win_f = (
        idx.crossJoin(F.broadcast(ks))
        .select(
            "event_type",
            (F.col("t") - F.col("k")).alias("i"),
            "k",
            "x",
            "n",
        )
        .filter(
            (F.col("i") >= 1) & (F.col("i") <= F.col("n") - MP_M + 1)
        )
        .select("event_type", "i", "k", "x")
    )
    a = win_f.select("event_type", "k", F.col("i").alias("i"), F.col("x").alias("xa"))
    b = win_f.select(
        "event_type", "k", F.col("i").alias("j"), F.col("x").alias("xb")
    )
    dists = (
        a.join(b, ["event_type", "k"])
        .filter(F.abs(F.col("i") - F.col("j")) >= MP_EXCL)
        .groupBy("event_type", "i", "j")
        .agg(
            F.sum((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")))
            .cast("long")
            .alias("d2")
        )
    )
    return (
        dists.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type", "i").orderBy("d2", "j")
            ),
        )
        .filter(F.col("rk") == 1)
        .select("event_type", "i", F.col("j").alias("nn_j"), "d2")
    )


# --------------------------------------------------------------------------
# 2. JSON schema inference
# --------------------------------------------------------------------------


@query(
    "io_json_schema_infer",
    oracle="""
WITH feed AS (
  SELECT '{"id": ' || CAST(o_orderkey AS VARCHAR)
         || ', "status": "' || o_orderstatus || '"'
         || CASE WHEN o_orderkey % 3 = 0
                 THEN ', "price": ' || CAST(round(o_totalprice * 100)
                                           AS VARCHAR)
                 ELSE '' END
         || CASE WHEN o_orderkey % 5 = 0
                 THEN ', "rush": ' || CASE WHEN o_orderkey % 2 = 0
                                           THEN 'true' ELSE 'false' END
                 ELSE '' END
         || '}' AS line
  FROM orders
),
keys AS (
  SELECT line, unnest(json_keys(line)) AS k FROM feed
),
typed AS (
  SELECT k,
         json_type(line, '$.' || k) AS ty
  FROM keys
)
SELECT k AS key_name,
       CASE WHEN ty IN ('INTEGER', 'UBIGINT', 'BIGINT', 'DOUBLE')
            THEN 'number'
            WHEN ty = 'VARCHAR' THEN 'string'
            WHEN ty = 'BOOLEAN' THEN 'boolean'
            ELSE lower(ty) END AS json_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST((1000000 * count(*)) // (SELECT count(*) FROM feed) AS BIGINT)
         AS coverage_1e6
FROM typed GROUP BY 1, 2
""",
)
def io_json_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema inference over a JSON-lines feed (the first thing an
    engine does to semi-structured input): per key, the observed JSON
    type and its coverage (share of records carrying the key in ppm).
    The feed is synthesized from orders with genuinely mixed shapes —
    `price` appears on 1/3 of records (number), `rush` on 1/5 (boolean)
    — so the inference output is a real contract: a reader can pick
    nullable columns and types from it. Spark side parses each line
    once to a string map (from_json) and classifies value lexemes;
    DuckDB side uses its native json_type. Both
    reduce to the identical (key, type, count) table.

    Scale shape: pure map-side parse + one hash-agg to the (tiny) key
    table. Reference parity: ingest.py consumes heterogeneous feed JSON
    with exactly this optional-field shape."""
    orders = fan_out_if_narrow(load(spark, sf_dir, "orders"))
    feed = orders.select(
        F.concat(
            F.lit('{"id": '),
            F.col("o_orderkey").cast("string"),
            F.lit(', "status": "'),
            F.col("o_orderstatus"),
            F.lit('"'),
            F.when(
                F.col("o_orderkey") % 3 == 0,
                F.concat(
                    F.lit(', "price": '),
                    F.round(F.col("o_totalprice") * 100).cast("long").cast(
                        "string"
                    ),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("o_orderkey") % 5 == 0,
                F.concat(
                    F.lit(', "rush": '),
                    F.when(F.col("o_orderkey") % 2 == 0, "true").otherwise(
                        "false"
                    ),
                ),
            ).otherwise(F.lit("")),
            F.lit("}"),
        ).alias("line")
    )
    n_total = feed.count()
    kv = feed.select(
        F.explode(F.from_json("line", "map<string,string>")).alias("k", "v")
    )
    ty = (
        F.when(F.col("v").rlike("^-?[0-9]+(\\.[0-9]+)?$"), "number")
        .when(F.col("v").isin("true", "false"), "boolean")
        .otherwise("string")
    )
    return (
        kv.select("k", ty.alias("json_type"))
        .groupBy(F.col("k").alias("key_name"), "json_type")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            "key_name",
            "json_type",
            "n",
            F.expr(f"(1000000 * n) div {n_total}").cast("long").alias(
                "coverage_1e6"
            ),
        )
    )


# --------------------------------------------------------------------------
# 3. Jonckheere-Terpstra ordered-alternative test
# --------------------------------------------------------------------------


@query(
    "stat_jonckheere_terpstra",
    oracle="""
WITH xy AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
),
gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM xy GROUP BY 1, 2),
vals AS (SELECT DISTINCT v FROM gv),
grid AS (
  SELECT gs.g, vals.v, coalesce(gv.c, 0) AS c
  FROM (SELECT DISTINCT g FROM gv) gs
  JOIN vals ON true
  LEFT JOIN gv ON gv.g = gs.g AND gv.v = vals.v
),
cum AS (
  SELECT g, v, c,
         CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM grid
),
u2 AS (
  SELECT CAST(sum(j.c * (2 * i.below + i.c)) AS BIGINT) AS jt2
  FROM gv j JOIN cum i ON i.v = j.v AND i.g < j.g
),
sizes AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(c * c) AS BIGINT) AS _x,
         CAST(count(*) AS BIGINT) AS _y
  FROM (SELECT g, CAST(sum(c) AS BIGINT) AS c FROM gv GROUP BY g)
),
ssq AS (
  SELECT CAST(sum(ng * ng) AS BIGINT) AS sn2,
         CAST(sum(CAST(ng AS HUGEINT) * ng * (2 * ng + 3)) AS HUGEINT) AS sn3
  FROM (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM gv GROUP BY g)
)
SELECT s.n, u.jt2,
       (s.n * s.n - q.sn2) // 2 AS mean2,
       round((CAST(u.jt2 AS DOUBLE) - (CAST(s.n AS DOUBLE) * s.n - q.sn2) / 2)
             / 2
             / sqrt((CAST(s.n AS DOUBLE) * s.n * (2 * s.n + 3)
                     - CAST(q.sn3 AS DOUBLE)) / 72), 6) AS z_approx
FROM sizes s, u2 u, ssq q
""",
)
def stat_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED alternative across the
    priority doses (the continuous-outcome sibling of
    stat_cochran_armitage, and the ordered-alternative upgrade of
    stat_kruskal_wallis): JT = Sigma over dose pairs i<j of the
    Mann-Whitney count U_ij. Computed exactly in doubled integer units
    (2U = Sigma c_j·(2·below_i + ties_i)) on the dense (group x distinct
    value) grid, so ties contribute exactly 1/2 each without floats.
    The z approximation uses the no-ties null variance [N²(2N+3) −
    Sigma n_i²(2n_i+3)]/72 (documented approximation; the exact JT2 is
    the hash anchor — prices are cents, ties are rare).

    Scale shape: the grid is (k groups × distinct values) — value-
    granularity-bounded, not row-bounded; one windowed cumulative per
    group and one equi-join on the value key. No inequality join."""
    orders = load(spark, sf_dir, "orders")
    xy = orders.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    gv = xy.groupBy("g", "v").agg(F.count("*").cast("long").alias("c"))
    vals = gv.select("v").distinct()
    gs = gv.select("g").distinct()
    grid = (
        gs.crossJoin(vals)
        .join(gv, ["g", "v"], "left")
        .select("g", "v", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = grid.select(
        "g",
        "v",
        "c",
        F.coalesce(F.sum("c").over(wg), F.lit(0)).cast("long").alias("below"),
    )
    j = gv.select(F.col("g").alias("gj"), "v", F.col("c").alias("cj"))
    u2 = (
        j.join(cum, "v")
        .filter(F.col("g") < F.col("gj"))
        .agg(
            F.sum(F.col("cj") * (2 * F.col("below") + F.col("c")))
            .cast("long")
            .alias("jt2")
        )
    )
    ng = gv.groupBy("g").agg(F.sum("c").cast("long").alias("ng"))
    sizes = ng.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum(F.col("ng") * F.col("ng")).cast("long").alias("sn2"),
        F.sum(
            F.col("ng").cast("decimal(38,0)")
            * F.col("ng")
            * (2 * F.col("ng") + 3)
        ).alias("sn3"),
    )
    mean2 = (F.col("n") * F.col("n") - F.col("sn2")) / 2
    var = (
        F.col("n").cast("double") * F.col("n") * (2 * F.col("n") + 3)
        - F.col("sn3").cast("double")
    ) / 72
    return u2.crossJoin(F.broadcast(sizes)).select(
        "n",
        "jt2",
        F.expr("(n * n - sn2) div 2").cast("long").alias("mean2"),
        F.round(
            (F.col("jt2").cast("double") - (
                F.col("n").cast("double") * F.col("n") - F.col("sn2")
            ) / 2)
            / 2
            / F.sqrt(var),
            6,
        ).alias("z_approx"),
    )


# --------------------------------------------------------------------------
# 4. Deterministic Poisson bootstrap
# --------------------------------------------------------------------------

BOOT_REPS = 10
# cumulative Poisson(1) CDF in 1e9 fixed units: P(X <= k)
_POIS_CDF = (
    367879441,
    735758882,
    919698602,
    980978509,
    996294486,
    999357681,
    999868214,
    999941790,  # deliberately monotone; tail mass collapses to 8
)


def _boot_weight_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"(CASE {cases} ELSE 8 END)"


@query(
    "sample_poisson_bootstrap",
    oracle=f"""
WITH reps AS (SELECT unnest(range(0, {BOOT_REPS})) AS r),
weighted AS (
  SELECT reps.r,
         {_boot_weight_sql(
            "(CAST(('0x' || substring(md5('boot#' || CAST(reps.r AS VARCHAR)"
            " || '#' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)"
            " % 1000000000)")} AS w,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events, reps
)
SELECT CAST(r AS BIGINT) AS r,
       CAST(sum(w) AS BIGINT) AS n_eff,
       CAST(sum(w * cents) AS BIGINT) AS sum_cents,
       CAST((1000 * CAST(sum(w * cents) AS BIGINT)) // sum(w) AS BIGINT)
         AS mean_milli
FROM weighted GROUP BY r
""",
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale bootstrap (Poisson resampling, the streaming-friendly
    approximation of multinomial resampling): each row independently
    receives a Poisson(1) replicate weight per bootstrap replicate,
    drawn DETERMINISTICALLY by inverting the Poisson CDF (fixed 1e9
    integer thresholds, identical constants in both engines) at an
    md5-uniform keyed by (replicate, event_id). Per-replicate weighted
    means of the value metric come out as exact integers; the spread of
    the {BOOT_REPS} replicate means IS the standard-error estimate — no
    global resample shuffle, no coordination, one pass.

    Scale shape: the replicate fan-out is map-side arithmetic (×{BOOT_REPS}
    rows into a map-side-combined agg of {BOOT_REPS} groups); this is the
    estimator production systems run on trillions of rows precisely
    because its only state is one (sum, count) pair per replicate."""
    ev = load(spark, sf_dir, "events")
    reps = spark.range(BOOT_REPS).select(F.col("id").cast("long").alias("r"))
    u = (
        _pt(
            "boot#",
            F.concat(
                F.col("r").cast("string"), F.lit("#"), F.col("event_id").cast("string")
            ),
        )
        % 1_000_000_000
    )
    w_expr = F.lit(8)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w_expr = F.when(u < _POIS_CDF[k], k).otherwise(w_expr)
    weighted = ev.crossJoin(F.broadcast(reps)).select(
        "r",
        w_expr.alias("w"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return weighted.groupBy("r").agg(
        F.sum("w").cast("long").alias("n_eff"),
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("sum_cents"),
        F.expr("(1000 * CAST(sum(w * cents) AS BIGINT)) div sum(w)")
        .cast("long")
        .alias("mean_milli"),
    )


# --------------------------------------------------------------------------
# 5. k-truss peeling rounds
# --------------------------------------------------------------------------

KTRUSS_K = 4  # support threshold = K - 2 = 2
KTRUSS_ROUNDS = 2


def _truss_round_sql(edges: str, i: int) -> str:
    return f"""
sym{i} AS (
  SELECT a AS u, b AS v FROM {edges}
  UNION ALL SELECT b, a FROM {edges}
),
sup{i} AS (
  SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS support
  FROM {edges} e
  JOIN sym{i} x ON x.u = e.a
  JOIN sym{i} y ON y.u = e.b AND y.v = x.v
  GROUP BY e.a, e.b
),
keep{i} AS (
  SELECT a, b, support FROM sup{i} WHERE support >= {KTRUSS_K - 2}
)"""


def _truss_oracle() -> str:
    from nocouncil_etl_spark.plans.graph_plans import _EDGES_SQL

    parts = [
        f"WITH {_EDGES_SQL}",
        """und AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges0 WHERE src <> dst GROUP BY 1, 2
)""",
    ]
    prev = "und"
    for i in range(1, KTRUSS_ROUNDS + 1):
        parts.append(_truss_round_sql(prev, i).strip())
        prev = f"(SELECT a, b FROM keep{i})"
    selects = " UNION ALL ".join(
        f"SELECT {i} AS round, CAST(count(*) AS BIGINT) AS n_edges,"
        f" CAST(coalesce(sum(support), 0) AS BIGINT) AS total_support"
        f" FROM keep{i}"
        for i in range(1, KTRUSS_ROUNDS + 1)
    )
    return ",\n".join(parts) + "\n" + selects


@query("graph_ktruss_rounds", oracle=_truss_oracle())
def graph_ktruss_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two peeling rounds toward the {KTRUSS_K}-truss of the undirected
    link graph (Cohen 2008): an edge's support = triangles through it
    (computed by intersecting its endpoints' neighbor lists via the
    standard two-hop equi-join), edges with support < {KTRUSS_K}−2 are
    peeled, and support is recomputed on the survivors. The truss is the
    fixpoint; two rounds expose the convergence trajectory ((round,
    surviving edges, total support) — 2 rows) without an unbounded loop
    in the oracle. The edge-based sibling of graph_k_core (node-based):
    trusses are the stricter cohesive-community core.

    Scale shape: each round is the triangle join (Sigma deg² bound) on a
    monotonically SHRINKING edge set — peeling only removes. Same
    top-degree-cap mitigation as every triangle kernel here."""
    from nocouncil_etl_spark.plans.graph_plans import _graph

    nodes, edges, n = _graph(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out_rows = []
    cur = und
    for i in range(1, KTRUSS_ROUNDS + 1):
        sym = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        x = sym.select(F.col("u").alias("a"), F.col("v").alias("w"))
        y = sym.select(F.col("u").alias("b"), F.col("v").alias("w"))
        sup = (
            cur.join(x, "a")
            .join(y, ["b", "w"])
            .groupBy("a", "b")
            .agg(F.count("*").cast("long").alias("support"))
        )
        keep = sup.filter(F.col("support") >= KTRUSS_K - 2).localCheckpoint(
            eager=True
        )
        agg = keep.agg(
            F.count("*").cast("long").alias("n_edges"),
            F.coalesce(F.sum("support"), F.lit(0)).cast("long").alias(
                "total_support"
            ),
        ).collect()[0]
        out_rows.append((i, agg.n_edges, agg.total_support))
        cur = keep.select("a", "b")
    return spark.createDataFrame(
        out_rows, "round BIGINT, n_edges BIGINT, total_support BIGINT"
    )


# --------------------------------------------------------------------------
# 6. Page-Hinkley drift detector
# --------------------------------------------------------------------------

PH_CALIB_DAYS = 10


@query(
    "ts_page_hinkley_drift",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS t,
         x
  FROM daily
),
calib AS (
  SELECT event_type,
         CAST(sum(x) AS BIGINT) // count(*) AS mu
  FROM idx WHERE t <= {PH_CALIB_DAYS} GROUP BY 1
),
ph AS (
  SELECT i.event_type, i.t,
         CAST(sum(i.x - c.mu - c.mu // 100)
              OVER (PARTITION BY i.event_type ORDER BY i.t) AS BIGINT) AS m
  FROM idx i JOIN calib c ON i.event_type = c.event_type
),
runmin AS (
  SELECT event_type, t, m,
         CAST(min(m) OVER (PARTITION BY event_type ORDER BY t) AS BIGINT)
           AS mmin
  FROM ph
),
flagged AS (
  SELECT r.event_type, r.t,
         CASE WHEN r.m - r.mmin > c.mu THEN 1 ELSE 0 END AS alarm
  FROM runmin r JOIN calib c ON r.event_type = c.event_type
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(alarm) AS BIGINT) AS n_alarm_days,
       CAST(coalesce(min(CASE WHEN alarm = 1 THEN t END), 0) AS BIGINT)
         AS first_alarm_t
FROM flagged GROUP BY 1
""",
)
def ts_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detection on each event-type's daily total: the
    cumulative deviation m_t = Sigma (x − mu − delta) from a calibration
    mean (first {PH_CALIB_DAYS} days, exact integer; delta = mu/100
    tolerance) is compared against its own running minimum — an alarm
    fires when m_t − min(m) exceeds lambda = mu, i.e. the series has
    climbed a full calibration-mean above its historical low point.
    Sequential on paper, but prefix-sum + prefix-min ARE window
    aggregates, so the whole detector is declarative — no UDF, no
    recursion, exact integers.

    Scale shape: daily collapse map-side; two per-key running windows on
    the date-bounded table. The streaming twin is the same expression
    over an unbounded window with watermarking."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.round("value").cast("long")).cast("long").alias("x")
    )
    idx = daily.select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .cast("long")
        .alias("t"),
        "x",
    )
    calib = (
        idx.filter(F.col("t") <= PH_CALIB_DAYS)
        .groupBy("event_type")
        .agg(F.expr("CAST(sum(x) AS BIGINT) div count(*)").alias("mu"))
    )
    wcum = Window.partitionBy("event_type").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ph = idx.join(calib, "event_type").select(
        "event_type",
        "t",
        "mu",
        F.sum(F.col("x") - F.col("mu") - F.expr("mu div 100"))
        .over(wcum)
        .cast("long")
        .alias("m"),
    )
    runmin = ph.select(
        "event_type",
        "t",
        "mu",
        "m",
        F.min("m").over(wcum).cast("long").alias("mmin"),
    )
    flagged = runmin.select(
        "event_type",
        "t",
        F.when(F.col("m") - F.col("mmin") > F.col("mu"), 1).otherwise(0).alias(
            "alarm"
        ),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("alarm").cast("long").alias("n_alarm_days"),
        F.coalesce(
            F.min(F.when(F.col("alarm") == 1, F.col("t"))), F.lit(0)
        )
        .cast("long")
        .alias("first_alarm_t"),
    )
