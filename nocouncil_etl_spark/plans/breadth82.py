"""Breadth batch 62 (round 6): Katz centrality, RLE encoding model,
prefix-dedup threshold sweep, Hotelling T², SLO burn rate, recourse
distance.

Six operators (reference scope: damped path-counting centrality, the
run-length encoding planner, dedup-aggressiveness tuning, the
multivariate two-sample test, SRE error-budget alerting, and
algorithmic-recourse interpretability):

- ``graph_katz_centrality``  — 4 integer fixed-point rounds of
  x ← α·Aᵀx + 1 (Katz 1953), top-15 nodes.
- ``io_rle_encoding_model``  — run counts under natural vs sorted order
  per column: the RLE benefit of sorting.
- ``dedup_prefix_threshold_sweep`` — duplicate mass at prefix lengths
  {PD_KS}: the retention curve dedup aggressiveness trades against.
- ``stat_hotelling_t2``      — two-sample Hotelling T² on (value,
  hour-of-day) between purchases and views.
- ``dq_slo_burn_rate``       — multiwindow error-budget burn rates
  (1-day and 7-day) with the AND-alert rule.
- ``ml_recourse_distance``   — per-band distance to the nearest
  opposite-decision band (actionable recourse).

Reference parity: north-star extension — no reference analogue
(the reference has no analytics layer); the prefix sweep parameterizes its dedup the way
a C4-style corpus pass must.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.operators.quantiles import with_below
from nocouncil_etl_spark.plans.graph_plans import _EDGES_SQL, _graph
from nocouncil_etl_spark.registry import query

KATZ_ROUNDS = 4
KATZ_SCALE = 1_000_000
KATZ_ALPHA_DEN = 5  # alpha = 1/5
RLE_COLS = ("o_orderstatus", "o_orderpriority")
PD_KS = (3, 5, 10, 20)
SLO_BUDGET_MILLI = 250  # error budget: 25% of events
REC_BAND = 2000


# --------------------------------------------------------------------------
# 1. Katz centrality
# --------------------------------------------------------------------------


def _katz_cte() -> str:
    cte = [f"WITH {_EDGES_SQL},"]
    cte.append(f"""
x0 AS MATERIALIZED (SELECT node, CAST({KATZ_SCALE} AS BIGINT) AS x FROM nodes)""")
    for k in range(KATZ_ROUNDS):
        cte.append(f""",
x{k + 1} AS MATERIALIZED (
  SELECT n.node,
         {KATZ_SCALE} + coalesce(s.acc, 0) // {KATZ_ALPHA_DEN} AS x
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(p.x) AS BIGINT) AS acc
    FROM edges0 e JOIN x{k} p ON p.node = e.src GROUP BY e.dst
  ) s ON s.node = n.node
)""")
    return "".join(cte)


@query(
    "graph_katz_centrality",
    oracle=_katz_cte()
    + f"""
SELECT node, x AS katz_micro
FROM x{KATZ_ROUNDS}
ORDER BY x DESC, node LIMIT 15
""",
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality by {KATZ_ROUNDS} integer fixed-point rounds of
    x ← 1 + α·Aᵀx (α = 1/{KATZ_ALPHA_DEN}, truncating division — both
    engines' `div`): every incoming path contributes, damped by length —
    the centrality that, unlike PageRank (graph_pagerank_topk), does
    NOT split a node's influence across its out-links, so prolific
    linkers still confer full weight. Top-15 nodes reported in exact
    micro units (the pagerank unrolled-CTE oracle technique).

    Scale shape: per round one dst-keyed equi-join + hash agg — the
    matvec pattern with localCheckpoint-bounded lineage."""
    nodes, edges, _n = _graph(spark, sf_dir)
    edges0 = edges.select("src", "dst")
    edges0.persist()
    x = nodes.select(
        "node", F.lit(KATZ_SCALE).cast("long").alias("x")
    ).localCheckpoint(eager=True)
    for _ in range(KATZ_ROUNDS):
        acc = (
            edges0.join(
                x.select(F.col("node").alias("src"), F.col("x").alias("xs")),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("xs").cast("long").alias("acc"))
        )
        x = (
            nodes.join(acc, "node", "left")
            .select(
                "node",
                (
                    KATZ_SCALE
                    + F.expr(
                        f"coalesce(acc, 0) div {KATZ_ALPHA_DEN}"
                    )
                )
                .cast("long")
                .alias("x"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        x.orderBy(F.desc("x"), "node")
        .limit(15)
        .select("node", F.col("x").alias("katz_micro"))
    )


# --------------------------------------------------------------------------
# 2. RLE encoding model
# --------------------------------------------------------------------------


def _rle_oracle() -> str:
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col,
       (SELECT CAST(1 + sum(CASE WHEN {c} <> prev THEN 1 ELSE 0 END)
               AS BIGINT)
        FROM (SELECT {c}, lag({c}) OVER (ORDER BY o_orderkey) AS prev
              FROM orders)
        WHERE prev IS NOT NULL) AS runs_natural,
       (SELECT CAST(count(DISTINCT {c}) AS BIGINT) FROM orders)
         AS runs_sorted,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows"""
        for c in RLE_COLS
    )
    return f"""
WITH arms AS (
{arms}
)
SELECT col, runs_natural, runs_sorted, n_rows,
       CAST(round(1000.0 * runs_natural / runs_sorted) AS BIGINT)
         AS sort_benefit_milli,
       CAST(round(1000.0 * runs_natural / n_rows) AS BIGINT)
         AS natural_run_density_milli
FROM arms
"""


@query("io_rle_encoding_model", oracle=_rle_oracle())
def io_rle_encoding_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length-encoding planner: per low-cardinality column, the
    number of RLE runs under the table's NATURAL (key) order vs under a
    sort on that column (where runs = NDV, the floor) — the ratio IS
    the compression a sort rewrite buys, because RLE size is linear in
    run count. High natural run density says the column is shuffled
    relative to storage order (pair with io_natural_clustering_audit
    for the pruning angle; io_dictionary_encoding_model for the
    dictionary angle — the three planners every columnar writer runs).

    Scale shape (r7): key-order adjacency via ONE Fenwick rank table
    (keys are unique, so rank = prefix count) + a consecutive-rank
    equi-join shared by every column — the windowless lag; NDV scans;
    2-row output."""
    orders = load(spark, sf_dir, "orders")
    byid = orders.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    rk = with_below(byid, "o_orderkey", "_c").select(
        "o_orderkey", (F.col("below") + 1).alias("_r")
    )
    cur = orders.join(rk, "o_orderkey")
    prv = cur.select(
        (F.col("_r") + 1).alias("_r"),
        *[F.col(c).alias(f"_prev_{c}") for c in RLE_COLS],
    )
    adj = cur.join(prv, "_r")  # inner join drops the first row (no prev)
    adj.persist()
    arms = None
    for c in RLE_COLS:
        runs = (
            adj.select(F.col(c).alias("v"), F.col(f"_prev_{c}").alias("prev"))
            .agg(
                (
                    1
                    + F.sum(
                        F.when(F.col("v") != F.col("prev"), 1).otherwise(0)
                    )
                )
                .cast("long")
                .alias("runs_natural")
            )
        )
        meta = orders.agg(
            F.countDistinct(c).cast("long").alias("runs_sorted"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        arm = runs.crossJoin(F.broadcast(meta)).select(
            F.lit(c).alias("col"),
            "runs_natural",
            "runs_sorted",
            "n_rows",
            F.round(1000.0 * F.col("runs_natural") / F.col("runs_sorted"))
            .cast("long")
            .alias("sort_benefit_milli"),
            F.round(1000.0 * F.col("runs_natural") / F.col("n_rows"))
            .cast("long")
            .alias("natural_run_density_milli"),
        )
        arms = arm if arms is None else arms.unionByName(arm)
    return arms


# --------------------------------------------------------------------------
# 3. Prefix-dedup threshold sweep
# --------------------------------------------------------------------------


def _pd_oracle() -> str:
    arms = "\nUNION ALL\n".join(
        f"""SELECT {k} AS prefix_k,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(sum(c) - count(*) AS BIGINT) AS n_dropped,
       CAST(round(1000.0 * count(*) / sum(c)) AS BIGINT) AS retention_milli
FROM (
  SELECT array_to_string(w[1:{k}], ' ') AS pfx, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT string_split(text, ' ') AS w FROM documents)
  GROUP BY 1
)"""
        for k in PD_KS
    )
    return arms


@query("dedup_prefix_threshold_sweep", oracle=_pd_oracle())
def dedup_prefix_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dedup aggressiveness sweep: documents sharing their first
    k tokens collapse to one representative, for k in {PD_KS} — small k
    is aggressive (C4's three-sentence dedup spirit: boilerplate
    openings collapse whole families), large k approaches exact dedup.
    The retention curve (groups/docs) is THE tuning input: pick the k
    where retention stops falling — beyond it you only split real
    duplicates apart. Exact group counts per k, one pass each.

    Scale shape: per k one hash agg on the k-token prefix (a narrow
    key — at 100 TB the prefix hashes, dedup_span_ngrams' trick);
    |grid| passes over one cached tokenization."""
    docs = load(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("w")
    )
    docs.persist()
    arms = None
    for k in PD_KS:
        g = docs.select(
            F.concat_ws(" ", F.slice("w", 1, k)).alias("pfx")
        ).groupBy("pfx").agg(F.count(F.lit(1)).cast("long").alias("c"))
        arm = g.agg(
            F.lit(k).cast("long").alias("prefix_k"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("c").cast("long").alias("n_docs"),
            (F.sum("c") - F.count(F.lit(1))).cast("long").alias("n_dropped"),
            F.round(1000.0 * F.count(F.lit(1)) / F.sum("c"))
            .cast("long")
            .alias("retention_milli"),
        ).select(
            "prefix_k", "n_groups", "n_docs", "n_dropped", "retention_milli"
        )
        arms = arm if arms is None else arms.unionByName(arm)
    return arms


# --------------------------------------------------------------------------
# 4. Hotelling T²
# --------------------------------------------------------------------------


@query(
    "stat_hotelling_t2",
    oracle="""
WITH d AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a,
         CAST(round(100 * value) AS BIGINT) AS u,
         CAST(extract(hour FROM ts) AS BIGINT) AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
),
m AS (
  SELECT is_a, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(u) AS BIGINT) AS su, CAST(sum(v) AS BIGINT) AS sv,
         CAST(sum(CAST(u AS HUGEINT) * u) AS DOUBLE) AS suu,
         CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) AS svv,
         CAST(sum(CAST(u AS HUGEINT) * v) AS DOUBLE) AS suv
  FROM d GROUP BY is_a
),
c AS (
  SELECT
    (SELECT n FROM m WHERE is_a = 1) AS n1,
    (SELECT n FROM m WHERE is_a = 0) AS n2,
    (SELECT CAST(su AS DOUBLE) / n FROM m WHERE is_a = 1)
      - (SELECT CAST(su AS DOUBLE) / n FROM m WHERE is_a = 0) AS du,
    (SELECT CAST(sv AS DOUBLE) / n FROM m WHERE is_a = 1)
      - (SELECT CAST(sv AS DOUBLE) / n FROM m WHERE is_a = 0) AS dv,
    (SELECT sum(suu - CAST(su AS DOUBLE) * su / n) FROM m)
      / ((SELECT sum(n) FROM m) - 2) AS cuu,
    (SELECT sum(svv - CAST(sv AS DOUBLE) * sv / n) FROM m)
      / ((SELECT sum(n) FROM m) - 2) AS cvv,
    (SELECT sum(suv - CAST(su AS DOUBLE) * sv / n) FROM m)
      / ((SELECT sum(n) FROM m) - 2) AS cuv
)
SELECT n1, n2,
       CAST(round(1000.0 * (CAST(n1 AS DOUBLE) * n2 / (n1 + n2))
            * (du * (cvv * du - cuv * dv) + dv * (cuu * dv - cuv * du))
            / (cuu * cvv - cuv * cuv)) AS BIGINT) AS t2_milli
FROM c
""",
)
def stat_hotelling_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Hotelling T² on the (value, hour-of-day) pair between
    purchases and views: T² = (n₁n₂/(n₁+n₂))·d'S⁻¹d with the pooled
    2×2 covariance inverted in closed form — the MULTIVARIATE mean test
    that catches joint shifts two marginal t-tests miss entirely (each
    coordinate can look identical while the correlation structure
    moves). Moments are exact 128-bit integers; the quadratic form is
    scalar double algebra.

    Scale shape: one 2-group 6-moment hash agg, 1-row arithmetic."""
    d = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "view")
        )
        .select(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
                "is_a"
            ),
            F.round(100 * F.col("value")).cast("long").alias("u"),
            F.hour("ts").cast("long").alias("v"),
        )
    )
    dec = "decimal(38,0)"
    m = d.groupBy("is_a").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("u").cast("long").alias("su"),
        F.sum("v").cast("long").alias("sv"),
        F.sum((F.col("u").cast(dec) * F.col("u"))).cast("double").alias("suu"),
        F.sum((F.col("v").cast(dec) * F.col("v"))).cast("double").alias("svv"),
        F.sum((F.col("u").cast(dec) * F.col("v"))).cast("double").alias("suv"),
    )
    m.persist()
    a = m.filter(F.col("is_a") == 1).select(
        F.col("n").alias("n1"),
        (F.col("su").cast("double") / F.col("n")).alias("mu1"),
        (F.col("sv").cast("double") / F.col("n")).alias("mv1"),
    )
    b = m.filter(F.col("is_a") == 0).select(
        F.col("n").alias("n2"),
        (F.col("su").cast("double") / F.col("n")).alias("mu2"),
        (F.col("sv").cast("double") / F.col("n")).alias("mv2"),
    )
    pool = m.agg(
        (
            F.sum(
                F.col("suu") - F.col("su").cast("double") * F.col("su") / F.col("n")
            )
            / (F.sum("n") - 2)
        ).alias("cuu"),
        (
            F.sum(
                F.col("svv") - F.col("sv").cast("double") * F.col("sv") / F.col("n")
            )
            / (F.sum("n") - 2)
        ).alias("cvv"),
        (
            F.sum(
                F.col("suv") - F.col("su").cast("double") * F.col("sv") / F.col("n")
            )
            / (F.sum("n") - 2)
        ).alias("cuv"),
    )
    j = a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(pool))
    du = F.col("mu1") - F.col("mu2")
    dv = F.col("mv1") - F.col("mv2")
    det = F.col("cuu") * F.col("cvv") - F.col("cuv") * F.col("cuv")
    quad = du * (F.col("cvv") * du - F.col("cuv") * dv) + dv * (
        F.col("cuu") * dv - F.col("cuv") * du
    )
    return j.select(
        "n1",
        "n2",
        F.round(
            1000.0
            * (F.col("n1").cast("double") * F.col("n2") / (F.col("n1") + F.col("n2")))
            * quad
            / det
        )
        .cast("long")
        .alias("t2_milli"),
    )


# --------------------------------------------------------------------------
# 5. SLO burn rate
# --------------------------------------------------------------------------


@query(
    "dq_slo_burn_rate",
    oracle=f"""
WITH horizon AS (SELECT max(ts) AS mx FROM events),
w AS (
  SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err,
         CASE WHEN ts >= (SELECT mx FROM horizon) - INTERVAL 1 DAY
              THEN 1 ELSE 0 END AS in_1d,
         CASE WHEN ts >= (SELECT mx FROM horizon) - INTERVAL 7 DAY
              THEN 1 ELSE 0 END AS in_7d
  FROM events
),
agg AS (
  SELECT CAST(sum(in_1d) AS BIGINT) AS n1,
         CAST(sum(err * in_1d) AS BIGINT) AS e1,
         CAST(sum(in_7d) AS BIGINT) AS n7,
         CAST(sum(err * in_7d) AS BIGINT) AS e7
  FROM w
)
SELECT CAST({SLO_BUDGET_MILLI} AS BIGINT) AS budget_milli,
       CAST(round(1000.0 * e1 / n1) AS BIGINT) AS rate_1d_milli,
       CAST(round(1000.0 * e7 / n7) AS BIGINT) AS rate_7d_milli,
       CAST(round(1000.0 * (1000.0 * e1 / n1) / {SLO_BUDGET_MILLI})
            AS BIGINT) AS burn_1d_milli,
       CAST(round(1000.0 * (1000.0 * e7 / n7) / {SLO_BUDGET_MILLI})
            AS BIGINT) AS burn_7d_milli,
       CASE WHEN 1000.0 * e1 / n1 > {SLO_BUDGET_MILLI}
             AND 1000.0 * e7 / n7 > {SLO_BUDGET_MILLI}
            THEN 1 ELSE 0 END AS alert
FROM agg
""",
)
def dq_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow SLO burn-rate alerting (the Google SRE workbook
    rule): the error-event rate over the trailing 1-day AND 7-day
    windows, each expressed as a burn rate against the
    {SLO_BUDGET_MILLI} milli error budget — the alert fires only when
    BOTH exceed budget, which is what kills the flapping
    (short window = fast detection, long window = sustained-burn
    confirmation). Exact integer window counts; two divisions.

    Scale shape: one scan with two window flags, 1-row arithmetic."""
    ev = load(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("mx"))
    w = ev.crossJoin(F.broadcast(horizon)).select(
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("err"),
        F.when(
            F.col("ts") >= F.col("mx") - F.expr("INTERVAL 1 DAY"), 1
        )
        .otherwise(0)
        .alias("in_1d"),
        F.when(
            F.col("ts") >= F.col("mx") - F.expr("INTERVAL 7 DAY"), 1
        )
        .otherwise(0)
        .alias("in_7d"),
    )
    agg = w.agg(
        F.sum("in_1d").cast("long").alias("n1"),
        F.sum(F.col("err") * F.col("in_1d")).cast("long").alias("e1"),
        F.sum("in_7d").cast("long").alias("n7"),
        F.sum(F.col("err") * F.col("in_7d")).cast("long").alias("e7"),
    )
    r1 = 1000.0 * F.col("e1") / F.col("n1")
    r7 = 1000.0 * F.col("e7") / F.col("n7")
    return agg.select(
        F.lit(SLO_BUDGET_MILLI).cast("long").alias("budget_milli"),
        F.round(r1).cast("long").alias("rate_1d_milli"),
        F.round(r7).cast("long").alias("rate_7d_milli"),
        F.round(1000.0 * r1 / SLO_BUDGET_MILLI)
        .cast("long")
        .alias("burn_1d_milli"),
        F.round(1000.0 * r7 / SLO_BUDGET_MILLI)
        .cast("long")
        .alias("burn_7d_milli"),
        F.when(
            (r1 > SLO_BUDGET_MILLI) & (r7 > SLO_BUDGET_MILLI), 1
        )
        .otherwise(0)
        .alias("alert"),
    )


# --------------------------------------------------------------------------
# 6. Recourse distance
# --------------------------------------------------------------------------


@query(
    "ml_recourse_distance",
    oracle=f"""
WITH d AS (
  SELECT CAST(round(100 * value) AS BIGINT) // {REC_BAND} AS band,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL
),
hist AS (
  SELECT band, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM d GROUP BY band
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(pos) AS BIGINT) AS pt
        FROM hist),
pred AS (
  SELECT band, n,
         CASE WHEN pos * (SELECT nt FROM tot) > n * (SELECT pt FROM tot)
              THEN 1 ELSE 0 END AS pred
  FROM hist
),
rec AS (
  SELECT a.band, a.pred, a.n,
         min(abs(a.band - b.band)) AS recourse_bands
  FROM pred a JOIN pred b ON b.pred <> a.pred
  GROUP BY a.band, a.pred, a.n
)
SELECT band, pred, n,
       CAST(recourse_bands AS BIGINT) AS recourse_bands,
       CAST(recourse_bands * {REC_BAND} AS BIGINT) AS recourse_cents
FROM rec
""",
)
def ml_recourse_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algorithmic recourse for the band decision rule: for every value
    band, the distance (in bands and in cents) to the NEAREST band
    where the above-base-rate decision flips — the 'what would have to
    change' number a subject of the decision can act on (Ustun 2019),
    and the interpretability quantity ml_surrogate_fidelity's global
    view doesn't give. Exact counts; the band-pair min is over the
    tiny histogram.

    Scale shape: one histogram hash agg; recourse is a |bands|² join
    on the aggregate-sized table."""
    d = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.expr(f"CAST(round(100 * value) AS BIGINT) div {REC_BAND}").alias(
                "band"
            ),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
    )
    hist = d.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    tot = hist.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("pos").cast("long").alias("pt"),
    )
    pred = hist.crossJoin(F.broadcast(tot)).select(
        "band",
        "n",
        F.when(
            F.col("pos") * F.col("nt") > F.col("n") * F.col("pt"), 1
        )
        .otherwise(0)
        .alias("pred"),
    )
    pred.persist()
    other = pred.select(
        F.col("band").alias("ob"), F.col("pred").alias("op")
    )
    rec = (
        pred.join(other, F.col("op") != F.col("pred"))
        .groupBy("band", "pred", "n")
        .agg(F.min(F.abs(F.col("band") - F.col("ob"))).alias("recourse_bands"))
    )
    return rec.select(
        "band",
        "pred",
        "n",
        F.col("recourse_bands").cast("long"),
        (F.col("recourse_bands") * REC_BAND).cast("long").alias(
            "recourse_cents"
        ),
    )
