"""Breadth batch 40 (round 6): Goertzel periodicity, temporal
reachability, meta-analysis pooling, Slope One, term burstiness,
uncertainty sampling.

Six operators (reference scope: weekly cadence detection in fetch-rate
series, time-respecting spread over the link graph, pooling per-feed
experiment effects, lightweight CF prediction, IR term statistics, and
the active-learning acquisition loop):

- ``ts_goertzel_weekly``   — Goertzel single-bin DFT power at the weekly
  and monthly frequencies, fixed-point integer recurrence.
- ``graph_temporal_paths`` — earliest-arrival time-respecting
  reachability over md5-timestamped edges (non-decreasing edge times).
- ``stat_meta_fixed_effect`` — inverse-variance fixed-effect pooling of
  per-type arm effects with Cochran's Q and I² heterogeneity.
- ``rec_slope_one``        — weighted Slope One prediction from the
  item-pair deviation matrix, exact rational arithmetic.
- ``text_term_burstiness`` — within-document gap burstiness B =
  (sigma − mu)/(sigma + mu) for the top corpus terms.
- ``sample_uncertainty_margin`` — margin-based active-learning batch
  from the ml_logistic_gd fit (reused trainer).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.plans.breadth15 import _pt, _pt_sql
from nocouncil_etl_spark.plans.breadth28 import (
    LOGIT_ITERS,
    _logit_pred_sql,
    train_logistic_gd,
)
from nocouncil_etl_spark.plans.graph_plans import _EDGES_SQL, _graph
from nocouncil_etl_spark.registry import query

# --------------------------------------------------------------------------
# 1. Goertzel single-bin DFT power
# --------------------------------------------------------------------------

# 2*cos(2*pi/7) and 2*cos(2*pi/30) in 1/1024 fixed point (shared constants)
GZ_C7 = 1277
GZ_C30 = 2003


def _gz_step(c: int, s1: str, s2: str, x: str) -> str:
    return f"CAST({x} + ({c} * {s1}) // 1024 - {s2} AS BIGINT)"


@query(
    "ts_goertzel_weekly",
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
meta AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) // count(*) AS mu
  FROM daily GROUP BY 1
),
idx AS (
  SELECT d.event_type,
         CAST(row_number() OVER (PARTITION BY d.event_type ORDER BY d.d)
              AS BIGINT) AS i,
         d.x - m.mu AS x
  FROM daily d JOIN meta m ON d.event_type = m.event_type
),
dp AS (
  SELECT event_type, i,
         CAST(x AS BIGINT) AS a1, CAST(0 AS BIGINT) AS a2,
         CAST(x AS BIGINT) AS b1, CAST(0 AS BIGINT) AS b2
  FROM idx WHERE i = 1
  UNION ALL
  SELECT i.event_type, i.i,
         {_gz_step(GZ_C7, 'dp.a1', 'dp.a2', 'i.x')}, dp.a1,
         {_gz_step(GZ_C30, 'dp.b1', 'dp.b2', 'i.x')}, dp.b1
  FROM dp JOIN idx i ON i.event_type = dp.event_type AND i.i = dp.i + 1
)
SELECT d.event_type, m.n AS n_days,
       CAST(d.a1 * d.a1 + d.a2 * d.a2
            - ({GZ_C7} * d.a1 * d.a2) // 1024 AS BIGINT) AS power7,
       CAST(d.b1 * d.b1 + d.b2 * d.b2
            - ({GZ_C30} * d.b1 * d.b2) // 1024 AS BIGINT) AS power30
FROM dp d JOIN meta m ON m.event_type = d.event_type AND d.i = m.n
""",
)
def ts_goertzel_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goertzel single-bin DFT: the O(n)-per-frequency recurrence
    s_t = x_t + 2cos(w)·s_(t-1) − s_(t-2) evaluated at the WEEKLY
    (period 7) and monthly (period 30) bins over each mean-centered
    daily series, with 2cos(w) as the shared fixed-point constant
    {GZ_C7}/1024 resp. {GZ_C30}/1024 — so the whole filter is exact
    BIGINT arithmetic (a deterministic fixed-point approximation of the
    true bin, documented). power = s_n² + s_(n-1)² − 2cos(w)·s_n·s_(n-1)
    — high power7 vs power30 = the feed has a weekly cadence. Recursive-
    CTE oracle carrying both filters' two-tap states.

    Scale shape: daily collapse map-side; one Arrow batch per key with
    O(1) state (4 BIGINTs) per step — the streaming spectral probe."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.round("value").cast("long")).cast("long").alias("x")
    )
    out_schema = "event_type string, n_days long, power7 long, power30 long"

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // b
        return -q if a < 0 else q

    def goertzel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d")
        xs = [int(v) for v in pdf["x"]]
        mu = sum(xs) // len(xs)
        xs = [x - mu for x in xs]
        a1, a2, b1, b2 = xs[0], 0, xs[0], 0
        for x in xs[1:]:
            a1, a2 = x + tdiv(GZ_C7 * a1, 1024) - a2, a1
            b1, b2 = x + tdiv(GZ_C30 * b1, 1024) - b2, b1
        p7 = a1 * a1 + a2 * a2 - tdiv(GZ_C7 * a1 * a2, 1024)
        p30 = b1 * b1 + b2 * b2 - tdiv(GZ_C30 * b1 * b2, 1024)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(xs)],
                "power7": [p7],
                "power30": [p30],
            }
        )

    return daily.groupBy("event_type").applyInPandas(goertzel, out_schema)


# --------------------------------------------------------------------------
# 2. Time-respecting reachability
# --------------------------------------------------------------------------


@query(
    "graph_temporal_paths",
    oracle=f"""
WITH RECURSIVE {_EDGES_SQL},
te AS (
  SELECT DISTINCT src, dst,
         CAST(('0x' || substring(md5('tt#' || CAST(src AS VARCHAR) || '#'
               || CAST(dst AS VARCHAR)), 1, 15)) AS BIGINT) % 30 AS t
  FROM edges0 WHERE src <> dst
),
seed AS (
  SELECT CAST(min(src) AS BIGINT) AS node FROM te
),
walk AS (
  SELECT node AS v, CAST(0 AS BIGINT) AS arr FROM seed
  UNION
  SELECT te.dst AS v, te.t AS arr
  FROM walk JOIN te ON te.src = walk.v AND te.t >= walk.arr
),
earliest AS (
  SELECT v, CAST(min(arr) AS BIGINT) AS arr FROM walk GROUP BY v
)
SELECT CAST(count(*) AS BIGINT) AS n_reached,
       CAST(min(arr) AS BIGINT) AS min_arr,
       CAST(max(arr) AS BIGINT) AS max_arr,
       CAST(sum(arr) AS BIGINT) AS sum_arr
FROM earliest
""",
)
def graph_temporal_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting (temporal) reachability: edges carry deterministic
    md5 timestamps and a path is valid only if edge times are
    NON-DECREASING along it — the model under which information actually
    spreads through a network (a retweet cannot precede the tweet).
    Earliest-arrival labels propagate from the minimum node until
    fixpoint (arrival minimization is monotone, so the
    connected_components convergence loop applies verbatim); static
    reachability strictly over-counts what temporal reachability
    returns. Exact integers.

    Scale shape: each round is one equi-join frontier→edges with the
    time filter + min-agg; rounds ≤ temporal diameter."""
    nodes, edges, n = _graph(spark, sf_dir)
    te = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .select(
            "src",
            "dst",
            (
                hash60(F.concat(
                    F.lit("tt#"),
                    F.col("src").cast("string"),
                    F.lit("#"),
                    F.col("dst").cast("string"),
                ))
                % 30
            ).alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    seed_id = te.agg(F.min("src")).collect()[0][0]
    arr = spark.createDataFrame([(seed_id, 0)], "v BIGINT, arr BIGINT")
    while True:
        step = (
            arr.join(te, arr.v == te.src)
            .filter(F.col("t") >= F.col("arr"))
            .select(F.col("dst").alias("v"), F.col("t").alias("arr"))
            .unionByName(arr)
            .groupBy("v")
            .agg(F.min("arr").alias("arr"))
            .localCheckpoint(eager=True)
        )
        same = (
            step.join(arr.withColumnRenamed("arr", "old"), "v", "left")
            .filter(
                F.col("old").isNull() | (F.col("arr") != F.col("old"))
            )
            .count()
        )
        prev_n = arr.count()
        arr = step
        if same == 0 and step.count() == prev_n:
            break
    return arr.agg(
        F.count("*").cast("long").alias("n_reached"),
        F.min("arr").cast("long").alias("min_arr"),
        F.max("arr").cast("long").alias("max_arr"),
        F.sum("arr").cast("long").alias("sum_arr"),
    )


# --------------------------------------------------------------------------
# 3. Fixed-effect meta-analysis
# --------------------------------------------------------------------------


@query(
    "stat_meta_fixed_effect",
    oracle=f"""
WITH armed AS (
  SELECT event_type,
         CASE WHEN {_pt_sql('srm#', 'user_id', 1000)} % 2 = 0
              THEN 0 ELSE 1 END AS arm,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
mom AS (
  SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS sv, CAST(sum(v * v) AS BIGINT) AS svv
  FROM armed GROUP BY 1, 2
),
study AS (
  SELECT a.event_type,
         CAST(b.sv AS DOUBLE) / b.n - CAST(a.sv AS DOUBLE) / a.n AS d,
         (CAST(a.svv AS DOUBLE) - CAST(a.sv AS DOUBLE) * a.sv / a.n)
           / (a.n - 1) / a.n
         + (CAST(b.svv AS DOUBLE) - CAST(b.sv AS DOUBLE) * b.sv / b.n)
           / (b.n - 1) / b.n AS var
  FROM (SELECT * FROM mom WHERE arm = 0) a
  JOIN (SELECT * FROM mom WHERE arm = 1) b ON a.event_type = b.event_type
),
q AS (
  SELECT event_type, d, var,
         CAST(round(1000000000000.0 / var) AS BIGINT) AS wq,
         CAST(round(1000000000000.0 * d / var) AS BIGINT) AS wdq
  FROM study
),
pooled AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(wq) AS BIGINT) AS sw, CAST(sum(wdq) AS BIGINT) AS swd
  FROM q
),
het AS (
  SELECT CAST(sum(CAST(round(1000000.0
           * (d - (SELECT CAST(swd AS DOUBLE) / sw FROM pooled))
           * (d - (SELECT CAST(swd AS DOUBLE) / sw FROM pooled))
           / var) AS BIGINT)) AS BIGINT) AS q_1e6
  FROM q
)
SELECT p.k,
       round(CAST(p.swd AS DOUBLE) / p.sw, 6) AS pooled_effect,
       round(1000000.0 / sqrt(CAST(p.sw AS DOUBLE) / 1e12) / 1000000, 6)
         AS pooled_se,
       round(CAST(h.q_1e6 AS DOUBLE) / 1e6, 4) AS cochran_q,
       round(greatest(0.0, (CAST(h.q_1e6 AS DOUBLE) / 1e6 - (p.k - 1))
                           / (CAST(h.q_1e6 AS DOUBLE) / 1e6)), 6) AS i2
FROM pooled p, het h
""",
)
def stat_meta_fixed_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect meta-analysis across the five event types treated as
    independent 'studies' of the same arm contrast: each study's effect
    (arm mean difference in cents) is pooled by inverse-variance
    weighting, with Cochran's Q and I² = max(0, (Q − (k−1))/Q)
    quantifying between-study heterogeneity — I² near 0 licenses the
    fixed-effect pooling, large I² says the feeds respond differently
    and a random-effects model is needed. Per-study weights and Q terms
    quantize to fixed point before the k-term sums (order-free).

    Scale shape: one hash-agg to 2k moment rows, two k-row reduces —
    the cross-segment experiment readout at any scale."""
    ev = load(spark, sf_dir, "events")
    armed = ev.select(
        "event_type",
        F.when((_pt("srm#", F.col("user_id")) % 1000) % 2 == 0, 0)
        .otherwise(1)
        .alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    mom = armed.groupBy("event_type", "arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("svv"),
    )
    a = mom.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n0"),
        F.col("sv").alias("sv0"),
        F.col("svv").alias("svv0"),
    )
    b = mom.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("sv").alias("sv1"),
        F.col("svv").alias("svv1"),
    )
    d = F.col("sv1").cast("double") / F.col("n1") - F.col("sv0").cast(
        "double"
    ) / F.col("n0")
    var = (
        F.col("svv0").cast("double")
        - F.col("sv0").cast("double") * F.col("sv0") / F.col("n0")
    ) / (F.col("n0") - 1) / F.col("n0") + (
        F.col("svv1").cast("double")
        - F.col("sv1").cast("double") * F.col("sv1") / F.col("n1")
    ) / (F.col("n1") - 1) / F.col("n1")
    study = a.join(b, "event_type").select(
        "event_type", d.alias("d"), var.alias("var")
    )
    q = study.select(
        "d",
        "var",
        F.round(1000000000000.0 / F.col("var")).cast("long").alias("wq"),
        F.round(1000000000000.0 * F.col("d") / F.col("var"))
        .cast("long")
        .alias("wdq"),
    ).localCheckpoint(eager=True)
    pooled = q.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("wq").cast("long").alias("sw"),
        F.sum("wdq").cast("long").alias("swd"),
    )
    het = q.crossJoin(F.broadcast(pooled)).agg(
        F.sum(
            F.round(
                1000000.0
                * (F.col("d") - F.col("swd").cast("double") / F.col("sw"))
                * (F.col("d") - F.col("swd").cast("double") / F.col("sw"))
                / F.col("var")
            ).cast("long")
        )
        .cast("long")
        .alias("q_1e6")
    )
    qd = F.col("q_1e6").cast("double") / 1e6
    return pooled.crossJoin(het).select(
        "k",
        F.round(F.col("swd").cast("double") / F.col("sw"), 6).alias(
            "pooled_effect"
        ),
        F.round(
            1000000.0 / F.sqrt(F.col("sw").cast("double") / 1e12) / 1000000, 6
        ).alias("pooled_se"),
        F.round(qd, 4).alias("cochran_q"),
        F.round(
            F.greatest(F.lit(0.0), (qd - (F.col("k") - 1)) / qd), 6
        ).alias("i2"),
    )


# --------------------------------------------------------------------------
# 4. Slope One prediction
# --------------------------------------------------------------------------

SO_USERS = 50
SO_TOPK = 3


@query(
    "rec_slope_one",
    oracle=f"""
WITH ratings AS (
  SELECT o.o_custkey AS cid, l.l_partkey AS pid,
         CAST(round(sum(l.l_quantity)) AS BIGINT) AS r
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
devs AS (
  SELECT a.pid AS pj, b.pid AS pi,
         CAST(sum(a.r - b.r) AS BIGINT) AS num,
         CAST(count(*) AS BIGINT) AS c
  FROM ratings a JOIN ratings b ON a.cid = b.cid AND a.pid <> b.pid
  GROUP BY 1, 2
),
probe_users AS (SELECT DISTINCT cid FROM ratings WHERE cid < {SO_USERS}),
pops AS (
  SELECT pid FROM (
    SELECT pid, row_number() OVER (ORDER BY count(*) DESC, pid) AS rk
    FROM ratings GROUP BY pid
  ) WHERE rk <= 20
),
cands AS (
  SELECT u.cid, p.pid
  FROM probe_users u JOIN pops p ON true
  LEFT JOIN ratings r ON r.cid = u.cid AND r.pid = p.pid
  WHERE r.pid IS NULL
),
pred AS (
  SELECT c.cid, c.pid,
         CAST(sum(r.r * d.c + d.num) AS BIGINT) AS num,
         CAST(sum(d.c) AS BIGINT) AS supp
  FROM cands c
  JOIN ratings r ON r.cid = c.cid
  JOIN devs d ON d.pj = c.pid AND d.pi = r.pid
  GROUP BY 1, 2
)
SELECT cid, pid, pred_milli, supp, rk FROM (
  SELECT cid, pid,
         CAST((1000 * num) // supp AS BIGINT) AS pred_milli, supp,
         CAST(row_number() OVER (PARTITION BY cid
                ORDER BY (1000 * num) // supp DESC, pid) AS INT) AS rk
  FROM pred
) WHERE rk <= {SO_TOPK}
""",
)
def rec_slope_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Slope One collaborative filtering (Lemire & Maclachlan
    2005): the item-pair deviation matrix dev(j,i) = mean over co-raters
    of (r_j − r_i) predicts an unseen item j for user u as the support-
    weighted mean of (r_ui + dev(j,i)) — algebraically pred = Sigma
    (r_ui·c_ji + num_ji) / Sigma c_ji, which stays EXACT integer
    arithmetic end to end (no float deviations; milli-unit output).
    Probe: the first {SO_USERS} customers x top-20 popular unrated
    parts, top-{SO_TOPK} predictions each.

    Scale shape: the deviation matrix is the co-rating self-join on the
    user key (Sigma per-user-degree² — same bound and same per-user-cap
    mitigation as rec_item_cosine); prediction is two equi-joins against
    the bounded probe set."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    ratings = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.col("o_custkey").alias("cid"), F.col("l_partkey").alias("pid"))
        .agg(F.round(F.sum("l_quantity")).cast("long").alias("r"))
        .localCheckpoint(eager=True)
    )
    probe_users = ratings.filter(F.col("cid") < SO_USERS).select("cid").distinct()
    pops = (
        ratings.groupBy("pid")
        .agg(F.count("*").alias("cnt"))
        .select(
            "pid",
            F.row_number().over(Window.orderBy(F.desc("cnt"), "pid")).alias("rk"),
        )
        .filter(F.col("rk") <= 20)
        .select("pid")
    )
    # The deviation matrix is only ever consulted at pj ∈ pops (the 20
    # candidate items), so the co-rating self-join's left side is pruned
    # to those BEFORE pairing — the unpruned Σ per-user-degree² pair set
    # re-aggregated ~|parts|/20x more rows for nothing (51.8 -> ~4 s at
    # sf1, identical predictions).
    a = (
        ratings.select("cid", F.col("pid").alias("pj"), F.col("r").alias("rj"))
        .join(F.broadcast(pops.withColumnRenamed("pid", "pj")), "pj")
    )
    b = ratings.select("cid", F.col("pid").alias("pi"), F.col("r").alias("ri"))
    devs = (
        a.join(b, "cid")
        .filter(F.col("pj") != F.col("pi"))
        .groupBy("pj", "pi")
        .agg(
            F.sum(F.col("rj") - F.col("ri")).cast("long").alias("num"),
            F.count("*").cast("long").alias("c"),
        )
    )
    cands = (
        probe_users.crossJoin(F.broadcast(pops))
        .join(ratings.select("cid", "pid"), ["cid", "pid"], "left_anti")
    )
    pred = (
        cands.join(ratings.select("cid", F.col("pid").alias("pi"), "r"), "cid")
        .join(
            devs.withColumnRenamed("pj", "pid"),
            ["pid", "pi"],
        )
        .groupBy("cid", "pid")
        .agg(
            F.sum(F.col("r") * F.col("c") + F.col("num"))
            .cast("long")
            .alias("num"),
            F.sum("c").cast("long").alias("supp"),
        )
    )
    return (
        pred.select(
            "cid",
            "pid",
            F.expr("CAST((1000 * num) div supp AS BIGINT)").alias("pred_milli"),
            "supp",
        )
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.partitionBy("cid").orderBy(F.desc("pred_milli"), "pid"))
            .cast("int"),
        )
        .filter(F.col("rk") <= SO_TOPK)
        .select("cid", "pid", "pred_milli", "supp", "rk")
    )


# --------------------------------------------------------------------------
# 5. Term burstiness
# --------------------------------------------------------------------------

BURST_TOP_TERMS = 20


@query(
    "text_term_burstiness",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, CAST(j AS BIGINT) AS pos,
         list_extract(w, CAST(j AS INTEGER)) AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS w,
               unnest(range(1, len(string_split(text, ' ')) + 1)) AS j
        FROM documents)
),
top_terms AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) AS rk
    FROM tok GROUP BY term
  ) WHERE rk <= {BURST_TOP_TERMS}
),
occ AS (
  SELECT t.term, t.doc_id, t.pos,
         lag(t.pos) OVER (PARTITION BY t.term, t.doc_id ORDER BY t.pos)
           AS prev
  FROM tok t JOIN top_terms tt ON t.term = tt.term
),
gaps AS (
  SELECT term, pos - prev AS g FROM occ WHERE prev IS NOT NULL
),
mom AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(g) AS BIGINT) AS sg,
         CAST(sum(g * g) AS BIGINT) AS sgg
  FROM gaps GROUP BY term
)
SELECT term, n_gaps,
       CAST((1000 * sg) // n_gaps AS BIGINT) AS mean_gap_milli,
       CAST(round(1000000.0
             * (sqrt((CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * sg / n_gaps)
                     / n_gaps) - CAST(sg AS DOUBLE) / n_gaps)
             / (sqrt((CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * sg / n_gaps)
                     / n_gaps) + CAST(sg AS DOUBLE) / n_gaps)) AS BIGINT)
         AS burstiness_1e6
FROM mom WHERE n_gaps >= 2
""",
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document gap burstiness of the top {BURST_TOP_TERMS} corpus
    terms (Goh & Barabási 2008): B = (sigma − mu)/(sigma + mu) over the
    inter-occurrence position gaps — B → −1 for clockwork-regular terms
    (function words), B → +1 for terms that arrive in bursts (topical
    content words); the IR feature separating the two without stopword
    lists. Gap moments are exact BIGINTs; B is one fixed IEEE expression
    rounded to ppm.

    Scale shape: position explode map-side; gaps via per-(term, doc)
    windows on the filtered top-term postings; moments one hash-agg."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("j0", "term")
    ).select("doc_id", (F.col("j0") + 1).cast("long").alias("pos"), "term")
    top_terms = (
        tok.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .select(
            "term",
            F.row_number().over(Window.orderBy(F.desc("cnt"), "term")).alias("rk"),
        )
        .filter(F.col("rk") <= BURST_TOP_TERMS)
        .select("term")
    )
    occ = tok.join(F.broadcast(top_terms), "term").withColumn(
        "prev",
        F.lag("pos").over(Window.partitionBy("term", "doc_id").orderBy("pos")),
    )
    gaps = occ.filter(F.col("prev").isNotNull()).select(
        "term", (F.col("pos") - F.col("prev")).alias("g")
    )
    mom = gaps.groupBy("term").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("sg"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("sgg"),
    )
    sigma = F.sqrt(
        (F.col("sgg").cast("double") - F.col("sg").cast("double") * F.col("sg") / F.col("n_gaps"))
        / F.col("n_gaps")
    )
    mu = F.col("sg").cast("double") / F.col("n_gaps")
    return mom.filter(F.col("n_gaps") >= 2).select(
        "term",
        "n_gaps",
        F.expr("CAST((1000 * sg) div n_gaps AS BIGINT)").alias("mean_gap_milli"),
        F.round(1000000.0 * (sigma - mu) / (sigma + mu))
        .cast("long")
        .alias("burstiness_1e6"),
    )


# --------------------------------------------------------------------------
# 6. Margin-based uncertainty sampling
# --------------------------------------------------------------------------

UNC_BATCH = 20


def _unc_oracle() -> str:
    # replay the ml_logistic_gd training chain, then rank by |z|
    from nocouncil_etl_spark.plans.breadth28 import LR0_DIV, LR1_DIV

    ctes = [
        "xy AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS x,"
        " CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y FROM events)",
        "p0 AS (SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1)",
    ]
    for i in range(LOGIT_ITERS):
        pred = _logit_pred_sql("p.b0", "p.b1")
        ctes.append(
            f"""g{i} AS (
  SELECT p.b0, p.b1, CAST(count(*) AS BIGINT) AS n,
         CAST(sum({pred} - 1000000 * y) AS BIGINT) AS g0,
         CAST(sum(({pred} - 1000000 * y) * x) AS BIGINT) AS gx
  FROM xy, p{i} p GROUP BY p.b0, p.b1
)"""
        )
        ctes.append(
            f"p{i + 1} AS (SELECT b0 - (g0 // n) // {LR0_DIV} AS b0,"
            f" b1 - (gx // n) // {LR1_DIV} AS b1 FROM g{i})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT event_id, x, margin_micro, rk FROM (
  SELECT xy.event_id, xy.x,
         CAST(abs(p.b0 + p.b1 * xy.x) AS BIGINT) AS margin_micro,
         CAST(row_number() OVER (ORDER BY abs(p.b0 + p.b1 * xy.x), xy.event_id)
              AS INT) AS rk
  FROM xy, p{LOGIT_ITERS} p
) WHERE rk <= {UNC_BATCH}
"""
    )


@query("sample_uncertainty_margin", oracle=_unc_oracle())
def sample_uncertainty_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning acquisition: train the ml_logistic_gd classifier
    (reused trainer — identical fixed-point fit) and select the
    {UNC_BATCH} events CLOSEST to its decision boundary (smallest
    |b0 + b1·x|, ties on id) — margin/uncertainty sampling, the
    labeling-budget allocator that beats random annotation whenever the
    model is worth improving. Exact integer margins; the oracle replays
    the full training chain inline.

    Scale shape: training is {LOGIT_ITERS}+1 scans with 2-int driver
    state; selection is one scan + a bounded top-k (TakeOrderedAndProject
    — never a global sort)."""
    b0, b1 = train_logistic_gd(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    xy = ev.select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    margin = F.abs(F.lit(b0) + F.lit(b1) * F.col("x")).cast("long")
    return (
        xy.select("event_id", "x", margin.alias("margin_micro"))
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy("margin_micro", "event_id"))
            .cast("int"),
        )
        .filter(F.col("rk") <= UNC_BATCH)
        .select("event_id", "x", "margin_micro", "rk")
    )
