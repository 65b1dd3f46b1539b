"""Breadth batch 36 (round 6): interval concurrency, sorted-neighborhood
dedup, influence cascade, McNemar, snapshot vacuum, span corruption.

Six operators (reference scope: load concurrency on the fetch pool,
record-linkage blocking, diffusion over the link graph, paired classifier
comparison, snapshot lifecycle, and masked-LM training-data prep):

- ``agg_max_concurrency``   — maximum simultaneous open intervals via the
  classic +1/−1 boundary sweep (prefix sum over the bounded date grid).
- ``dedup_sorted_neighborhood`` — the SNM record-linkage blocker: sort by
  key, compare only within a sliding rank window, Levenshtein verify.
- ``graph_influence_cascade`` — deterministic independent-cascade spread
  from the top-degree seed, 3 unrolled activation rounds.
- ``eval_mcnemar``          — McNemar's paired test between two
  deterministic classifiers on the same rows (discordant-pair counts).
- ``io_snapshot_vacuum``    — snapshot lifecycle: publish v1, v2 + a
  current pointer, VACUUM v1, prove current still reads v2 exactly.
- ``curation_span_corruption`` — BERT-style deterministic 15% token
  masking over documents, masked text reassembled in order.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.operators.quantiles import cumulate, ranged_rank_cumsum
from nocouncil_etl_spark.plans.graph_plans import _EDGES_SQL, _graph
from nocouncil_etl_spark.registry import query

# --------------------------------------------------------------------------
# 1. Max interval concurrency
# --------------------------------------------------------------------------


@query(
    "agg_max_concurrency",
    oracle="""
WITH iv AS (
  SELECT least(CAST(o.o_orderdate AS DATE), s.first_ship) AS lo,
         greatest(CAST(o.o_orderdate AS DATE), s.first_ship) + 1 AS hi
  FROM orders o
  JOIN (SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
        FROM lineitem GROUP BY 1) s
    ON o.o_orderkey = s.l_orderkey
),
bounds AS (
  SELECT lo AS d, CAST(1 AS BIGINT) AS delta FROM iv
  UNION ALL
  SELECT hi, -1 FROM iv
),
byd AS (
  SELECT d, CAST(sum(delta) AS BIGINT) AS delta FROM bounds GROUP BY d
),
sweep AS (
  SELECT d, CAST(sum(delta) OVER (ORDER BY d) AS BIGINT) AS open
  FROM byd
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM iv) AS n_intervals,
       CAST(max(open) AS BIGINT) AS max_concurrent,
       min(CASE WHEN open = (SELECT max(open) FROM sweep) THEN d END)
         AS peak_date,
       CAST(count(*) AS BIGINT) AS n_boundary_dates
FROM sweep
""",
)
def agg_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum simultaneous open order→ship intervals (the capacity
    question every pool/scheduler asks) via the classic boundary sweep:
    +1 at each interval's start, −1 at its (exclusive) end, prefix-sum
    over the date axis — the running total IS the concurrency, its max
    the peak load, the first argmax date the peak moment. Intervals are
    date-normalized with least/greatest (the synthetic ship dates are
    uncorrelated with order dates). All integer.

    Scale shape: boundaries collapse map-side to the distinct-date table
    (calendar-bounded, ~2.5k dates) before the one bounded prefix
    window — 100 TB of intervals still sweeps the same few thousand
    boundary rows."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    iv = orders.join(ship, orders.o_orderkey == ship.l_orderkey).select(
        F.least(F.to_date("o_orderdate"), F.col("first_ship")).alias("lo"),
        F.date_add(
            F.greatest(F.to_date("o_orderdate"), F.col("first_ship")), 1
        ).alias("hi"),
    )
    n_intervals = iv.count()
    bounds = iv.select(F.col("lo").alias("d"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.col("hi").alias("d"), F.lit(-1).alias("delta"))
    )
    byd = bounds.groupBy("d").agg(F.sum("delta").cast("long").alias("delta"))
    # r7: the sweep's running sum via Fenwick prefix sums over the day
    # index — no global window over the boundary stream
    sweep = cumulate(
        byd.withColumn(
            "dd", F.datediff("d", F.lit("1970-01-01").cast("date")).cast("long")
        ),
        "dd",
        ("delta",),
    ).select("d", F.col("cum_delta").cast("long").alias("open"))
    mx = sweep.agg(F.max("open").alias("mx"))
    return sweep.crossJoin(F.broadcast(mx)).agg(
        F.lit(n_intervals).cast("long").alias("n_intervals"),
        F.max("open").cast("long").alias("max_concurrent"),
        F.min(F.when(F.col("open") == F.col("mx"), F.col("d"))).alias(
            "peak_date"
        ),
        F.count("*").cast("long").alias("n_boundary_dates"),
    )


# --------------------------------------------------------------------------
# 2. Sorted-neighborhood dedup blocking
# --------------------------------------------------------------------------

SNM_W = 3
SNM_MAX_DIST = 8


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
WITH ranked AS (
  SELECT p_partkey, p_name, p_brand,
         CAST(row_number() OVER (ORDER BY p_name, p_partkey) AS BIGINT)
           AS rk
  FROM part
),
offs AS (SELECT unnest(range(1, {SNM_W + 1})) AS o),
cand AS (
  SELECT a.p_partkey AS k1, b.p_partkey AS k2,
         a.p_brand = b.p_brand AS same_brand,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
  FROM ranked a
  JOIN offs ON true
  JOIN ranked b ON b.rk = a.rk + offs.o
)
SELECT CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN same_brand AND dist <= {SNM_MAX_DIST}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
       CAST(sum(CASE WHEN same_brand AND dist <= {SNM_MAX_DIST}
                     THEN dist ELSE 0 END) AS BIGINT) AS match_dist_total,
       CAST(min(dist) AS BIGINT) AS min_dist
FROM cand
""",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernández & Stolfo 1995), the
    third blocking strategy in the dedup family beside LSH bands and
    two-pass fuzzy blocking: sort entities by the blocking key (part
    name), then compare ONLY pairs within a sliding window of
    {SNM_W} ranks — O(n·w) candidates instead of O(n²) — and verify
    with same-brand + Levenshtein ≤ {SNM_MAX_DIST}. Both engines run
    the identical Wagner-Fischer edit distance (parity established by
    the fuzzy-blocking family).

    Scale shape (r7): the blocking rank rides the range-partitioned
    two-phase scan — a DISTRIBUTED range sort, no single-task window at
    any catalog size — and the neighborhood join is rank-equi with a
    {SNM_W}-row offset fan-out — no inequality join, no quadratic
    blowup."""
    p = load(spark, sf_dir, "part")
    # r7: the blocking-key rank via the range-partitioned two-phase scan
    # (ASCII key, so driver-side offset ordering matches Spark's binary
    # string order) — the sort is still the algorithm, but it is now a
    # DISTRIBUTED range sort, never a single-partition window
    ranked = ranged_rank_cumsum(
        p.select("p_partkey", "p_name", "p_brand"),
        "p_name",
        "p_partkey",
        rank_col="rk",
    )
    offs = spark.range(1, SNM_W + 1).select(F.col("id").alias("o"))
    a = ranked.select(
        F.col("p_partkey").alias("k1"),
        F.col("p_name").alias("n1"),
        F.col("p_brand").alias("b1"),
        "rk",
    )
    b = ranked.select(
        F.col("p_partkey").alias("k2"),
        F.col("p_name").alias("n2"),
        F.col("p_brand").alias("b2"),
        F.col("rk").alias("rk2"),
    )
    cand = (
        a.crossJoin(F.broadcast(offs))
        .withColumn("rk2", F.col("rk") + F.col("o"))
        .join(b, "rk2")
        .select(
            "k1",
            "k2",
            (F.col("b1") == F.col("b2")).alias("same_brand"),
            F.levenshtein("n1", "n2").cast("long").alias("dist"),
        )
    )
    is_match = F.col("same_brand") & (F.col("dist") <= SNM_MAX_DIST)
    return cand.agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum(F.when(is_match, 1).otherwise(0)).cast("long").alias("n_matches"),
        F.sum(F.when(is_match, F.col("dist")).otherwise(0))
        .cast("long")
        .alias("match_dist_total"),
        F.min("dist").cast("long").alias("min_dist"),
    )


# --------------------------------------------------------------------------
# 3. Independent-cascade influence spread
# --------------------------------------------------------------------------

IC_PROB_PCT = 40
IC_ROUNDS = 3


def _ic_oracle() -> str:
    coin = (
        "CAST(('0x' || substring(md5('ic#' || CAST(src AS VARCHAR) || '#'"
        " || CAST(dst AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
        f" < {IC_PROB_PCT}"
    )
    parts = [
        f"WITH {_EDGES_SQL}",
        f"""live AS (
  SELECT DISTINCT src, dst FROM edges0 WHERE src <> dst AND {coin}
)""",
        """degic AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT DISTINCT src, dst FROM edges0 WHERE src <> dst)
  GROUP BY 1
)""",
        """seed AS (
  SELECT node FROM degic ORDER BY d DESC, node LIMIT 1
)""",
        "act0 AS (SELECT node FROM seed)",
        "front0 AS (SELECT node FROM seed)",
    ]
    for i in range(1, IC_ROUNDS + 1):
        parts.append(
            f"""new{i} AS (
  SELECT DISTINCT l.dst AS node
  FROM front{i - 1} f JOIN live l ON l.src = f.node
  WHERE l.dst NOT IN (SELECT node FROM act{i - 1})
)"""
        )
        parts.append(
            f"act{i} AS (SELECT node FROM act{i - 1}"
            f" UNION SELECT node FROM new{i})"
        )
        parts.append(f"front{i} AS (SELECT node FROM new{i})")
    selects = " UNION ALL ".join(
        f"SELECT {i} AS round, CAST(count(*) AS BIGINT) AS n_new FROM new{i}"
        for i in range(1, IC_ROUNDS + 1)
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT round, n_new,
       (SELECT CAST(count(*) AS BIGINT) FROM act{IC_ROUNDS}) AS total_activated
FROM ({selects})
"""
    )


@query("graph_influence_cascade", oracle=_ic_oracle())
def graph_influence_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independent-cascade influence spread (Kempe, Kleinberg & Tardos
    2003) from the top-out-degree seed: every edge is pre-flipped live
    with probability {IC_PROB_PCT}% by a deterministic md5 coin (the
    standard 'live-edge graph' formulation — a cascade equals BFS over
    live edges), and activation expands for {IC_ROUNDS} rounds; emitted
    per round: newly activated count, plus the final reach. Exact set
    algebra, no randomness at run time.

    Scale shape: each round is one equi-join frontier→live-edges plus an
    anti-join against the activated set — the BFS shape graph_bfs_layers
    already scales; the coin flip is map-side arithmetic. Reference
    parity: 'if we seed this domain, how far does a crawl ripple?' over
    ingest.py's link graph."""
    nodes, edges, n = _graph(spark, sf_dir)
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    coin = (
        hash60(F.concat(
            F.lit("ic#"),
            F.col("src").cast("string"),
            F.lit("#"),
            F.col("dst").cast("string"),
        ))
        % 100
        < IC_PROB_PCT
    )
    live = e.filter(coin).localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    seed = (
        deg.orderBy(F.desc("d"), "src").limit(1).select(F.col("src").alias("node"))
    )
    act = seed
    front = seed
    out = []
    total = None
    for i in range(1, IC_ROUNDS + 1):
        new = (
            front.join(live, front.node == live.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(act, "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        out.append((i, new.count()))
        act = act.unionByName(new).distinct().localCheckpoint(eager=True)
        front = new
    total = act.count()
    return spark.createDataFrame(
        [(r, c, total) for r, c in out],
        "round BIGINT, n_new BIGINT, total_activated BIGINT",
    )


# --------------------------------------------------------------------------
# 4. McNemar's paired test
# --------------------------------------------------------------------------


@query(
    "eval_mcnemar",
    oracle="""
WITH mu AS (
  SELECT CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           // count(*) AS m
  FROM events
),
urate AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) * 5 > count(*) AS b_pred
  FROM events GROUP BY user_id
),
preds AS (
  SELECT CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END AS y,
         CASE WHEN CAST(round(e.value * 100) AS BIGINT) > mu.m
              THEN 1 ELSE 0 END AS a,
         CASE WHEN u.b_pred THEN 1 ELSE 0 END AS b
  FROM events e JOIN urate u ON e.user_id = u.user_id, mu
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END) AS BIGINT)
         AS b_only_wrong,
       CAST(sum(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END) AS BIGINT)
         AS a_only_wrong,
       round(CAST((sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                   - sum(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END))
                  * (sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                     - sum(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END))
                  AS DOUBLE)
             / (sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                + sum(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)), 6)
         AS mcnemar_chi2
FROM preds
""",
)
def eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired predictions — the CORRECT way to compare
    two classifiers evaluated on the SAME rows (plain accuracy deltas
    ignore the pairing): only the discordant pairs matter, chi2 =
    (b−c)²/(b+c) where b/c count rows exactly one model gets right.
    Model A thresholds the row value at the global integer mean; model B
    flags users whose historical error share exceeds 1/5. Exact counts,
    one final ratio.

    Scale shape: one per-user agg + one broadcast-joined scan; the test
    itself is a 4-cell contingency reduce."""
    ev = load(spark, sf_dir, "events")
    mu = ev.agg(
        F.expr(
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
            " div count(*)"
        ).alias("m")
    )
    urate = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)) * 5
            > F.count("*")
        ).alias("b_pred")
    )
    preds = (
        ev.crossJoin(F.broadcast(mu))
        .join(urate, "user_id")
        .select(
            F.when(F.col("event_type") == "error", 1).otherwise(0).alias("y"),
            F.when(
                F.round(F.col("value") * 100).cast("long") > F.col("m"), 1
            )
            .otherwise(0)
            .alias("a"),
            F.when(F.col("b_pred"), 1).otherwise(0).alias("b"),
        )
    )
    b_cnt = F.sum(
        F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1).otherwise(0)
    ).cast("long")
    c_cnt = F.sum(
        F.when((F.col("a") != F.col("y")) & (F.col("b") == F.col("y")), 1).otherwise(0)
    ).cast("long")
    return preds.agg(
        F.count("*").cast("long").alias("n"),
        b_cnt.alias("b_only_wrong"),
        c_cnt.alias("a_only_wrong"),
        F.round(
            ((b_cnt - c_cnt) * (b_cnt - c_cnt)).cast("double") / (b_cnt + c_cnt),
            6,
        ).alias("mcnemar_chi2"),
    )


# --------------------------------------------------------------------------
# 5. Snapshot vacuum
# --------------------------------------------------------------------------


@query(
    "io_snapshot_vacuum",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN event_type = 'purchase'
                     THEN 3 * CAST(round(value * 100) AS BIGINT)
                     ELSE CAST(round(value * 100) AS BIGINT) END)
            AS BIGINT) AS cents
FROM events GROUP BY event_type
""",
)
def io_snapshot_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot lifecycle with retention: publish snapshot v1 (raw feed),
    publish v2 (purchase cents tripled — the day-2 restatement), flip
    the `current` pointer file to v2, then VACUUM — physically delete
    the v1 directory — and prove a reader following the pointer still
    gets exactly v2 (hash-checked against the restated oracle; the test
    additionally asserts v1 is gone from disk and v2 files untouched).
    This is the time-travel/retention contract every table format ships:
    readers never dereference removed snapshots, and vacuum reclaims
    them without touching live data.

    Scale shape: vacuum is a metadata + delete operation — zero data
    read; the pointer flip is atomic (write-new-then-rename)."""
    ev = load(spark, sf_dir, "events")
    base = os.path.join(
        tempfile.gettempdir(),
        "nocouncil_etl_spark_scratch",
        f"vacuum_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    sel = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    sel.write.mode("overwrite").parquet(v1)
    sel.withColumn(
        "cents",
        F.when(F.col("event_type") == "purchase", 3 * F.col("cents")).otherwise(
            F.col("cents")
        ),
    ).write.mode("overwrite").parquet(v2)
    ptr, tmp = os.path.join(base, "CURRENT"), os.path.join(base, "CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write("v2")
    os.replace(tmp, ptr)  # atomic pointer flip
    # VACUUM: v1 is no longer referenced by CURRENT — reclaim it
    with open(ptr) as f:
        current = f.read().strip()
    for d in ("v1", "v2"):
        if d != current and os.path.isdir(os.path.join(base, d)):
            shutil.rmtree(os.path.join(base, d))
    return (
        spark.read.parquet(os.path.join(base, current))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


# --------------------------------------------------------------------------
# 6. Deterministic token masking (masked-LM corruption)
# --------------------------------------------------------------------------

MASK_PCT = 15
MASK_TOKEN = "[MASK]"


@query(
    "curation_span_corruption",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
masked AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         list_transform(range(1, len(w) + 1),
           i -> CASE WHEN CAST(('0x' || substring(md5('mask#'
                       || CAST(doc_id AS VARCHAR) || '#'
                       || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 100
                       < {MASK_PCT}
                     THEN '{MASK_TOKEN}' ELSE w[CAST(i AS INTEGER)] END) AS mw
  FROM toks
)
SELECT doc_id, n_tokens,
       CAST(len(list_filter(mw, t -> t = '{MASK_TOKEN}')) AS BIGINT)
         AS n_masked,
       array_to_string(mw, ' ') AS masked_text
FROM masked
""",
)
def curation_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked-LM training-data corruption (the BERT recipe, deterministic
    twin): each token position is masked independently with probability
    {MASK_PCT}% by an md5 coin keyed on (doc, position), and the masked
    text is reassembled IN ORDER — both engines rebuild the exact same
    string, so the corrupted corpus itself (not just its stats) is
    hash-checked. Emits per-doc token and mask counts beside the text.
    The masking rate is position-keyed, so re-running the pipeline
    yields byte-identical training data — the reproducibility property
    curation pipelines need for ablations.

    Scale shape: pure map-side array transform — no shuffle at all; the
    whole corruption pass is one embarrassingly parallel scan (this is
    the op you run over 100 TB nightly)."""
    docs = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    toks = fan_out(docs).select("doc_id", w.alias("w"))
    masked = toks.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.transform(
            F.sequence(F.lit(1), F.size("w")),
            lambda i: F.when(
                hash60(F.concat(
                    F.lit("mask#"),
                    F.col("doc_id").cast("string"),
                    F.lit("#"),
                    i.cast("string"),
                ))
                % 100
                < MASK_PCT,
                F.lit(MASK_TOKEN),
            ).otherwise(F.element_at("w", i)),
        ).alias("mw"),
    )
    return masked.select(
        "doc_id",
        "n_tokens",
        F.size(F.filter("mw", lambda t: t == MASK_TOKEN))
        .cast("long")
        .alias("n_masked"),
        F.array_join("mw", " ").alias("masked_text"),
    )
