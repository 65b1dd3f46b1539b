"""Breadth batch 14: graph walk corpus, streaming CDC apply, ridge
regression.

- ``graph_random_walks`` — DeepWalk/node2vec-style walk corpus over the
  deterministic link graph: from every node, a 4-step walk whose step-t
  transition picks out-edge rank md5(node, t) % out-degree — "random"
  walks with portable pseudo-randomness, so the TRAINING CORPUS for
  graph embeddings is exactly reproducible on both engines. Walks
  stop early at sinks (inner join semantics), like the real sampler.
- ``stream_cdc_apply`` — change-data-capture apply as a REAL stream:
  the event feed is a keyed upsert stream; each foreachBatch merges the
  micro-batch into the keyed state with keep-latest semantics (the
  MERGE INTO of a lakehouse sink). Keep-latest under a total (ts,
  event_id) order is associative, so the final state provably equals
  the batch answer no matter how the stream was sliced — which is what
  the oracle checks.
- ``ml_ridge_closed_form`` — 2-feature ridge regression by normal
  equations: the 3×3 system (XᵀX + λdiag(0,1,1))β = Xᵀy solved by
  Cramer's rule over EXACT integer moments (one aggregation pass), the
  classic closed-form distributed trainer (agg_linear_regression's
  multi-feature, regularized big sibling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.plans.graph_plans import _EDGES_SQL, _graph
from nocouncil_etl_spark.registry import query
from nocouncil_etl_spark.streaming.windows import read_events_stream

WALK_LEN = 4

RIDGE_LAMBDA = 1000  # λ in squared-cents units


# --------------------------------------------------------------------------
# 1. Deterministic random walks
# --------------------------------------------------------------------------


def _walks_oracle() -> str:
    cte = [f"""WITH {_EDGES_SQL},
ranked AS (
  SELECT src, dst, d,
         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk
  FROM edges
),
w0 AS (SELECT node AS start, node AS cur FROM nodes)"""]
    for t in range(1, WALK_LEN + 1):
        cte.append(f""",
w{t} AS (
  SELECT w.start, r.dst AS cur
  FROM w{t - 1} w
  JOIN ranked r ON r.src = w.cur
   AND r.rnk = ('0x' || substring(md5('walk|' || CAST(w.cur AS VARCHAR)
                 || '|' || {t}), 1, 15))::BIGINT % r.d
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT start, CAST({t} AS INT) AS step, cur AS node FROM w{t}"
        for t in range(1, WALK_LEN + 1)
    )
    return "".join(cte) + "\n" + sel


@query("graph_random_walks", oracle=_walks_oracle())
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{WALK_LEN}-step deterministic "random" walks from every node of the
    link graph: step t moves along the current node's out-edge with rank
    md5('walk|node|t') %% out-degree (edges ranked by destination) — the
    DeepWalk corpus sampler with the portable hash as its RNG, so the
    emitted (start, step, node) corpus is bit-identical everywhere. Walks
    hitting a sink stop early.

    Scale shape: per step one equi-join of the walk frontier against the
    rank-indexed edge list (pre-partitionable on the node key, reused
    every step) — walk state is one row per active walk, never an
    adjacency list; {WALK_LEN} unrolled joins total."""
    nodes, edges, _ = _graph(spark, sf_dir)
    ranked = edges.select(
        "src",
        "dst",
        "d",
        (
            F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1
        ).alias("rnk"),
    )
    walks = None
    cur = nodes.select(F.col("node").alias("start"), F.col("node").alias("cur"))
    for t in range(1, WALK_LEN + 1):
        pick = (
            hash60(F.concat_ws(
                "|", F.lit("walk"), F.col("cur").cast("string"),
                F.lit(str(t)),
            ))
            % F.col("d")
        )
        step = (
            cur.join(ranked, cur["cur"] == ranked["src"])
            .filter(F.col("rnk") == pick)
            .select("start", F.col("dst").alias("cur"))
        )
        emitted = step.select(
            "start", F.lit(t).cast("int").alias("step"), F.col("cur").alias("node")
        )
        walks = emitted if walks is None else walks.unionByName(emitted)
        cur = step
    return walks


# --------------------------------------------------------------------------
# 2. Streaming CDC apply
# --------------------------------------------------------------------------


@query(
    "stream_cdc_apply",
    oracle="""
SELECT user_id, event_type, last_event_id, last_ts_us, last_value_cents
FROM (
  SELECT user_id, event_type,
         event_id AS last_event_id,
         epoch_us(ts) AS last_ts_us,
         CAST(round(value * 100) AS BIGINT) AS last_value_cents,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply as a real stream: the event feed is treated as a keyed
    upsert stream on (user, event_type); every foreachBatch micro-batch
    is merged into the keyed state with keep-latest (ts, event_id)
    semantics — the streaming MERGE INTO. Keep-latest under a total
    order is associative and commutative, so the drained state equals
    the batch keep-latest answer regardless of how the feed was sliced
    into micro-batches; that equivalence IS the oracle.

    Scale shape: state is one row per live key (the key dimension, not
    the stream); each merge is a union + keyed window on the key
    partitioning, persisted per batch with the previous state dropped —
    at 100 TB the state merge becomes a MERGE INTO a keyed table and the
    per-batch cost stays O(batch + touched keys)."""
    ev = read_events_stream(spark, sf_dir)
    keyed = ev.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.unix_micros("ts").alias("last_ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("last_value_cents"),
    )
    state = {"df": None}

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("last_ts_us"), F.desc("last_event_id")
    )

    def merge(batch: DataFrame, _epoch: int) -> None:
        prev = state["df"]
        merged = batch if prev is None else prev.unionByName(batch)
        nxt = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .persist()
        )
        nxt.count()  # materialize before dropping the previous state
        if prev is not None:
            prev.unpersist()
        state["df"] = nxt

    q = (
        keyed.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    final = state["df"]
    # Detach the returned frame from the stopped stream's lineage WITHOUT
    # materializing the keyed state on the driver: localCheckpoint pins the
    # blocks executor-side (the engine idiom, plans/breadth82.py). The state
    # dimension is (user, event_type) — exactly what must never be
    # collect()ed at 100 TB (r7/r8 verdicts).
    out = final.localCheckpoint(eager=True)
    final.unpersist()
    return out


# --------------------------------------------------------------------------
# 3. Ridge regression, closed form
# --------------------------------------------------------------------------

_RIDGE_MOMENTS_SQL = """
feat AS (
  SELECT c.c_custkey,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS x1,
         CAST(coalesce(o.n, 0) AS BIGINT) AS x2,
         CAST(coalesce(o.units, 0) AS BIGINT) AS y
  FROM customer c
  LEFT JOIN (
    SELECT o_custkey, count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) // 100
             AS units
    FROM orders GROUP BY o_custkey
  ) o ON c.c_custkey = o.o_custkey
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * y) AS BIGINT) AS s1y,
         CAST(sum(x2 * y) AS BIGINT) AS s2y
  FROM feat
)
"""


def _det3(
    a: str, b: str, c: str, d: str, e: str, f: str, g: str, h: str, i: str
) -> str:
    """Determinant of [[a,b,c],[d,e,f],[g,h,i]] — written once, spliced
    identically into both engines so the double arithmetic is the same
    expression tree."""
    return (
        f"({a}) * (({e}) * ({i}) - ({f}) * ({h}))"
        f" - ({b}) * (({d}) * ({i}) - ({f}) * ({g}))"
        f" + ({c}) * (({d}) * ({h}) - ({e}) * ({g}))"
    )


def _ridge_select() -> str:
    lam = RIDGE_LAMBDA
    # A = [[n, s1, s2], [s1, s11+λ, s12], [s2, s12, s22+λ]], b = (sy, s1y, s2y)
    A = [
        ["CAST(n AS DOUBLE)", "CAST(s1 AS DOUBLE)", "CAST(s2 AS DOUBLE)"],
        [
            "CAST(s1 AS DOUBLE)",
            f"CAST(s11 + {lam} AS DOUBLE)",
            "CAST(s12 AS DOUBLE)",
        ],
        [
            "CAST(s2 AS DOUBLE)",
            "CAST(s12 AS DOUBLE)",
            f"CAST(s22 + {lam} AS DOUBLE)",
        ],
    ]
    bv = ["CAST(sy AS DOUBLE)", "CAST(s1y AS DOUBLE)", "CAST(s2y AS DOUBLE)"]
    det = _det3(*A[0], *A[1], *A[2])

    def repl(col: int) -> str:
        M = [row[:] for row in A]
        for r in range(3):
            M[r][col] = bv[r]
        return _det3(*M[0], *M[1], *M[2])

    return (
        f"SELECT n, round(({repl(0)}) / ({det}), 6) AS beta0,"
        f" round(({repl(1)}) / ({det}), 6) AS beta1,"
        f" round(({repl(2)}) / ({det}), 6) AS beta2,"
        f" CAST({lam} AS BIGINT) AS lam FROM m"
    )


@query(
    "ml_ridge_closed_form",
    oracle=f"WITH {_RIDGE_MOMENTS_SQL.strip()}\n{_ridge_select()}",
)
def ml_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression (two features + intercept, slopes-only penalty
    λ={RIDGE_LAMBDA}) of customer lifetime value on account balance and
    order count, solved in closed form: one distributed pass collects the
    nine exact integer moments, Cramer's rule inverts the 3×3 regularized
    normal equations with the SAME double expression tree on both engines
    (round-6 coefficients). The multi-feature, regularized sibling of
    agg_linear_regression — the moments-only distributed trainer.

    Scale shape: one map-side-combined aggregation to nine BIGINTs; the
    solve is constant work on one row. Adding features grows the moment
    vector O(p²) but never adds passes."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_ord"),
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) div 100"
        )
        .cast("long")
        .alias("units"),
    )
    feat = c.join(per, c["c_custkey"] == per["o_custkey"], "left").select(
        F.round(F.col("c_acctbal") * 100).cast("long").alias("x1"),
        F.coalesce("n_ord", F.lit(0)).cast("long").alias("x2"),
        F.coalesce("units", F.lit(0)).cast("long").alias("y"),
    )
    m = feat.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
    )
    # splice the identical projection expressions over the one-row moment
    # frame, so both engines evaluate the same double expression tree
    sel = _ridge_select()
    body = sel[len("SELECT ") : sel.index(" FROM m")]
    exprs = []
    depth = 0
    start = 0
    for idx, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            exprs.append(body[start:idx].strip())
            start = idx + 1
    exprs.append(body[start:].strip())
    return m.selectExpr(*exprs)
