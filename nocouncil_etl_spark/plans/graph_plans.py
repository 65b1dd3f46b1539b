"""Graph analytics over a deterministic link graph (operators/graph.py).

The graph: every document links to (doc_id·31+7) mod N; docs with id % 11 ≠ 0
also link to (doc_id·17+3) mod N, and docs with id % 3 == 0 to
(doc_id·13+5) mod N (self-loops dropped) — a deterministic IRREGULAR graph
both engines construct identically from the documents table, standing in for
a citation/URL link graph. (Using only the two affine maps makes the graph
2-regular — both maps are bijections mod N — and PageRank then fixes at the
uniform vector after one step; the degree-varying rules give it a real
stationary structure.) Three operators:

- ``graph_pagerank_topk``  — 8 synchronous fixed-point PageRank iterations;
  the oracle unrolls one CTE per iteration over the same integer arithmetic,
  so an ITERATIVE distributed algorithm gets an exact value-hash check.
- ``graph_triangle_count`` — triangle enumeration on the canonical
  undirected edge set (a < b < c join chain).
- ``graph_degree_hist``    — in-degree histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.operators.graph import (
    SCALE,
    pagerank_fixed_point,
    with_out_degree,
)
from nocouncil_etl_spark.registry import query

PR_ITERS = 8
TOPK = 20

_EDGES_SQL = """
nodes AS (SELECT doc_id AS node FROM documents),
meta AS (SELECT count(*) AS n FROM nodes),
edges_raw AS (
  SELECT node AS src, (node * 31 + 7) % (SELECT n FROM meta) AS dst FROM nodes
  UNION
  SELECT node, (node * 17 + 3) % (SELECT n FROM meta) FROM nodes WHERE node % 11 <> 0
  UNION
  SELECT node, (node * 13 + 5) % (SELECT n FROM meta) FROM nodes WHERE node % 3 = 0
),
edges0 AS (SELECT DISTINCT src, dst FROM edges_raw WHERE src <> dst),
deg AS (SELECT src, count(*) AS d FROM edges0 GROUP BY src),
edges AS (SELECT e.src, e.dst, g.d FROM edges0 e JOIN deg g ON e.src = g.src)
"""


def _pr_oracle() -> str:
    cte = [f"WITH {_EDGES_SQL},"]
    cte.append(
        f"pr0 AS (SELECT node, {SCALE}::BIGINT // (SELECT n FROM meta) AS r FROM nodes)"
    )
    for k in range(PR_ITERS):
        cte.append(f""",
agg{k} AS (
  SELECT e.dst AS node, CAST(sum(p.r // e.d) AS BIGINT) AS c
  FROM edges e JOIN pr{k} p ON e.src = p.node GROUP BY e.dst
),
pr{k + 1} AS (
  SELECT n.node,
         (15::BIGINT * {SCALE}) // (100 * (SELECT n FROM meta))
           + (85 * coalesce(a.c, 0)) // 100 AS r
  FROM nodes n LEFT JOIN agg{k} a ON n.node = a.node
)""")
    cte.append(f"""
SELECT node, rank_1e9, rk FROM (
  SELECT node, r AS rank_1e9,
         CAST(row_number() OVER (ORDER BY r DESC, node) AS INT) AS rk
  FROM pr{PR_ITERS}
) WHERE rk <= {TOPK}""")
    return "".join(cte)


def _graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, int]:
    docs = load(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("node"))
    n = nodes.count()  # one scalar to the driver — the graph's N, not data
    e1 = nodes.select("node", ((F.col("node") * 31 + 7) % n).alias("dst"))
    e2 = nodes.filter(F.col("node") % 11 != 0).select(
        "node", ((F.col("node") * 17 + 3) % n).alias("dst")
    )
    e3 = nodes.filter(F.col("node") % 3 == 0).select(
        "node", ((F.col("node") * 13 + 5) % n).alias("dst")
    )
    edges0 = (
        e1.unionByName(e2)
        .unionByName(e3)
        .filter(F.col("node") != F.col("dst"))
        .distinct()
        .select(F.col("node").alias("src"), "dst")
    )
    return nodes, with_out_degree(edges0), n


@query("graph_pagerank_topk", oracle=_pr_oracle())
def graph_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank over the deterministic link graph after 8 fixed-point
    iterations (operators/graph.pagerank_fixed_point). The oracle replays
    the identical integer recurrence as 8 unrolled CTEs — an exact check of
    a genuinely iterative distributed computation."""
    nodes, edges, n = _graph(spark, sf_dir)
    ranks = pagerank_fixed_point(nodes, edges, n, PR_ITERS)
    top = (
        ranks.select(
            "node",
            F.col("r").alias("rank_1e9"),
            F.row_number()
            .over(Window.orderBy(F.desc("r"), F.asc("node")))
            .cast("int")
            .alias("rk"),
        )
        .filter(F.col("rk") <= TOPK)
    )
    return top


@query(
    "graph_triangle_count",
    oracle=f"""
WITH {_EDGES_SQL},
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges0
)
SELECT count(*) AS n_triangles
FROM und e1
JOIN und e2 ON e2.a = e1.b
JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the canonical undirected edge set: orienting every
    edge low→high and chaining a<b<c joins counts each triangle exactly
    once with no explosion beyond the wedge set.

    Scale shape: two equi-joins on node keys; the wedge join (e1.b = e2.a)
    is the classic bottleneck and is bounded by Σ deg² — fine on sparse
    graphs, and the canonical orientation halves the wedge count vs the
    naive symmetric form."""
    _, edges, _ = _graph(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        ).distinct()
    )
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y")
    tri = wedges.join(e3, ["x", "z"])
    return tri.agg(F.count("*").alias("n_triangles"))


@query(
    "graph_degree_hist",
    oracle=f"""
WITH {_EDGES_SQL},
ind AS (SELECT dst, count(*) AS in_deg FROM edges0 GROUP BY dst)
SELECT in_deg, count(*) AS n_nodes
FROM ind GROUP BY in_deg
""",
)
def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram of the link graph — the degree-distribution
    sanity check run before any iterative algorithm (skew here predicts
    shuffle skew there). Two cheap keyed aggs."""
    nodes, edges, _ = _graph(spark, sf_dir)
    ind = edges.groupBy("dst").agg(F.count("*").alias("in_deg"))
    return ind.groupBy("in_deg").agg(F.count("*").alias("n_nodes"))


@query(
    "graph_jaccard_link_pred",
    oracle=f"""
WITH {_EDGES_SQL},
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges0
),
nbr AS (SELECT a AS node, b AS nb FROM und UNION SELECT b, a FROM und),
ndeg AS (SELECT node, count(*) AS d FROM nbr GROUP BY node),
wedge AS (
  SELECT x.node AS u, y.node AS v, count(*) AS common
  FROM nbr x JOIN nbr y ON x.nb = y.nb AND x.node < y.node
  GROUP BY x.node, y.node
),
linked AS (SELECT a, b FROM und)
SELECT w.u, w.v, w.common,
       round(CAST(w.common AS DOUBLE)
             / (du.d + dv.d - w.common), 6) AS jaccard
FROM wedge w
JOIN ndeg du ON du.node = w.u
JOIN ndeg dv ON dv.node = w.v
LEFT JOIN linked l ON l.a = w.u AND l.b = w.v
WHERE l.a IS NULL AND w.common >= 2
""",
)
def graph_jaccard_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard: for NON-adjacent node pairs
    sharing ≥2 neighbors, score |N(u)∩N(v)| / |N(u)∪N(v)| — the classic
    citation/recommendation candidate generator. Candidates come only from
    the wedge join (pairs with a common neighbor), so the pair space is
    bounded by Σ deg², never node² — the same discipline as the triangle
    count; the adjacency anti-join removes already-linked pairs.

    Scale shape: one wedge equi-join + map-side-combined pair counts +
    two degree joins + one anti-join. Integer counts; one rounded ratio."""
    _, edges, _ = _graph(spark, sf_dir)
    und = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    nbr = und.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    ).distinct()
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    x = nbr.select(F.col("node").alias("u"), "nb")
    y = nbr.select(F.col("node").alias("v"), "nb")
    wedge = (
        x.join(y, "nb")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 2)
    )
    linked = und.select(F.col("a").alias("u"), F.col("b").alias("v"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    return (
        wedge.join(linked, ["u", "v"], "left_anti")
        .join(du, "u")
        .join(dv, "v")
        .select(
            "u", "v", "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


KCORE_K = 3
KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    cte = [f"WITH {_EDGES_SQL},"]
    cte.append("""
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges0
),
sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
surv0 AS (SELECT DISTINCT a AS node FROM sym)""")
    for t in range(KCORE_ROUNDS):
        cte.append(f""",
deg{t} AS (
  SELECT s.a AS node, count(*) AS d
  FROM sym s
  JOIN surv{t} x ON x.node = s.a
  JOIN surv{t} y ON y.node = s.b
  GROUP BY s.a
),
surv{t + 1} AS (SELECT node FROM deg{t} WHERE d >= {KCORE_K})""")
    cte.append(f"""
SELECT node FROM surv{KCORE_ROUNDS}""")
    return "".join(cte)


@query("graph_kcore_members", oracle=_kcore_oracle())
def graph_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling ({KCORE_K}-core, {KCORE_ROUNDS} synchronous rounds):
    repeatedly drop nodes whose degree within the SURVIVING subgraph falls
    below k — the dense-core extractor behind spam-cluster and community-
    nucleus detection (a node's raw degree lies; its core degree can only
    be computed iteratively). Each round is one membership semi-join pair
    + a degree agg, and integer membership makes every round bit-identical
    — so the oracle unrolls one CTE block per round, the PageRank/BFS
    technique applied to subgraph peeling.

    Scale shape: per round, two semi-joins on node keys + one
    map-side-combined count; state is one row per surviving node."""
    _, edges, _ = _graph(spark, sf_dir)
    und = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    surv = sym.select(F.col("a").alias("node")).distinct()
    for _ in range(KCORE_ROUNDS):
        alive = (
            sym.join(surv.withColumnRenamed("node", "a"), "a")
            .join(
                surv.select(F.col("node").alias("b")), "b"
            )
        )
        deg = alive.groupBy(F.col("a").alias("node")).agg(
            F.count(F.lit(1)).alias("d")
        )
        surv = deg.filter(F.col("d") >= KCORE_K).select("node")
    return surv
