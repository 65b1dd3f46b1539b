"""Breadth batch 26 (round 6): Borůvka minimum-spanning-forest rounds.

``graph_mst_boruvka``: the distributed-MST classic — every component picks
its minimum-weight outgoing edge simultaneously, picked edges merge
components, repeat. Two unrolled rounds over the deterministic doc graph
with unique md5-derived integer weights (unique weights ⇒ the picks are a
function of the graph, so both engines select identical edges). Components
between rounds come from the SAME min-label connected-components semantics
the dedup clustering uses, replayed in the oracle as recursive CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.plans.graph_plans import _EDGES_SQL, _graph
from nocouncil_etl_spark.registry import query

MST_ROUNDS = 2

# 40-bit weights: unique enough for deterministic picks (ties break on
# (w, a, b) anyway) and Σw stays far inside BIGINT at any corpus size
# (15-hex 60-bit weights overflowed sum(w) at 500 forest edges)
_W_SQL = (
    "CAST(('0x' || substring(md5(CAST(a AS VARCHAR) || '#' || CAST(b AS VARCHAR)),"
    " 1, 10)) AS BIGINT)"
)


def _cc_sql(forest: str, out: str) -> str:
    """Min-label connected components over ``forest(a, b)`` as a recursive
    CTE block emitting ``{out}(node, comp)`` — the dedup_cluster_components
    oracle shape."""
    return f"""
{out}_sym AS (
  SELECT a, b FROM {forest} UNION SELECT b, a FROM {forest}
),
{out}_reach AS (
  SELECT a AS node, a AS r FROM {out}_sym
  UNION
  SELECT s.b AS node, {out}_reach.r
  FROM {out}_reach JOIN {out}_sym s ON s.a = {out}_reach.node
),
{out} AS MATERIALIZED (
  SELECT node, min(r) AS comp FROM {out}_reach GROUP BY node
)"""


def _mst_oracle() -> str:
    pick = """
cand{r} AS (
  SELECT comp, a, b, w,
         row_number() OVER (PARTITION BY comp ORDER BY w, a, b) AS rn
  FROM (
    SELECT ca.comp, u.a, u.b, u.w
    FROM und u JOIN {labels} ca ON ca.node = u.a
    JOIN {labels} cb ON cb.node = u.b
    WHERE ca.comp <> cb.comp
    UNION ALL
    SELECT cb.comp, u.a, u.b, u.w
    FROM und u JOIN {labels} ca ON ca.node = u.a
    JOIN {labels} cb ON cb.node = u.b
    WHERE ca.comp <> cb.comp
  )
),
pick{r} AS MATERIALIZED (
  SELECT DISTINCT a, b, w FROM cand{r} WHERE rn = 1
)"""
    # round 1: every node is its own component
    parts = [f"""
WITH RECURSIVE {_EDGES_SQL},
und AS MATERIALIZED (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b, {_W_SQL} AS w
  FROM edges0 GROUP BY 1, 2
),
lab0 AS MATERIALIZED (SELECT node, node AS comp FROM nodes),
{pick.format(r=1, labels="lab0")},
forest1 AS MATERIALIZED (SELECT a, b, w FROM pick1),
{_cc_sql("forest1", "cc1")},
lab1 AS MATERIALIZED (
  SELECT n.node, coalesce(c.comp, n.node) AS comp
  FROM nodes n LEFT JOIN cc1 c ON n.node = c.node
),
{pick.format(r=2, labels="lab1")},
forest2 AS MATERIALIZED (
  SELECT a, b, w FROM forest1 UNION SELECT a, b, w FROM pick2
),
{_cc_sql("forest2", "cc2")},
lab2 AS MATERIALIZED (
  SELECT n.node, coalesce(c.comp, n.node) AS comp
  FROM nodes n LEFT JOIN cc2 c ON n.node = c.node
)
SELECT 1 AS round,
       (SELECT CAST(count(*) AS BIGINT) FROM forest1) AS n_forest_edges,
       (SELECT CAST(count(DISTINCT comp) AS BIGINT) FROM lab1) AS n_components,
       (SELECT CAST(sum(w) AS BIGINT) FROM forest1) AS forest_w
UNION ALL
SELECT 2,
       (SELECT CAST(count(*) AS BIGINT) FROM forest2),
       (SELECT CAST(count(DISTINCT comp) AS BIGINT) FROM lab2),
       (SELECT CAST(sum(w) AS BIGINT) FROM forest2)
"""]
    return "".join(parts)


@query("graph_mst_boruvka", oracle=_mst_oracle())
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum-spanning-forest, {MST_ROUNDS} unrolled rounds: each
    component picks its minimum-weight outgoing edge (weights = unique
    md5-derived 60-bit integers, so the MST is unique and the picks are
    engine-independent), picked edges join the forest, components re-label
    by min-label connected components (operators/dedup.connected_components
    — the dedup clustering operator reused as graph infrastructure), and
    the next round runs on the contracted structure. Output per round:
    forest size, component count (including untouched singletons), total
    forest weight. Borůvka at least halves the component count per round —
    asserted in tests — which is WHY it is the distributed-MST algorithm:
    O(log n) rounds of embarrassingly parallel per-component mins, no
    priority queue (Prim) or global sort (Kruskal) anywhere.

    Scale shape: per round one labels⋈edges equi-join, one per-component
    window min (partitioned), one CC fix-point over the forest (tiny:
    forest edges ≤ nodes); the weight hash is computed once in codegen."""
    from nocouncil_etl_spark.operators.dedup import connected_components

    nodes, edges, _ = _graph(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .withColumn(
            "w",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("a").cast("string"),
                            F.lit("#"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    10,
                ),
                16,
                10,
            ).cast("long"),
        )
        .localCheckpoint(eager=False)
    )
    labels = nodes.select("node", F.col("node").alias("comp"))
    forest = None
    out_rows = []
    n_nodes_total = None
    for r in range(1, MST_ROUNDS + 1):
        la = labels.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
        lb = labels.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
        xe = (
            und.join(la, "a")
            .join(lb, "b")
            .filter(F.col("ca") != F.col("cb"))
        )
        cand = xe.select(F.col("ca").alias("comp"), "a", "b", "w").unionByName(
            xe.select(F.col("cb").alias("comp"), "a", "b", "w")
        )
        wnd = Window.partitionBy("comp").orderBy("w", "a", "b")
        picked = (
            cand.withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") == 1)
            .select("a", "b", "w")
            .distinct()
        )
        forest = (
            picked if forest is None else forest.unionByName(picked).distinct()
        )
        forest = forest.localCheckpoint(eager=True)
        # spanning forests are chain-shaped (diameter ~ component size),
        # unlike near-dup cliques — give the min-label fixpoint headroom
        cc = connected_components(forest, src="a", dst="b", max_iters=100)
        labels = (
            nodes.join(cc, nodes.node == cc.node, "left")
            .select(
                nodes.node,
                F.coalesce(cc.comp, nodes.node).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        cc.unpersist()
        stats = forest.agg(
            F.count(F.lit(1)).cast("long").alias("ne"),
            F.sum("w").cast("long").alias("fw"),
        ).first()
        ncomp = labels.select("comp").distinct().count()
        out_rows.append((r, int(stats["ne"]), int(ncomp), int(stats["fw"])))
    return spark.createDataFrame(
        out_rows,
        "round int, n_forest_edges long, n_components long, forest_w long",
    )
