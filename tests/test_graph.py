"""Invariants for the graph batch (operators/graph.py, plans/graph_plans.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nocouncil_etl_spark.plans.graph_plans import PR_ITERS, _graph
from nocouncil_etl_spark.operators.graph import SCALE, pagerank_fixed_point
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_pagerank_mass_is_bounded_and_positive(spark, sf_dir):
    nodes, edges, n = _graph(spark, sf_dir)
    ranks = pagerank_fixed_point(nodes, edges, n, PR_ITERS)
    agg = ranks.agg(
        F.sum("r").alias("mass"), F.min("r").alias("lo"), F.count("*").alias("cnt")
    ).collect()[0]
    assert agg.cnt == n
    assert agg.lo > 0  # the (1-d)/N teleport floor keeps every node positive
    # total mass ≤ 1.0: floor division + dangling drop only ever lose mass
    assert agg.mass <= SCALE
    # ...but not degenerately much (the graph is 2-regular, few danglers)
    assert agg.mass > SCALE * 0.5
    ranks.unpersist()


def test_pagerank_iterations_move_the_ranking(spark, sf_dir):
    nodes, edges, n = _graph(spark, sf_dir)
    r1 = pagerank_fixed_point(nodes, edges, n, 1)
    r8 = pagerank_fixed_point(nodes, edges, n, PR_ITERS)
    diff = (
        r1.select("node", F.col("r").alias("r1"))
        .join(r8.select("node", F.col("r").alias("r8")), "node")
        .filter(F.col("r1") != F.col("r8"))
        .count()
    )
    assert diff > 0  # not a fixed point after one step
    r1.unpersist(); r8.unpersist()


def test_degree_hist_accounts_for_every_edge(spark, sf_dir):
    nodes, edges, n = _graph(spark, sf_dir)
    hist = REG["graph_degree_hist"].fn(spark, sf_dir)
    total_from_hist = hist.agg(
        F.sum(F.col("in_deg") * F.col("n_nodes")).alias("s")
    ).collect()[0].s
    assert total_from_hist == edges.count()


def test_triangle_count_is_stable(spark, sf_dir):
    a = REG["graph_triangle_count"].fn(spark, sf_dir).collect()[0].n_triangles
    b = REG["graph_triangle_count"].fn(spark, sf_dir).collect()[0].n_triangles
    assert a == b
    assert a >= 0


def test_engine_pagerank_matches_catalog_ranks(spark, sf_dir):
    from nocouncil_etl_spark.api import Engine

    _, edges, _ = _graph(spark, sf_dir)
    links = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    ranks = Engine(spark).pagerank(links, src="a", dst="b", iters=PR_ITERS)
    got = sorted((-r.r, r.node) for r in ranks.collect())
    ranks.unpersist()
    top = REG["graph_pagerank_topk"].fn(spark, sf_dir).collect()
    assert [(r.node, r.rank_1e9) for r in top] == [(n, -r) for r, n in got[: len(top)]]
