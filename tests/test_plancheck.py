"""plancheck.walk_plan visits every node of an executed plan exactly once."""

from __future__ import annotations

import pytest

from nocouncil_etl_spark.plancheck import _children, walk_plan
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _distinct_nodes(spark, plan) -> set[int]:
    """Identity hashes of every node reachable from plan; each proxy stays
    alive until the walk ends, so no Python id is ever reused."""
    ident = spark._jvm.java.lang.System.identityHashCode
    seen: dict[int, object] = {}
    stack = [plan]
    while stack:
        node = stack.pop()
        h = ident(node)
        if h not in seen:
            seen[h] = node
            stack.extend(_children(node))
    return set(seen)


@pytest.mark.parametrize("name", ["pipeline_retrieval_e2e", "text_bm25_search"])
def test_walk_visits_each_distinct_node_once(spark, sf_dir, name):
    df = REG[name].fn(spark, sf_dir)
    try:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()
        ident = spark._jvm.java.lang.System.identityHashCode
        # keep only the hash, as a lint does: each proxy is freed once visited
        walked = [ident(node) for node in walk_plan(plan)]
        assert len(walked) == len(set(walked))
        assert set(walked) == _distinct_nodes(spark, plan)
    finally:
        spark.catalog.clearCache()
