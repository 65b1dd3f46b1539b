"""Batch 42: betweenness, doubly robust, decay, skew, RVQ, MASE."""

from __future__ import annotations

import collections

from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_betweenness_matches_python_brandes(spark, sf_dir):
    from nocouncil_etl_spark.plans.graph_plans import _graph

    rows = sorted(
        REG["graph_betweenness_sampled"].fn(spark, sf_dir).collect(),
        key=lambda r: r.rk,
    )
    assert rows
    _, edges, _ = _graph(spark, sf_dir)
    e = {
        (r.src, r.dst)
        for r in edges.select("src", "dst").distinct().collect()
        if r.src != r.dst
    }
    adj = collections.defaultdict(set)
    for s_, d_ in e:
        adj[s_].add(d_)
        adj[d_].add(s_)
    seed = min(adj)
    # forward BFS with sigma, capped at 6 layers (the kernel's contract)
    dist = {seed: 0}
    sigma = {seed: 1}
    layers = [[seed]]
    for l in range(1, 7):
        nxt = {}
        for u in layers[-1]:
            for v in adj[u]:
                if v in dist:
                    continue
                nxt.setdefault(v, 0)
                nxt[v] += sigma[u]
        for v in nxt:
            dist[v] = l
            sigma[v] = nxt[v]
        layers.append(sorted(nxt))
        if not nxt:
            break
    while len(layers) < 7:
        layers.append([])
    delta = {v: 0 for v in dist}
    for l in range(5, -1, -1):
        for u in layers[l]:
            acc = 0
            for v in adj[u]:
                if dist.get(v) == l + 1:
                    acc += (sigma[u] * (1000000 + delta[v])) // sigma[v]
            delta[u] = acc
    expect = sorted(
        ((v, d) for v, d in delta.items() if d > 0 and dist[v] >= 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    got = [(r.v, r.bc_1e6) for r in rows]
    assert got == expect


def test_doubly_robust_combines_components(spark, sf_dir):
    row = REG["eval_doubly_robust_value"].fn(spark, sf_dir).collect()[0]
    assert row.n > 0
    assert row.dr_value_milli == row.dm_value_milli + row.ips_corr_milli
    assert row.dm_value_milli > 0


def test_time_decay_less_than_raw(spark, sf_dir):
    rows = REG["agg_time_decay_totals"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.decayed_cents < r.raw_cents


def test_partition_skew_report_consistent(spark, sf_dir):
    row = REG["dq_partition_skew"].fn(spark, sf_dir).collect()[0]
    assert row.n_keys > 0
    assert row.p50_count <= row.p99_count <= row.top_count
    assert row.skew_ratio_1e3 >= 1000
    assert 0 < row.max_share_1e6 <= 1000000
    # verify against a recompute of the heaviest key
    counts = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .count()
        .collect()
    )
    top = max(counts, key=lambda r: (r["count"], -r.user_id))
    assert row.top_count == top["count"]


def test_rvq_sse_strictly_decreasing(spark, sf_dir):
    row = REG["vec_rq_two_stage"].fn(spark, sf_dir).collect()[0]
    assert row.sse_stage0 > row.sse_stage1 > row.sse_stage2 >= 0
    assert row.ratio1_1e3 < 1000
    assert row.ratio2_1e3 < row.ratio1_1e3


def test_mase_positive_and_scaled(spark, sf_dir):
    rows = REG["eval_forecast_mase"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.mase_1e6 > 0
        # the weekday baseline should not be catastrophically worse than naive
        assert r.mase_1e6 < 5000000
