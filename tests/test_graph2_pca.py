"""Semantic invariants for weighted SSSP and the PCA power iteration."""

from __future__ import annotations

import numpy as np

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.plans.graph2 import SEED_MOD, SSSP_ROUNDS, W_A, W_B, W_MOD
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def _python_graph(spark, sf_dir):
    n = load(spark, sf_dir, "documents").count()
    edges = set()
    for v in range(n):
        edges.add((v, (v * 31 + 7) % n))
        if v % 11 != 0:
            edges.add((v, (v * 17 + 3) % n))
        if v % 3 == 0:
            edges.add((v, (v * 13 + 5) % n))
    return n, {(s, d) for s, d in edges if s != d}


def test_sssp_matches_python_bellman_ford(spark, sf_dir):
    n, edges = _python_graph(spark, sf_dir)
    INF = float("inf")
    dist = {v: (0 if v % SEED_MOD == 0 else INF) for v in range(n)}
    for _ in range(SSSP_ROUNDS):
        nd = dict(dist)
        for s, d in edges:
            if dist[s] != INF:
                w = (s * W_A + d * W_B) % W_MOD + 1
                nd[d] = min(nd[d], dist[s] + w)
        dist = nd
    expect: dict[int, int] = {}
    for v, dv in dist.items():
        k = -1 if dv == INF else int(dv)
        expect[k] = expect.get(k, 0) + 1
    got = {r.dist: r.n_nodes for r in _run("graph_sssp_weighted", spark, sf_dir).collect()}
    assert got == expect


def test_sssp_weighted_at_least_bfs_hops(spark, sf_dir):
    """A weighted distance is ≥ the hop count (weights ≥ 1): the minimum
    positive weighted distance cannot be below 1, and seeds are exact 0."""
    rows = _run("graph_sssp_weighted", spark, sf_dir).collect()
    dists = sorted(r.dist for r in rows)
    assert 0 in dists, "seed layer must exist"
    assert all(d >= 1 for d in dists if d not in (0, -1))
    by = {r.dist: r for r in rows}
    assert by[0].sample_node % SEED_MOD == 0


def test_pca_finds_dominant_direction(spark, sf_dir):
    from nocouncil_etl_spark.plans.pca_plans import D, VSCALE

    out = _run("vec_pca_power", spark, sf_dir).collect()
    assert len(out) == D
    v = np.array([r.loading for r in sorted(out, key=lambda r: r.dim)], dtype=float)
    assert np.abs(v).max() <= VSCALE, "normalized fixed-point scale"
    assert v[0] >= 0, "sign convention: dim-1 loading non-negative"
    lam = out[0].lambda_est
    assert lam > 0
    # compare against numpy's exact dominant eigenvector of the same
    # quantized scatter matrix
    emb = load(spark, sf_dir, "embeddings").select("embedding").collect()
    X = np.array([e.embedding[:D] for e in emb], dtype=np.float64)
    Xq = np.round(X * 1000)
    S = Xq.T @ Xq * len(Xq) - np.outer(Xq.sum(0), Xq.sum(0))
    wvals, wvecs = np.linalg.eigh(S)
    top = wvecs[:, np.argmax(wvals)]
    cos = abs(np.dot(top, v) / (np.linalg.norm(top) * np.linalg.norm(v)))
    # the synthetic embeddings are near-isotropic (λ2/λ1 ≈ 0.96 — same flat
    # spectrum SCALE.md documents for ANN recall), so convergence is the
    # slow regime; 24 iterations reach ~0.995 here
    assert cos > 0.98, f"power iteration should align with eigh, cos={cos}"
    assert abs(lam - wvals.max() / len(Xq)) / (wvals.max() / len(Xq)) < 0.05
