"""operators/celling.subcell_over_cap — the over-cap strategy switch for
the quadratic-WORK pair kernels (round-10 verdict #4).

Contract under test:
- blocks at/under the cap get the constant cell 0 → the caller's group key
  degenerates to the block key and results stay EXACT (so the DuckDB
  oracles remain valid at every test/bench scale);
- blocks over the cap split into multiple deterministic sign-LSH sub-cells
  whose union is the block; identical vectors always share a cell (exact
  duplicates are never lost to celling);
- the two wired kernels (vec_knn_graph_mutual, cluster_pair_scan via
  dedup_semantic_centroid) still produce well-formed results when the cap
  is forced tiny — and for the pair scan, a SUBSET of the exact pairs with
  identical sims (celling can only remove candidate pairs, never invent
  or re-score them).
"""

from __future__ import annotations

import random

import pytest

from nocouncil_etl_spark.operators.celling import SIG_BITS, subcell_over_cap
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _vecs(spark, n, dim=16, label=1, seed=7, dups=()):
    rnd = random.Random(seed)
    rows = [
        (label, 1000 + i, [rnd.uniform(-1, 1) for _ in range(dim)])
        for i in range(n)
    ]
    for dup_id, src_idx in dups:
        rows.append((label, dup_id, list(rows[src_idx][2])))
    return spark.createDataFrame(rows, "label int, vec_id long, v array<double>")


def test_under_cap_cell_is_constant_zero(spark):
    df = _vecs(spark, 40)
    out = subcell_over_cap(df, ["label"], "v", cap=40)
    cells = {r._cell for r in out.collect()}
    assert cells == {0}
    assert out.count() == 40  # no rows lost or duplicated by the size window


def test_over_cap_splits_block_and_partitions_it(spark):
    df = _vecs(spark, 300)
    out = subcell_over_cap(df, ["label"], "v", cap=64).collect()
    cells: dict[int, list[int]] = {}
    for r in out:
        cells.setdefault(r._cell, []).append(r.vec_id)
    assert len(cells) > 1  # actually split
    assert sorted(v for ids in cells.values() for v in ids) == sorted(
        1000 + i for i in range(300)
    )  # a partition of the block: nothing lost, nothing duplicated
    # bits = ceil(log2(300/64)) + 1 = 4 → at most 16 cells
    assert len(cells) <= 16
    assert all(0 <= c < 16 for c in cells)


def test_exact_duplicates_always_share_a_cell(spark):
    df = _vecs(spark, 300, dups=[(9001, 10), (9002, 250)])
    got = {
        r.vec_id: r._cell
        for r in subcell_over_cap(df, ["label"], "v", cap=64).collect()
    }
    assert got[9001] == got[1010]
    assert got[9002] == got[1250]


def test_cells_are_deterministic_across_invocations(spark):
    df = _vecs(spark, 200)
    a = {r.vec_id: r._cell for r in subcell_over_cap(df, ["label"], "v", 32).collect()}
    b = {r.vec_id: r._cell for r in subcell_over_cap(df, ["label"], "v", 32).collect()}
    assert a == b


def test_bits_capped_by_signature_budget(spark):
    """A block absurdly larger than cap·2^SIG_BITS still yields valid cell
    ids in [0, 2^SIG_BITS) — the bits formula saturates instead of
    overflowing pow()."""
    df = _vecs(spark, 64)
    out = subcell_over_cap(df, ["label"], "v", cap=1).collect()
    assert all(0 <= r._cell < (1 << SIG_BITS) for r in out)


def test_cap_must_be_positive(spark):
    with pytest.raises(ValueError):
        subcell_over_cap(_vecs(spark, 4), ["label"], "v", cap=0)


def test_mutual_knn_over_cap_takes_celled_path(spark, sf_dir, monkeypatch):
    """Forcing KNNG_BLOCK_CAP below every label block routes the whole
    corpus through sub-cells: the graph must stay well-formed (u<v, unique,
    mutual-degree ≤ K), and any edge the celled run shares with the exact
    run must carry the identical integer score — celling changes the
    CANDIDATE set, never the scoring."""
    import nocouncil_etl_spark.plans.breadth43 as b43

    fn = REG["vec_knn_graph_mutual"].fn
    exact = {(r.u, r.v): r.score_1e6 for r in fn(spark, sf_dir).collect()}
    monkeypatch.setattr(b43, "KNNG_BLOCK_CAP", 8)
    celled = [(r.u, r.v, r.score_1e6) for r in fn(spark, sf_dir).collect()]
    assert celled  # 2+-row cells always produce mutual pairs
    seen = set()
    deg: dict[int, int] = {}
    for u, v, s in celled:
        assert u < v and (u, v) not in seen
        seen.add((u, v))
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
        if (u, v) in exact:
            assert exact[(u, v)] == s
    assert max(deg.values()) <= b43.KNNG_K


def test_cluster_pair_scan_over_cap_is_subset_with_equal_sims(
    spark, sf_dir, monkeypatch
):
    """Forcing PAIR_BLOCK_CAP tiny on the SemDeDup query: the celled pair
    set must be a SUBSET of the exact pair set with identical sims — the
    pair scan emits every in-group pair ≥ threshold, so restricting groups
    can only drop pairs (documented recall), never add or re-score."""
    import nocouncil_etl_spark.operators.semantic as semantic

    fn = REG["dedup_semantic_centroid"].fn
    exact = {
        (r.cluster_id, r.id_keep, r.id_dup): r.sim
        for r in fn(spark, sf_dir).collect()
    }
    assert exact  # non-vacuous: the plan plants near-dup pairs
    monkeypatch.setattr(semantic, "PAIR_BLOCK_CAP", 2)
    celled = {
        (r.cluster_id, r.id_keep, r.id_dup): r.sim
        for r in fn(spark, sf_dir).collect()
    }
    assert set(celled) <= set(exact)
    for k, sim in celled.items():
        assert sim == exact[k]


def test_vec_neardup_over_cap_is_subset_with_equal_sims(
    spark, sf_dir, monkeypatch
):
    """Same subset-with-equal-sims contract for the third pair kernel
    (vec_neardup_cosine routes through semantic.PAIR_BLOCK_CAP)."""
    import nocouncil_etl_spark.operators.semantic as semantic

    fn = REG["vec_neardup_cosine"].fn
    exact = {(r.id_a, r.id_b): r.sim for r in fn(spark, sf_dir).collect()}
    assert exact  # the plan plants +0.1-perturbed twins, so pairs exist
    monkeypatch.setattr(semantic, "PAIR_BLOCK_CAP", 16)
    celled = {(r.id_a, r.id_b): r.sim for r in fn(spark, sf_dir).collect()}
    assert set(celled) <= set(exact)
    for k, sim in celled.items():
        assert sim == exact[k]
