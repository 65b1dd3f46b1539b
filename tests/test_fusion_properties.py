"""Property tests for the rank-fusion / diversification kernels
(operators/fusion.py) — invariants that hold on ANY input, the
test_kernel_properties discipline applied to the retrieval layer."""

from __future__ import annotations

from nocouncil_etl_spark.operators.fusion import mmr_greedy, rrf_fuse


def _mk_list(spark, rows):
    return spark.createDataFrame(rows, "id long, rank long")


def test_rrf_rank_monotonicity_within_single_list(spark):
    """With one list, RRF must preserve its order exactly (1/(k0+rank) is
    strictly decreasing in rank)."""
    lst = _mk_list(spark, [(i, i) for i in range(1, 11)])
    out = rrf_fuse({"only": lst}, "id", k0=60, top=10).collect()
    by_score = sorted(out, key=lambda r: -r["rrf"])
    assert [r["id"] for r in by_score] == list(range(1, 11))


def test_rrf_two_list_agreement_dominates(spark):
    """A doc ranked r in BOTH lists must outscore any doc ranked r in only
    one list (the agreement-rewarding property RRF is chosen for)."""
    a = _mk_list(spark, [(1, 3), (2, 5)])
    b = _mk_list(spark, [(1, 3), (3, 3)])
    out = {r["id"]: r["rrf"] for r in rrf_fuse(
        {"a": a, "b": b}, "id", k0=60, top=10
    ).collect()}
    assert out[1] > out[3] and out[1] > out[2]


def test_mmr_first_pick_is_max_relevance_and_no_duplicates(spark):
    """Slot 1 is always the max-relevance candidate; picks never repeat;
    exactly k rows come back with pick_rank 1..k."""
    cand = spark.createDataFrame(
        [(i, 1.0 - i * 0.05) for i in range(10)], "vec_id long, rel double"
    )
    sims = spark.createDataFrame(
        [
            (i, j, 0.9 if (i // 2 == j // 2) else 0.1)
            for i in range(10)
            for j in range(10)
            if i != j
        ],
        "ia long, ib long, s double",
    )
    out = mmr_greedy(cand, sims, k=4, lam=0.7).collect()
    assert sorted(r["pick_rank"] for r in out) == [1, 2, 3, 4]
    ids = [r["vec_id"] for r in sorted(out, key=lambda r: r["pick_rank"])]
    assert ids[0] == 0  # max rel
    assert len(set(ids)) == 4
    # diversification: candidate 1 is near-duplicate of 0 (sim .9) while 2
    # is dissimilar — slot 2 must skip 1 and take 2
    assert ids[1] == 2


def test_mmr_lambda_one_reduces_to_pure_relevance(spark):
    """λ=1 ignores similarity entirely → picks are the top-k by rel."""
    cand = spark.createDataFrame(
        [(i, 1.0 - i * 0.01) for i in range(8)], "vec_id long, rel double"
    )
    sims = spark.createDataFrame(
        [(i, j, 0.99) for i in range(8) for j in range(8) if i != j],
        "ia long, ib long, s double",
    )
    out = mmr_greedy(cand, sims, k=3, lam=1.0).collect()
    ids = [r["vec_id"] for r in sorted(out, key=lambda r: r["pick_rank"])]
    assert ids == [0, 1, 2]
