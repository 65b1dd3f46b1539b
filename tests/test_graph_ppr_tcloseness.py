"""Round-6 analytics additions: personalized PageRank locality, t-closeness
flag semantics."""

from __future__ import annotations

from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_ppr_concentrates_mass_near_seeds(spark, sf_dir):
    from nocouncil_etl_spark.plans.graph3 import PPR_SEED_MOD, PPR_TOPK

    rows = REG["graph_ppr_seeded"].fn(spark, sf_dir).collect()
    assert len(rows) == PPR_TOPK
    # ranks are dense and ordered
    assert [r.rk for r in rows] == list(range(1, PPR_TOPK + 1))
    # the restart mass keeps seeds (or their direct neighborhoods) on top:
    # seeds must be over-represented vs their 1/PPR_SEED_MOD base rate
    n_seed_top = sum(1 for r in rows if r.is_seed)
    assert n_seed_top * PPR_SEED_MOD > PPR_TOPK
    # every score positive, and some non-seed discovery appears in top-k
    assert all(r.rank_1e9 > 0 for r in rows)


def test_ppr_differs_from_uniform_pagerank(spark, sf_dir):
    ppr = {r.node for r in REG["graph_ppr_seeded"].fn(spark, sf_dir).collect()}
    pr = {r.node for r in REG["graph_pagerank_topk"].fn(spark, sf_dir).collect()}
    assert ppr != pr  # personalization actually changes the ranking


def test_t_closeness_flags_match_ratio(spark, sf_dir):
    from nocouncil_etl_spark.plans.privacy_plans import TC_FLAG_1E6

    rows = REG["privacy_t_closeness"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.t_1e6 <= 1_000_000  # EMD normalized into [0, 1]
        assert r.denom > 0
        assert r.flagged == (r.t_1e6 > TC_FLAG_1E6)
    # per-group EMD numerator of the GLOBAL distribution vs itself is 0 —
    # sanity: a group equal to the whole table would score 0; real groups
    # score small but nonzero on the synthetic mix
    assert any(r.emd_num > 0 for r in rows)
