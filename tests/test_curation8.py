"""Curation batch 8 semantics: triplet roles, curriculum monotonicity,
padding-waste arithmetic, survivorship majority, bigram-vs-unigram LM."""

from __future__ import annotations

from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_hard_negatives_roles_and_ordering(spark, sf_dir):
    out = REG["sample_hard_negatives"].fn(spark, sf_dir).cache()
    rows = out.collect()
    assert rows
    by_anchor: dict[int, dict[str, list]] = {}
    for r in rows:
        assert r.cand_id != r.anchor_id
        by_anchor.setdefault(r.anchor_id, {}).setdefault(r.role, []).append(r)
    from nocouncil_etl_spark.plans.curation8 import N_EASY, N_HARD

    for roles in by_anchor.values():
        assert len(roles.get("positive", [])) <= 1
        assert len(roles.get("hard_neg", [])) <= N_HARD
        assert len(roles.get("easy_neg", [])) <= N_EASY
        if "positive" in roles and "hard_neg" in roles:
            pos_sim = roles["positive"][0].sim
            for h in roles["hard_neg"]:
                assert h.sim <= pos_sim  # positive is the in-bucket argmax
    out.unpersist()


def test_curriculum_stages_partition_by_threshold(spark, sf_dir):
    from nocouncil_etl_spark.plans.curation8 import CURR_T1, CURR_T2, CURR_T3

    rows = REG["curation_curriculum_order"].fn(spark, sf_dir).collect()
    assert rows
    seen_orders: dict[int, set] = {}
    for r in rows:
        if r.stage == 1:
            assert r.difficulty_1e6 <= CURR_T1
        elif r.stage == 2:
            assert CURR_T1 < r.difficulty_1e6 <= CURR_T2
        elif r.stage == 3:
            assert CURR_T2 < r.difficulty_1e6 <= CURR_T3
        else:
            assert r.difficulty_1e6 > CURR_T3
        seen_orders.setdefault(r.stage, set()).add(r.stage_order)
    for stage, orders in seen_orders.items():
        assert orders == set(range(1, len(orders) + 1))  # dense feed order


def test_length_buckets_waste_beats_single_cap(spark, sf_dir):
    rows = REG["pack_length_buckets"].fn(spark, sf_dir).collect()
    bucketed = [r for r in rows if r.strategy == "bucketed"]
    single = [r for r in rows if r.strategy == "single"]
    assert bucketed and len(single) == 1
    for r in rows:
        assert r.waste_tok == r.padded_tok - r.sum_tok >= 0
    total_bucketed_waste = sum(r.waste_tok for r in bucketed)
    assert total_bucketed_waste < single[0].waste_tok


def test_golden_record_restores_original_fields(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    golden = {
        r.cluster_id: r for r in REG["dedup_golden_record"].fn(spark, sf_dir).collect()
    }
    base = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    for b in base.limit(50).collect():
        g = golden[b.doc_id]
        # majority voting across {original, lang-lost copy, mirror} restores
        # the original values
        assert g.lang == b.lang
        assert g.source == b.source
        assert g.n_chars == b.n_chars
        assert g.n_recs == 3


def test_bigram_lm_scores_are_positive_and_flagging_consistent(spark, sf_dir):
    from nocouncil_etl_spark.plans.curation8 import PPL2_FLAG_MICRO

    rows = REG["model_bigram_lm_ppl"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_bigrams > 0
        assert r.avg_nll_micro > 0
        assert r.flagged == (r.avg_nll_micro > PPL2_FLAG_MICRO)
