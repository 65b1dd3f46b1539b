"""Breadth batch 23 + streaming heavy hitters semantics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nocouncil_etl_spark.plans.breadth23 import HAM_ID_LIMIT, _ham_rank_key
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_hamming_topk_well_formed_and_symmetric_zero(spark, sf_dir):
    out = REG["vec_knn_hamming_packed"].fn(spark, sf_dir).cache()
    rows = out.collect()
    assert rows
    for r in rows:
        assert 0 <= r.hamming <= 64
        assert r.q_id != r.c_id
    # per query: ranks dense, hamming non-decreasing with rank
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for lst in by_q.values():
        lst.sort(key=lambda r: r.rk)
        assert [r.rk for r in lst] == list(range(1, len(lst) + 1))
        hams = [r.hamming for r in lst]
        assert hams == sorted(hams)
    out.unpersist()


def test_shapley_efficiency_property(spark, sf_dir):
    """Σ_channels Shapley = v(full coalition) − v(∅) — the efficiency
    axiom, in the same ×6·1e6 integer units (v(∅)=0 by construction;
    tolerance ±3 for the three independent floor divisions)."""
    from nocouncil_etl_spark.io import load
    from nocouncil_etl_spark.plans.breadth23 import SHAP_FIRST_N
    from pyspark.sql import Window

    rows = {r.channel: r.shap_x6_1e6 for r in
            REG["attribution_shapley"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"view", "click", "signup"}

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    f = ev.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= SHAP_FIRST_N
    )
    u = f.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + 2 * F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            + 4 * F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        ).alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    v7 = (
        u.filter(F.col("mask") == 7)
        .agg(F.expr("CAST((sum(conv) * 1000000) div count(*) AS BIGINT)"))
        .first()[0]
        or 0
    )
    total = sum(rows.values())
    assert abs(total - 6 * v7) <= 18  # 6·(v(7)−v(0)), ±3 per channel's floors


def test_waterfill_respects_caps_and_budget(spark, sf_dir):
    from nocouncil_etl_spark.plans.breadth23 import MIX_BUDGET_PCT

    rows = REG["curation_mix_waterfill"].fn(spark, sf_dir).collect()
    assert rows
    total_avail = sum(r.avail_tok for r in rows)
    budget = (total_avail * MIX_BUDGET_PCT) // 100
    total_alloc = sum(r.alloc_tok for r in rows)
    for r in rows:
        assert 0 <= r.alloc_tok <= r.avail_tok
        assert r.saturated == (r.alloc_tok >= r.avail_tok) or r.alloc_tok < r.avail_tok
    assert total_alloc <= budget
    # water-filling converges close to the budget unless everything saturated
    if not all(r.saturated for r in rows):
        assert total_alloc * 100 >= budget * 95


def test_span_f1_planted_errors_move_both_metrics(spark, sf_dir):
    rows = REG["eval_span_f1"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.tp + r.fn >= 0 and r.tp + r.fp >= 0
        assert 0 <= r.p_1e6 <= 1_000_000 and 0 <= r.r_1e6 <= 1_000_000
        assert min(r.p_1e6, r.r_1e6) <= r.f1_1e6 <= max(r.p_1e6, r.r_1e6) or r.f1_1e6 == 0
    # the planted extractor makes BOTH error kinds occur corpus-wide
    assert any(r.fp > 0 for r in rows)
    assert any(r.fn > 0 for r in rows)


def test_stream_heavy_hitters_equals_batch(spark, sf_dir):
    got = REG["stream_topk_heavy_hitters"].fn(spark, sf_dir)
    from nocouncil_etl_spark.io import load
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("user_id")
    )
    want = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 5)
    )
    cols = ["event_type", "user_id", "n", "rk"]
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0


def test_hamming_rank_key_orders_by_hamming_then_id_in_range():
    c_ids = np.array([7, HAM_ID_LIMIT - 1, 0, 3], dtype=np.int64)
    h = np.array([[2], [1], [2], [64]], dtype=np.int64)
    key = _ham_rank_key(h, c_ids)
    assert list(np.argsort(key[:, 0])) == list(np.lexsort((c_ids, h[:, 0])))


def test_hamming_rank_key_rejects_out_of_range_ids():
    h = np.array([[1], [0]], dtype=np.int64)
    for bad in (HAM_ID_LIMIT, -1):
        with pytest.raises(ValueError, match="2\\^48"):
            _ham_rank_key(h, np.array([5, bad], dtype=np.int64))
