"""Semantic invariants for breadth-9 (record linkage, calibration,
attribution)."""

from __future__ import annotations

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.plans.breadth9 import (
    BP,
    DIRTY_MOD,
    DIRTY_OFFSET,
    FS_MATCH,
)
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def test_linkage_finds_every_planted_duplicate(spark, sf_dir):
    rows = _run("join_record_linkage_fs", spark, sf_dir).collect()
    assert rows
    planted = {
        r.c_custkey
        for r in load(spark, sf_dir, "customer").select("c_custkey").collect()
        if r.c_custkey % DIRTY_MOD == 0
    }
    got_matches = {
        (r.id_a, r.id_b) for r in rows if r.cls == "match"
    }
    for k in planted:
        assert (k, k + DIRTY_OFFSET) in got_matches, f"planted dup {k} missed"
    # every emitted match clears the threshold; classes are consistent
    for r in rows:
        assert (r.score >= FS_MATCH) == (r.cls == "match")
    # precision: matches should be overwhelmingly the planted pairs
    extra = [p for p in got_matches if (p[1] - p[0]) != DIRTY_OFFSET]
    assert len(extra) <= max(2, len(planted) // 10), f"too many false matches: {extra[:5]}"


def test_calibration_bins_are_monotone_in_positive_rate(spark, sf_dir):
    rows = sorted(_run("eval_calibration_bins", spark, sf_dir).collect(), key=lambda r: r.bin)
    assert rows
    briers = {r.brier for r in rows}
    assert len(briers) == 1, "Brier is global"
    assert 0.0 < briers.pop() < 0.25, "the blended score must beat random (0.25)"
    # construction: p < 1/3 → pure negatives, p ≥ 2/3 → pure positives
    for r in rows:
        if r.bin <= 2:
            assert r.frac_pos == 0.0
        if r.bin >= 7:
            assert r.frac_pos == 1.0
        assert 0.0 <= r.mean_pred <= 1.0


def test_attribution_credit_conservation(spark, sf_dir):
    rows = _run("attribution_position_based", spark, sf_dir).collect()
    assert rows
    assert {r.event_type for r in rows} <= {"view", "click"}
    total_bp = sum(r.credit_bp for r in rows)
    # every touched conversion distributes ≤ BP (truncating middle split)
    # and ≥ BP - (n-2) truncation loss; count touched conversions exactly
    from pyspark.sql import functions as FF

    ev = load(spark, sf_dir, "events")
    conv = ev.filter("event_type = 'purchase'").select(
        FF.col("event_id").alias("conv_id"), "user_id", FF.col("ts").alias("cts")
    )
    touch = ev.filter("event_type IN ('view','click')").select(
        "user_id", FF.col("ts").alias("tts")
    )
    touched = (
        conv.join(touch, "user_id")
        .filter("tts < cts AND tts >= cts - INTERVAL 1 DAY")
        .select("conv_id")
        .distinct()
        .count()
    )
    assert touched * BP * 0.98 <= total_bp <= touched * BP
