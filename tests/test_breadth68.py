"""Breadth batch 48: Fisher exact, ChiMerge, watermark lateness, CAGR,
Ulcer index, geohash codec."""

from __future__ import annotations

from nocouncil_etl_spark.plans.breadth68 import WM_JITTER_MOD
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_fisher_exact_p_is_a_probability(spark, sf_dir):
    r = REG["stat_fisher_exact"].fn(spark, sf_dir).first()
    assert r.a + r.b + r.c + r.d > 0
    assert 0 <= r.p_two_sided_micro <= 1_000_001
    assert r.odds_ratio_milli > 0


def test_chimerge_merges_reduce_bins(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    rows = sorted(
        REG["ml_chimerge_binning"].fn(spark, sf_dir).collect(),
        key=lambda r: r.bin_ord,
    )
    assert rows
    total = load(spark, sf_dir, "customer").count()
    assert sum(r.n for r in rows) == total
    # bins are contiguous, ordered ranges
    for a, b in zip(rows, rows[1:]):
        assert a.band_hi < b.band_lo


def test_watermark_lateness_bounded_by_jitter(spark, sf_dir):
    from nocouncil_etl_spark.io import load
    from pyspark.sql import functions as F

    r = REG["dq_watermark_lateness"].fn(spark, sf_dir).first()
    assert r.n_events > 0
    gap_ms = int(
        load(spark, sf_dir, "events")
        .agg(
            F.expr(
                "(unix_micros(max(ts)) - unix_micros(min(ts)))"
                " div count(*) div 1000"
            ).alias("g")
        )
        .first()
        .g
    )
    # lateness can never exceed the max injected jitter
    assert 0 <= r.max_late_ms <= (WM_JITTER_MOD - 1) * (gap_ms + 1)
    assert 0 <= r.mean_late_ms <= r.max_late_ms
    assert r.n_inversions > 0  # the jitter genuinely shuffles arrivals


def test_cagr_consistent_with_endpoints(spark, sf_dir):
    rows = REG["agg_cagr_revenue"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.cagr_micro is None:
            continue
        if r.last_year_cents > r.first_year_cents:
            assert r.cagr_micro > 0
        elif r.last_year_cents < r.first_year_cents:
            assert r.cagr_micro < 0


def test_ulcer_bounded_by_max_drawdown(spark, sf_dir):
    r = REG["window_ulcer_index"].fn(spark, sf_dir).first()
    assert r.n_months > 0
    assert 0 <= r.ulcer_index <= r.max_drawdown


def test_geohash_roundtrips_everywhere(spark, sf_dir):
    r = REG["geo_geohash_codec"].fn(spark, sf_dir).first()
    assert r.n_roundtrip_ok == r.n
    assert r.n_distinct_cells <= r.n
    assert len(r.min_hash) == 6 and len(r.max_hash) == 6
