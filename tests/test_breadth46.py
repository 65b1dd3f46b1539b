"""Breadth batch 46: seasonal strength, MA crossover, WAP gate,
price-volume-mix, CDC chunks, ABC/XYZ."""

from __future__ import annotations

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.plans.breadth46 import CDC_TOP, MA_SLOW
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_seasonal_strength_is_a_bounded_fraction(spark, sf_dir):
    rows = REG["ts_seasonal_strength"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.f_seasonal_ppm <= 1_000_000
        assert 0 <= r.f_trend_ppm <= 1_000_000


def test_ma_crossover_alternates_and_respects_warmup(spark, sf_dir):
    rows = REG["window_ma_crossover"].fn(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        assert r.direction in (1, -1)
        assert r.off >= MA_SLOW - 1  # no signal before the slow window fills
        by_type.setdefault(r.event_type, []).append(r)
    for evs in by_type.values():
        evs.sort(key=lambda r: r.off)
        for a, b in zip(evs, evs[1:]):
            assert a.direction != b.direction  # crossings alternate


def test_wap_publishes_only_the_passing_snapshot(spark, sf_dir):
    rows = REG["io_write_audit_publish"].fn(spark, sf_dir).collect()
    assert rows
    n_src = load(spark, sf_dir, "events").count()
    assert rows[0].audit_a_pass == 1
    assert rows[0].audit_b_pass == 0
    # the published table reconciles with the source — the partial
    # snapshot (half the rows) never leaked
    assert sum(r.n for r in rows) == n_src


def test_pvm_bridge_decomposes_the_delta_exactly(spark, sf_dir):
    rows = REG["agg_price_volume_mix"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            r.price_eff_cents + r.volume_eff_cents + r.residual_cents
            == r.delta_cents
        )
        # residual is floor-rounding remainder, small next to revenue
        assert abs(r.residual_cents) <= max(abs(r.q1), abs(r.q2)) + 2000


def test_cdc_chunks_report_real_duplicates(spark, sf_dir):
    rows = REG["dedup_cdc_chunks"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= CDC_TOP
    for r in rows:
        assert r.n_occ >= 2
        assert r.n_docs >= 1
        assert r.n_occ >= r.n_docs
        assert r.n_words >= 1


def test_abc_xyz_partitions_all_parts(spark, sf_dir):
    rows = REG["agg_abc_xyz"].fn(spark, sf_dir).collect()
    li = load(spark, sf_dir, "lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    assert sum(r.n_parts for r in rows) == n_parts
    assert {r.abc for r in rows} <= {"A", "B", "C"}
    assert {r.xyz for r in rows} <= {"X", "Y", "Z"}
    # the A head captures at least as much revenue per part as the C tail
    rev = {g: (0, 0) for g in "ABC"}
    for r in rows:
        n, c = rev[r.abc]
        rev[r.abc] = (n + r.n_parts, c + r.rev_cents)
    if rev["A"][0] and rev["C"][0]:
        assert rev["A"][1] / rev["A"][0] > rev["C"][1] / rev["C"][0]
