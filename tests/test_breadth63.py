"""Breadth batch 43: Hilbert skip, soft dedup, Snowflake codec, Apdex,
Oaxaca-Blinder, Markov entropy rate."""

from __future__ import annotations

from nocouncil_etl_spark.plans.breadth63 import _curve_rows, HB_N
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_hilbert_lookup_is_a_bijection():
    rows = _curve_rows()
    assert len(rows) == HB_N * HB_N
    assert len({h for _, _, h, _ in rows}) == HB_N * HB_N
    assert len({m for _, _, _, m in rows}) == HB_N * HB_N
    # adjacency: consecutive Hilbert indices are grid neighbors
    by_d = {h: (x, y) for x, y, h, _ in rows}
    for d in range(HB_N * HB_N - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_fewer_or_equal_runs(spark, sf_dir):
    rows = {r.curve: r for r in REG["layout_hilbert_skip"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"hilbert", "morton"}
    h, m = rows["hilbert"], rows["morton"]
    assert h.n_points == m.n_points > 0
    assert h.n_runs >= 1 and m.n_runs >= 1


def test_soft_dedup_effective_bounds(spark, sf_dir):
    rows = REG["curation_soft_dedup_weights"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.effective_docs_micro <= r.n_docs * 1_000_000
        assert r.effective_tokens_micro <= r.tokens * 1_000_000
        assert 0 <= r.n_in_dup_clusters <= r.n_docs


def test_snowflake_roundtrip_and_uniqueness(spark, sf_dir):
    r = REG["fn_snowflake_id_codec"].fn(spark, sf_dir).first()
    assert r.n_roundtrip_ok == r.n
    assert r.n_distinct_ids == r.n  # globally unique
    assert r.max_seq < 4096


def test_apdex_bounded(spark, sf_dir):
    rows = REG["agg_apdex_score"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.apdex_milli <= 1000
        assert r.n_satisfied + r.n_tolerating <= r.n


def test_oaxaca_decomposition_parts_finite(spark, sf_dir):
    r = REG["agg_oaxaca_blinder"].fn(spark, sf_dir).first()
    assert r.n_group_a > 0 and r.n_group_b > 0
    # two-fold decomposition closes up to cent rounding of three terms
    assert abs(r.gap_cents - (r.explained_cents + r.unexplained_cents)) <= 2


def test_entropy_rate_bounds(spark, sf_dir):
    import math

    r = REG["ts_markov_entropy_rate"].fn(spark, sf_dir).first()
    assert r.n_transitions > 0
    # bounded by ln(#states) (uniform chain)
    assert 0 <= r.entropy_rate_micro <= int(1e6 * math.log(r.n_states)) + 1
