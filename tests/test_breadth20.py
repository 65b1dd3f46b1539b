"""Invariants for breadth batch 20 (decay fit, density/reciprocity)."""

from __future__ import annotations

from math import log

from nocouncil_etl_spark.plans.breadth20 import LN_SCALE, MAX_OFFSET
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_decay_fit_curve_and_ols_are_consistent(spark, sf_dir):
    rows = sorted(
        REG["ts_exp_decay_fit"].fn(spark, sf_dir).collect(), key=lambda r: r.d
    )
    assert rows
    slopes = {r.slope_per_day for r in rows}
    assert len(slopes) == 1  # one fit shared by every curve row
    for r in rows:
        assert 1 <= r.d <= MAX_OFFSET
        assert 0 < r.n_ret <= r.n_base
        assert r.rate_1e6 == (r.n_ret * LN_SCALE) // r.n_base
        # quantized ln within one unit of the float ln
        assert abs(r.ln_rate_1e6 - log(r.n_ret / r.n_base) * LN_SCALE) <= 1
    # recompute the OLS slope directly from the emitted curve
    n = len(rows)
    sd = sum(r.d for r in rows)
    sdd = sum(r.d * r.d for r in rows)
    sl = sum(r.ln_rate_1e6 for r in rows)
    sdl = sum(r.d * r.ln_rate_1e6 for r in rows)
    slope = (n * sdl - sd * sl) / (n * sdd - sd * sd) / LN_SCALE
    assert abs(rows[0].slope_per_day - slope) < 1e-5


def test_reciprocity_and_density_structural_bounds(spark, sf_dir):
    row = REG["graph_reciprocity_density"].fn(spark, sf_dir).collect()[0]
    assert row.n_nodes > 0 and row.n_edges > 0
    assert 0 <= row.n_reciprocal <= row.n_edges
    assert 0 < row.density < 1
    assert 0 <= row.reciprocity <= 1
    # edge bound: m <= n(n-1)
    assert row.n_edges <= row.n_nodes * (row.n_nodes - 1)
