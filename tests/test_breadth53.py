"""Breadth batch 53: harmonic regression, mutual match, CVaR, stopwords,
critical path, late-arriving dim."""

from __future__ import annotations

import math

from nocouncil_etl_spark.plans.breadth53 import CP_TOP, SW_TOP
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_harmonic_regression_outputs_are_physical(spark, sf_dir):
    rows = REG["ts_harmonic_regression"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.amp_milli >= 0
        assert abs(r.phase_milli) <= round(math.pi * 1000) + 1
        assert 0 <= r.r2_ppm <= 1_000_000 + 1


def test_mutual_best_match_is_one_to_one(spark, sf_dir):
    rows = REG["join_mutual_best_match"].fn(spark, sf_dir).collect()
    assert rows
    sups = [r.s_suppkey for r in rows]
    custs = [r.c_custkey for r in rows]
    assert len(sups) == len(set(sups))  # each supplier matched at most once
    assert len(custs) == len(set(custs))  # each customer matched at most once
    for r in rows:
        assert r.diff_cents >= 0


def test_expected_shortfall_dominates_var(spark, sf_dir):
    rows = REG["agg_expected_shortfall"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # the tail mean sits at or above the cut point
        assert r.cvar_milli >= 1000 * r.var95 - 1
        assert 1 <= r.n_tail <= r.n
        # tail size matches the nearest-rank definition
        assert r.n_tail == r.n - (95 * r.n + 99) // 100 + 1


def test_stopword_discovery_flags_high_df_terms(spark, sf_dir):
    rows = REG["text_stopword_discovery"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= SW_TOP
    for r in rows:
        assert r.df <= r.cf  # df counts docs, cf counts occurrences
        assert (r.df_ppm >= 500000) == (r.is_stopword == 1)
        if r.is_stopword:
            assert r.idf_micro <= round(math.log(2) * 1_000_000) + 1


def test_critical_path_depths_are_rounds_bounded(spark, sf_dir):
    rows = REG["graph_critical_path"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= CP_TOP
    ordered = sorted(rows, key=lambda r: r.rk)
    for a, b in zip(ordered, ordered[1:]):
        assert a.depth >= b.depth
    assert ordered[0].depth >= 1


def test_late_arriving_dim_parks_then_resolves(spark, sf_dir):
    r = REG["io_late_arriving_dim"].fn(spark, sf_dir).first()
    assert r.resolved_v1 + r.placeholder_v1 == r.n_facts
    assert r.placeholder_v1 > 0  # the gap really exists at v1
    assert r.cents_parked > 0  # and it carries revenue
    assert r.resolved_v2 + r.still_unresolved == r.n_facts
    assert r.resolved_v2 > r.resolved_v1  # backfill resolved placeholders
    assert r.still_unresolved == 0  # the full dim closes the gap
