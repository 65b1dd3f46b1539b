"""Batch 32: segmented trend, motifs, DDSketch, SVM, dispersion, OLS
diagnostics."""

from __future__ import annotations

import collections

from pyspark.sql import functions as F

from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _daily_dollars(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    rows = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.sum(F.round("value").cast("long")).cast("long").alias("y"))
        .collect()
    )
    out = collections.defaultdict(list)
    for r in rows:
        out[r.event_type].append((r.d, r.y))
    return {k: [y for _, y in sorted(v)] for k, v in out.items()}


def test_segmented_trend_beats_every_other_breakpoint(spark, sf_dir):
    got = {
        r.event_type: r
        for r in REG["ts_segmented_trend"].fn(spark, sf_dir).collect()
    }
    series = _daily_dollars(spark, sf_dir)

    def rss_lin(pts):
        n = len(pts)
        st = sum(t for t, _ in pts)
        sy = sum(y for _, y in pts)
        stt = sum(t * t for t, _ in pts)
        sty = sum(t * y for t, y in pts)
        syy = sum(y * y for _, y in pts)
        sxx = stt - st * st / n
        sxy = sty - st * sy / n
        return (syy - sy * sy / n) - sxy * sxy / sxx

    for et, ys in series.items():
        pts = list(enumerate(ys, start=1))
        n = len(pts)
        best = min(
            (
                (round(rss_lin(pts[:b]) + rss_lin(pts[b:]), 4), b)
                for b in range(5, n - 5 + 1)
            ),
        )
        r = got[et]
        assert r.best_b == best[1]
        assert abs(r.rss - best[0]) < 1e-6


def test_motif_counts_match_bruteforce(spark, sf_dir):
    from nocouncil_etl_spark.plans.graph_plans import _graph

    row = REG["graph_motif_ffl"].fn(spark, sf_dir).collect()[0]
    _, edges, _ = _graph(spark, sf_dir)
    e = {
        (r.src, r.dst)
        for r in edges.select("src", "dst").collect()
        if r.src != r.dst
    }
    assert row.n_edges == len(e)
    out = collections.defaultdict(set)
    for s, d in e:
        out[s].add(d)
    p2 = [(x, y, z) for x, y in e for z in out[y] if z != x]
    assert row.n_paths2 == len(p2)
    assert row.n_ffl == sum(1 for x, y, z in p2 if (x, z) in e)
    assert row.n_cycles == sum(1 for x, y, z in p2 if (z, x) in e) // 3


def test_ddsketch_bucket_contains_exact_quantile(spark, sf_dir):
    rows = REG["sketch_ddsketch_log2"].fn(spark, sf_dir).collect()
    assert {r.p for r in rows} == {50, 95, 99}
    for r in rows:
        assert r.lb == 2**r.bk and r.ub == 2 ** (r.bk + 1) - 1
        # the DDSketch guarantee: the exact quantile lies in the bucket
        assert r.lb <= r.exact_v <= r.ub


def test_svm_learns_majority_side(spark, sf_dir):
    row = REG["ml_svm_hinge_gd"].fn(spark, sf_dir).collect()[0]
    assert row.n > 0
    # error rate ~20% -> bias must go negative; accuracy >= majority rate
    assert row.b0_1e6 < 0
    assert row.acc_1e6 >= 700000
    assert row.hinge_raw >= 0


def test_dispersion_matches_recompute(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    got = {
        r.event_type: r
        for r in REG["stat_poisson_dispersion"].fn(spark, sf_dir).collect()
    }
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    counts = collections.defaultdict(list)
    for r in daily:
        counts[r.event_type].append(r.c)
    for et, cs in counts.items():
        n = len(cs)
        mean = sum(cs) / n
        var = sum((c - mean) ** 2 for c in cs) / (n - 1)
        r = got[et]
        assert r.n == n and r.total == sum(cs)
        assert abs(r.dispersion - var / mean) < 1e-4


def test_regression_diagnostics_sane(spark, sf_dir):
    rows = REG["ml_regression_diagnostics"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.r2 <= 1.0 + 1e-9
        assert 0.0 <= r.durbin_watson <= 4.0 + 1e-9
