"""Batch 38: Croston, CMH, Theil, Kendall, PRF, triplets."""

from __future__ import annotations

import collections

from pyspark.sql import functions as F

from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_croston_matches_recompute(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    got = {
        r.event_type: r
        for r in REG["ts_croston_intermittent"].fn(spark, sf_dir).collect()
    }
    rows = (
        load(spark, sf_dir, "events")
        .filter(F.col("value") > 450)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("q"))
        .collect()
    )
    series = collections.defaultdict(list)
    for r in rows:
        series[r.event_type].append((r.d, r.q))
    for et, pts in series.items():
        pts.sort()
        qs = [q for _, q in pts]
        gaps = [1] + [(pts[i][0] - pts[i - 1][0]).days for i in range(1, len(pts))]
        z, p = qs[0] * 1000, gaps[0] * 1000
        for q, g in zip(qs[1:], gaps[1:]):
            dz, dg = q * 1000 - z, g * 1000 - p
            z += (abs(dz) // 8) * (1 if dz >= 0 else -1)
            p += (abs(dg) // 8) * (1 if dg >= 0 else -1)
        r = got[et]
        assert (r.z_milli, r.p_milli) == (z, p)
        assert r.forecast_milli == (z * 1000) // p
        assert r.n_demands == len(qs)


def test_cmh_chi2_positive_and_consistent(spark, sf_dir):
    row = REG["stat_cmh_stratified"].fn(spark, sf_dir).collect()[0]
    assert row.k == 5
    assert row.sum_v_1e6 > 0
    diff = row.sum_a - row.sum_e_1e6 / 1e6
    assert abs(row.cmh_chi2 - round(diff * diff / (row.sum_v_1e6 / 1e6), 6)) < 1e-6


def test_theil_decomposition_identity(spark, sf_dir):
    row = REG["agg_theil_decomposition"].fn(spark, sf_dir).collect()[0]
    assert row.n_users > 0
    assert row.theil_total >= 0
    assert row.theil_between >= -1e-9
    # the decomposition identity holds by construction
    assert abs(row.theil_total - row.theil_between - row.theil_within) < 1e-8
    # inequality across random md5 cohorts is tiny vs within
    assert row.theil_between < row.theil_within + 1e-9


def test_kendall_matches_bruteforce_on_buckets(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    row = REG["eval_kendall_tau_deciles"].fn(spark, sf_dir).collect()[0]
    users = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"),
            F.count("*").alias("y"),
        )
        .collect()
    )
    pts = [((r.x + 1).bit_length() - 1, (r.y + 1).bit_length() - 1) for r in users]
    n = len(pts)
    conc = disc = 0
    for i in range(n):
        for j in range(n):
            if i == j:
                continue
            if pts[j][0] > pts[i][0] and pts[j][1] > pts[i][1]:
                conc += 1
            if pts[j][0] > pts[i][0] and pts[j][1] < pts[i][1]:
                disc += 1
    assert row.concordant == conc
    assert row.discordant == disc
    assert -1.0 <= row.kendall_tau_b <= 1.0
    # spend and activity are strongly positively associated
    assert row.kendall_tau_b > 0.3


def test_prf_terms_exclude_query_and_ranked(spark, sf_dir):
    rows = sorted(
        REG["search_prf_expansion"].fn(spark, sf_dir).collect(), key=lambda r: r.rk
    )
    assert 0 < len(rows) <= 10
    assert all(r.term != "spark" for r in rows)
    ws = [r.w_1e6 for r in rows]
    assert ws == sorted(ws, reverse=True)
    for r in rows:
        assert r.w_1e6 == (1000000 * r.tf_top) // r.df


def test_triplets_satisfy_mining_contract(spark, sf_dir):
    rows = REG["vec_triplet_semihard"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.pos_id != r.anchor and r.neg_id != r.anchor
        assert r.pos_d2 >= 0 and r.neg_d2 >= 0
        if r.semihard == 1:
            # semi-hard contract: negative farther than positive
            assert r.neg_d2 > r.pos_d2
