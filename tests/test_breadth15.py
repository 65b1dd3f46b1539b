"""Invariants for breadth batch 15 (nearest join, OOV, seasonal anomaly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nocouncil_etl_spark.plans.breadth15 import CELL, MAD_MULT, OOV_SCALE
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_nearest_join_is_argmin_within_radius(spark, sf_dir):
    rows = REG["geo_nearest_join"].fn(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.cid not in seen  # exactly one match per customer
        seen.add(r.cid)
        assert 0 <= r.d2 <= CELL * CELL


def test_nearest_join_matches_brute_force_on_sample(spark, sf_dir):
    out = {r.cid: r for r in REG["geo_nearest_join"].fn(spark, sf_dir).collect()}
    from nocouncil_etl_spark.plans.breadth15 import LAT_RANGE, LON_RANGE, _pt

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(20).select(
        F.col("c_custkey").alias("cid"),
        (_pt("clat#", F.col("c_custkey")) % LAT_RANGE).alias("y"),
        (_pt("clon#", F.col("c_custkey")) % LON_RANGE).alias("x"),
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("sid"),
        (_pt("slat#", F.col("s_suppkey")) % LAT_RANGE).alias("sy"),
        (_pt("slon#", F.col("s_suppkey")) % LON_RANGE).alias("sx"),
    )
    brute = (
        c.crossJoin(s)
        .select(
            "cid",
            "sid",
            (
                (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
                + (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy"))
            ).alias("d2"),
        )
        .collect()
    )
    best: dict[int, tuple[int, int]] = {}
    for r in brute:
        k = (r.d2, r.sid)
        if r.cid not in best or k < best[r.cid]:
            best[r.cid] = k
    for cid, (d2, sid) in best.items():
        if d2 <= CELL * CELL:
            assert out[cid].sid == sid and out[cid].d2 == d2
        else:
            # outside the radius bound: grid join may legitimately miss it
            assert cid not in out or out[cid].d2 <= CELL * CELL


def test_oov_rate_bounds_and_exact_arithmetic(spark, sf_dir):
    rows = REG["text_oov_rate"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens
        assert r.oov_1e6 == (r.n_oov * OOV_SCALE) // r.n_tokens
    # the corpus-wide OOV mass is whatever the top-K vocab doesn't cover;
    # with a soup vocabulary most tokens should be covered
    total = sum(r.n_tokens for r in rows)
    oov = sum(r.n_oov for r in rows)
    assert oov / total < 0.5


def test_seasonal_anomaly_flags_consistent_with_threshold(spark, sf_dir):
    rows = REG["ts_seasonal_anomaly"].fn(spark, sf_dir).collect()
    assert rows
    mads = {r.mad_fp for r in rows}
    assert len(mads) == 1  # one global MAD
    mad = mads.pop()
    assert mad >= 0
    for r in rows:
        assert r.is_anomaly == (1 if abs(r.res_fp) > MAD_MULT * mad else 0)
