"""Batch 41: ANALYZE stats, DP argmax, cointegration, Krippendorff,
MIPS, dialect sniff."""

from __future__ import annotations

import math

from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_analyze_stats_verified_per_column(spark, sf_dir):
    rows = {r.column_name: r for r in REG["io_analyze_table_stats"].fn(spark, sf_dir).collect()}
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = orders.count()
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate", "cents",
    }
    for r in rows.values():
        assert r.n_rows == n
        assert r.n_null == 0
        assert r.min_str <= r.max_str
    assert rows["o_orderkey"].ndv == n  # primary key
    assert rows["o_orderstatus"].ndv == 3
    assert rows["o_orderpriority"].ndv == 5


def test_dp_argmax_single_winner_small_noise(spark, sf_dir):
    rows = REG["privacy_discrete_laplace_argmax"].fn(spark, sf_dir).collect()
    assert sum(r.is_argmax for r in rows) == 1
    for r in rows:
        assert -8 <= r.noise <= 8
        assert r.noisy_n == r.true_n + r.noise
    winner = next(r for r in rows if r.is_argmax)
    assert winner.noisy_n == max(r.noisy_n for r in rows)


def test_cointegration_beta_and_mk_consistency(spark, sf_dir):
    row = REG["ts_cointegration_residuals"].fn(spark, sf_dir).collect()[0]
    assert row.n >= 10
    var = row.n * (row.n - 1) * (2 * row.n + 5) / 18
    assert abs(row.mk_z - round(row.mk_s / math.sqrt(var), 6)) < 1e-9
    # |S| is bounded by the number of pairs
    assert abs(row.mk_s) <= row.n * (row.n - 1) // 2


def test_krippendorff_alpha_in_informative_range(spark, sf_dir):
    row = REG["eval_krippendorff_alpha"].fn(spark, sf_dir).collect()[0]
    assert row.n_values > 0
    assert row.do2 <= row.tot2
    # 20% deterministic flips against a shared truth: substantial but
    # imperfect agreement
    assert 0.3 < row.alpha < 0.95


def test_mips_augmented_cosine_reproduces_ip_ranking(spark, sf_dir):
    rows = sorted(
        REG["vec_mips_augment"].fn(spark, sf_dir).collect(), key=lambda r: r.rk
    )
    assert len(rows) == 5
    ips = [r.ip for r in rows]
    assert ips == sorted(ips, reverse=True)
    # recompute: augmented-norm equality and ranking agreement
    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {}
    for _, r in emb.iterrows():
        v = np.round(1000 * (1 + r.label) * np.array(r.embedding, dtype=float))
        vecs[r.vec_id] = v
    q = vecs[0]
    scores = {
        vid: float(np.dot(v, q)) for vid, v in vecs.items() if vid != 0
    }
    m2 = max(float(np.dot(v, v)) for vid, v in vecs.items() if vid != 0)
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [vid for vid, _ in top] == [r.vec_id for r in rows]
    for r in rows:
        n2 = float(np.dot(vecs[r.vec_id], vecs[r.vec_id]))
        exp_aug = round(1000.0 * math.sqrt((m2 - n2) / m2))
        assert r.aug_milli == exp_aug
        # augmented norm is constant: ||x||^2 + aug^2*M2/1e6 ~= M2
        assert abs(n2 + (r.aug_milli / 1000.0) ** 2 * m2 - m2) < 0.01 * m2


def test_dialect_sniff_picks_semicolon(spark, sf_dir):
    rows = {r.delim: r for r in REG["io_csv_dialect_sniff"].fn(spark, sf_dir).collect()}
    assert rows[";"].is_best == 1
    assert rows[";"].modal_fields == 4
    assert rows[";"].consistency_1e6 == 1000000
    assert sum(r.is_best for r in rows.values()) == 1
