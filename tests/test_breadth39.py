"""Batch 39: DBSCAN, k-center, LSA, TOST, MCC, integrity audit."""

from __future__ import annotations

import math
import os
import shutil
import tempfile

from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_dbscan_partitions_points(spark, sf_dir):
    row = REG["cluster_dbscan_grid"].fn(spark, sf_dir).collect()[0]
    assert row.n_core + row.n_border + row.n_noise == row.n_points
    assert row.n_clusters >= 1
    assert row.largest_cluster >= 4  # a core point plus its min neighbors
    assert row.n_core >= row.n_clusters  # every cluster has a core point


def test_kcenter_selection_distances_nonincreasing(spark, sf_dir):
    rows = sorted(
        REG["sample_kcenter_coreset"].fn(spark, sf_dir).collect(),
        key=lambda r: r.t,
    )
    assert [r.t for r in rows] == list(range(1, 9))
    assert rows[0].sel_d2 == 0
    sel = [r.sel_d2 for r in rows[1:]]
    # greedy farthest-point: each selection distance <= the previous
    assert all(a >= b for a, b in zip(sel, sel[1:]))
    assert len({r.center_id for r in rows}) == 8  # all distinct


def test_lsa_loadings_bounded_and_ranked(spark, sf_dir):
    rows = sorted(
        REG["text_lsa_top_concept"].fn(spark, sf_dir).collect(), key=lambda r: r.rk
    )
    assert 0 < len(rows) <= 10
    assert abs(rows[0].loading_1e3) == 1000  # normalized: max |v| = 1000
    mags = [abs(r.loading_1e3) for r in rows]
    assert mags == sorted(mags, reverse=True)


def test_tost_consistency(spark, sf_dir):
    row = REG["stat_tost_equivalence"].fn(spark, sf_dir).collect()[0]
    assert row.se > 0
    assert row.delta_cents > 0
    assert abs(
        row.t_lower - round((row.diff_cents + row.delta_cents) / row.se, 6)
    ) < 1e-3
    assert row.equivalent == (row.t_lower > 1.645 and row.t_upper > 1.645)


def test_mcc_matches_recompute(spark, sf_dir):
    row = REG["eval_mcc_fbeta"].fn(spark, sf_dir).collect()[0]
    tp, fp, fn, tn = row.tp, row.fp, row.fn, row.tn
    assert tp + fp + fn + tn > 0
    mcc = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    assert abs(row.mcc - round(mcc, 6)) < 1e-9
    assert -1 <= row.mcc <= 1
    assert 0 <= row.f2 <= 1


def test_integrity_audit_detects_corruption(spark, sf_dir):
    from nocouncil_etl_spark.plans.breadth39 import verify_manifest

    row = REG["io_integrity_audit"].fn(spark, sf_dir).collect()[0]
    assert row.n_files == 4
    assert row.n_verified == 4 and row.n_corrupt == 0
    src_n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert row.n_rows == src_n
    # corrupt a COPY of the lake and assert the same verifier catches it
    base = os.path.join(
        tempfile.gettempdir(),
        "nocouncil_etl_spark_scratch",
        f"audit_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    cbase = base + "_corrupt"
    if os.path.isdir(cbase):
        shutil.rmtree(cbase)
    shutil.copytree(base, cbase)
    victim = next(
        f
        for f in sorted(os.listdir(os.path.join(cbase, "data")))
        if f.endswith(".parquet")
    )
    path = os.path.join(cbase, "data", victim)
    with open(path, "r+b") as f:
        f.seek(100)
        b = f.read(1)
        f.seek(100)
        f.write(bytes([b[0] ^ 0xFF]))
    ok, bad = verify_manifest(cbase)
    assert bad == 1 and ok == 3
    shutil.rmtree(cbase)
