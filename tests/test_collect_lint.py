"""Registry-wide driver-materialization lint (round-8 verdict #4) — the
sibling of tests/test_window_lint.py.

The engine's convention: a .collect()/.toPandas() inside a query's
construction is only allowed for DRIVER-BOUNDED fetches — single scalars
(normalizers, seeds, domain spans), #partitions-sized offset tables,
k-row centroid/codebook matrices, manifest reads, limit(k) survivors.
Anything data-sized on the driver is exactly what dies at 100 TB
(stream_cdc_apply shipped one for two rounds before the r9 fix).

Mechanics: patch DataFrame.collect/toPandas to record, for every
materialization fired while CONSTRUCTING each registry query at the test
scale, the innermost package call site (`relpath:function`) and the row
count. All driver-side fetches happen at construction time — the returned
object is a DataFrame whose execution cannot call back into Python (the
one exception, foreachBatch streams, also drains during fn()). Every
observed site must be on the WHITELIST (with a reason string arguing
SF-independence) AND return no more rows than that site's structural cap;
a new .collect() in a future batch fails here until it is either bounded
or justified.
"""

from __future__ import annotations

import os
import sys
import traceback

import pytest

# patch the CONCRETE class: pyspark.sql.DataFrame is the abstract base in
# PySpark 4 and classic instances override collect/toPandas
from pyspark.sql.classic.dataframe import DataFrame

from nocouncil_etl_spark.registry import load_all

REG = load_all()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "nocouncil_etl_spark")

# site (`relpath:function`) → (row cap, reason). Reasons must argue
# SF-INDEPENDENCE (or an explicit structural cap), not just
# small-at-test-scale. Caps are the structural bound, not the observed
# size (survey: scripts/collect_lint_survey.py, max observed sizes at
# sf0.001 recorded in the r9 run: 1-4096 rows per site).
_P = "nocouncil_etl_spark"

# One-row (or few-row) scalar fetches: normalizers, seeds, fitted
# coefficients, convergence flags, audit verdicts — the engine's
# single-scalar-normalizer contract. Cap 8 catches any drift to
# data-sized frames.
_SCALAR = (
    f"{_P}/operators/centroid_artifact.py:_aggregate_fingerprint",
    f"{_P}/operators/graph.py:hits_fixed_point",
    f"{_P}/operators/treereduce.py:tree_reduce",
    f"{_P}/operators/quantiles.py:_domain_shift",
    f"{_P}/plans/breadth11.py:ml_gbdt_stump_rounds",
    f"{_P}/plans/breadth20.py:ts_exp_decay_fit",
    f"{_P}/plans/breadth23.py:curation_mix_waterfill",
    f"{_P}/plans/breadth24.py:graph_shortest_path_flow",
    f"{_P}/plans/breadth26.py:graph_mst_boruvka",
    f"{_P}/plans/breadth28.py:train_logistic_gd",
    f"{_P}/plans/breadth32.py:ml_svm_hinge_gd",
    f"{_P}/plans/breadth33.py:graph_ktruss_rounds",
    f"{_P}/plans/breadth39.py:cluster_dbscan_grid",
    f"{_P}/plans/breadth39.py:io_integrity_audit",
    f"{_P}/plans/breadth39.py:sample_kcenter_coreset",
    f"{_P}/plans/breadth39.py:text_lsa_top_concept",
    f"{_P}/plans/breadth40.py:graph_temporal_paths",
    f"{_P}/plans/breadth41.py:io_analyze_table_stats",
    f"{_P}/plans/breadth42.py:dq_partition_skew",
    f"{_P}/plans/breadth42.py:graph_betweenness_sampled",
    f"{_P}/plans/breadth42.py:vec_rq_two_stage",
    f"{_P}/plans/breadth46.py:io_write_audit_publish",
    f"{_P}/plans/breadth47.py:graph_bowtie_classify",
    f"{_P}/plans/breadth55.py:io_optimistic_concurrency",
    f"{_P}/plans/breadth56.py:ml_gmm_em_1d",
    f"{_P}/plans/breadth56.py:ts_ar2_yule_walker",
    f"{_P}/plans/breadth61.py:graph_spectral_bisection",
    f"{_P}/plans/breadth65.py:stats",
    f"{_P}/plans/breadth68.py:lf_at",
    f"{_P}/plans/breadth68.py:ml_chimerge_binning",
    f"{_P}/plans/breadth68.py:stat_fisher_exact",
    f"{_P}/plans/breadth71.py:ts_madogram_roughness",
    f"{_P}/plans/breadth73.py:stat_breusch_pagan",
    f"{_P}/plans/breadth74.py:agg_lorenz_asymmetry",
    f"{_P}/plans/breadth74.py:stat_cooks_distance",
    f"{_P}/plans/breadth76.py:stat_durbin_watson",
    f"{_P}/plans/breadth77.py:ml_softmax_gd",
    f"{_P}/plans/breadth79.py:stat_binomial_exact",
    f"{_P}/plans/breadth80.py:ts_record_highs",
    f"{_P}/plans/breadth83.py:io_projection_cost_model",
    f"{_P}/plans/breadth83.py:vec_pca_explained_share",
    f"{_P}/plans/clustering.py:vec_knn_pq_adc",
    f"{_P}/plans/curation7.py:text_jsd_sources",
    f"{_P}/plans/curation8.py:pack_length_buckets",
    f"{_P}/plans/mlprep4.py:stat_fdr_bh",
    f"{_P}/plans/mlprep5.py:ml_gbdt_two_features",
)

WHITELIST: dict[str, tuple[int, str]] = {
    **{site: (8, "single-scalar/bounded-stat fetch, SF-independent") for site in _SCALAR},
    f"{_P}/operators/kmeans.py:seed_centroids": (
        4096, "k seed rows, k <= MAX_CENTROIDS"),
    f"{_P}/operators/kmeans.py:_lloyd_update": (
        262_144,
        "k*dim Lloyd's-update rows (fused _assign_stats partials reduce to "
        "the same k*dim means), k <= MAX_CENTROIDS, dim fixed"),
    f"{_P}/operators/pq.py:pq_seed": (
        4096, "M subspace seeds, M fixed by codec layout"),
    f"{_P}/operators/pq.py:pq_update_pass": (
        65_536, "M*k codebook entries, both fixed by codec layout"),
    f"{_P}/operators/quantiles.py:dense_cumsum": (
        4096, "#partitions-sized offset table, broadcast back"),
    f"{_P}/operators/quantiles.py:ranged_rank_cumsum": (
        4096, "#partitions-sized offset table, broadcast back"),
    f"{_P}/operators/quantiles.py:ranged_group_rank_cumsum": (
        8192, "(#partitions + #groups)-sized offset table (contiguous "
              "composite ranges), broadcast back"),
    f"{_P}/operators/similarity.py:_collect_queries": (
        65_537, "keyed query side of the one blocked top-k primitive "
        "(blocked_topk: |Q|, x L tables for multi-table LSH, x nprobe for "
        "IVF probes), size-guarded at MAX_BLOCKED_QUERIES+1; over the cap "
        "it takes the distributed shuffle_hash equi-join fallback"),
    f"{_P}/plans/breadth38.py:vec_triplet_semihard": (
        31, "fixed TRIPLET_ANCHORS=30 probe batch, shipped in the task "
        "closure (r9: anchor-distance pass is one Arrow matmul)"),
    f"{_P}/plans/breadth23.py:vec_knn_hamming_packed": (
        65_537, "packed query codes (|C|/100 rows of 2 longs), size-guarded "
        "at MAX_BLOCKED_QUERIES+1 (r12: per-batch exact top-k pruning; over "
        "the cap it falls back to the crossJoin shape)"),
    f"{_P}/plans/breadth21.py:join_bloom_pruned": (
        4096, "bloom bitset words, filter size fixed"),
    f"{_P}/plans/breadth34.py:io_manifest_file_pruning": (
        1024, "manifest rows, one per file in the simulated layout"),
    f"{_P}/plans/breadth50.py:agg_chain_ladder": (
        64, "development-age factors, CL_MAX_AGE-bounded"),
    f"{_P}/plans/breadth6.py:ts_holt_forecast": (
        1024, "calendar-day series, bounded by date span not data volume"),
    f"{_P}/plans/breadth8.py:vec_pca_project_hist": (
        4096, "D-row component matrix, embedding dim fixed"),
    f"{_P}/plans/mlcurve_plans.py:ml_learning_curve_centroid": (
        8192, "k*dim centroid matrices per learning-curve fraction, all fixed"),
    f"{_P}/plans/pca_plans.py:vec_pca_power": (
        4096, "D^2 moment matrix, embedding dim fixed"),
    f"{_P}/plans/timeseries3.py:ts_holt_winters_seasonal": (
        1024, "calendar-day series, bounded by date span not data volume"),
    f"{_P}/streaming/windows.py:run_to_memory": (
        1_000_000,
        "memory sink is driver-resident by Spark's own design (test/debug "
        "surface; the 100 TB path is a real sink — parquet/kafka); this "
        "copy does not change the scale shape"),
}


def _site_key() -> str:
    for frame, _ in traceback.walk_stack(sys._getframe(1)):
        fn = frame.f_code.co_filename
        if fn.startswith(PKG):
            rel = os.path.relpath(fn, REPO)
            return f"{rel}:{frame.f_code.co_name}"
    return "<outside-package>"


@pytest.fixture
def record_collects(monkeypatch):
    records: list[tuple[str, int]] = []
    orig_collect = DataFrame.collect
    orig_topandas = DataFrame.toPandas

    def collect(self):
        rows = orig_collect(self)
        key = _site_key()
        if key != "<outside-package>":
            records.append((key, len(rows)))
        return rows

    def topandas(self):
        pdf = orig_topandas(self)
        key = _site_key()
        if key != "<outside-package>":
            records.append((key, len(pdf)))
        return pdf

    monkeypatch.setattr(DataFrame, "collect", collect)
    monkeypatch.setattr(DataFrame, "toPandas", topandas)
    return records


def test_recorder_sees_package_collects(spark, record_collects):
    """Sanity for the detector itself: a known in-package collect site
    (dense_cumsum's offset-table fetch) must be recorded with its size —
    guards against the patch silently missing the concrete DataFrame
    class (PySpark 4 split the API into abstract + classic)."""
    from pyspark.sql import functions as F

    from nocouncil_etl_spark.operators.quantiles import dense_cumsum

    df = spark.range(1, 101).select(
        F.col("id").alias("j"), F.lit(1).alias("l")
    )
    dense_cumsum(df, "j", "l").collect()
    sites = [s for s, _ in record_collects]
    assert any(s.endswith("quantiles.py:dense_cumsum") for s in sites), sites


@pytest.mark.parametrize("name", sorted(REG))
def test_no_unbounded_driver_materialization(
    name, spark, sf_dir, record_collects
):
    REG[name].fn(spark, sf_dir)
    bad = [
        (site, n)
        for site, n in record_collects
        if site not in WHITELIST or n > WHITELIST[site][0]
    ]
    assert not bad, (
        f"{name}: driver-side materialization at non-whitelisted or "
        f"over-cap site(s) {bad}; keep driver fetches bounded (scalar / "
        f"offset-table / codebook / manifest) or whitelist with a reason "
        f"arguing SF-independence"
    )
