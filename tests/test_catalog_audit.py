"""One catalog audit pass: every registered query is built once and run
once, and that one run is checked against every catalog-wide rule. The
reference pipeline has no tests, so this pass is the engine's main
regression net (SURVEY.md §5.2-1).

Each query is checked in this order:

1. **collect** — build the query with ``DataFrame.collect``/``toPandas``
   patched to record, for every driver-side materialization fired while
   constructing it, the innermost package call site (``relpath:function``)
   and its row count. All driver-side fetches happen at construction time:
   the returned DataFrame's execution cannot call back into Python (the one
   exception, foreachBatch streams, also drains during ``fn()``). Every
   site must be on ``COLLECT_WHITELIST``, whose reasons argue
   SF-independence, and return no more rows than the site's structural
   cap: anything data-sized on the driver is what dies at 100 TB.
2. **frame** — no window frame in the physical plan may end at
   ``unboundedFollowing`` without starting at ``unboundedPreceding``: Spark
   recomputes such a suffix aggregate at every row, O(n²) per partition
   (18 s on a 160k-row partition grid at sf1). The idiom is a running frame
   over the reversed ordering (plans/joins.py:273).
3. **fanout** — no Generate may be fed by a file scan through only narrow
   operators: scan parallelism follows input bytes, so the explode would
   run in one task for a small compressed file and as a straggler per
   oversized file at 100 TB. Put ``io.fan_out`` ahead of it. Generators
   with statically bounded fan-out are exempt; ``FANOUT_WHITELIST``
   entries must be bounded by construction, never "small at test scale".
4. **window** — a global-order Window (no partition key) may only consume
   a sub-linear input: a limit node bounds it, or its measured input,
   read from the executed plan's SQL metrics after the run, is at most
   ``ROW_CAP`` rows. Boundedness is a property of the data, not of the
   operator tree: rec_item_cosine's global row_number over a degree²-sized
   pair set had aggregations below it.
5. **oracle** — the rows equal the query's DuckDB oracle on the same
   parquet: same column names, row count and order-insensitive values.

Rules 2–4 read the physical plan before the run. Every
failed rule is reported in one assertion message. The per-rule modules
(test_collect_lint, test_frame_lint, test_fanout_lint, test_window_lint,
test_oracle_parity) report the same verdicts one rule at a time from
``verdict``, which runs each query at most once per session.
"""

from __future__ import annotations

import ast
import contextlib
import math
import os
import sys
import traceback

import pytest

# patch the CONCRETE class: pyspark.sql.DataFrame is the abstract base in
# PySpark 4 and classic instances override collect/toPandas
from pyspark.sql.classic.dataframe import DataFrame

from nocouncil_etl_spark.plancheck import (
    global_window_inputs,
    plan_has_global_window,
    unbounded_following_agg_frames,
    unfanned_generates,
)
from nocouncil_etl_spark.registry import load_all

REG = load_all()
ORACLE_CASES = sorted(n for n, q in REG.items() if q.oracle is not None)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "nocouncil_etl_spark")

# ROW_CAP calibration at sf0.001: raw fact tables are lineitem ~6k /
# events 20k / documents 600 rows, so a raw-data global sort sees
# thousands-to-tens-of-thousands of rows; the catalog's legitimate bounded
# frames stay at/under the hour-grid size (~1.5k). The cap sits between
# those regimes; anything legitimately above it must be whitelisted.
ROW_CAP = 1200

# Documented exceptions per rule, each with its reason string. The window
# and frame lists are empty: every former offender was rewritten (Fenwick
# prefix aggregates, the range-partitioned two-phase scan, running frames
# over the reversed ordering). Keep the mechanism for a justified future
# exception.
WINDOW_WHITELIST: dict[str, str] = {}
FRAME_WHITELIST: dict[str, str] = {}

FANOUT_WHITELIST: dict[str, str] = {
    "join_interval_overlap": (
        "interval-to-bucket sequence explode spans <= 3 buckets by "
        "construction (literal interval length / bucket width, documented "
        "in the plan docstring); the (user, bucket) equi-join shuffle "
        "follows immediately, so the explode stage does trivial work"
    ),
    "vec_knn_lsh_multi": (
        "buckets explode arity == L=4 literal signature tables (operator "
        "constant in similarity.attach_signature multi mode); the bucket "
        "equi-join shuffle follows immediately"
    ),
}

# site (`relpath:function`) → (row cap, reason). Reasons must argue
# SF-INDEPENDENCE (or an explicit structural cap), not just
# small-at-test-scale. Caps are the structural bound, not the observed
# size (max observed sizes at sf0.001: 1-4096 rows per site).
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

COLLECT_WHITELIST: dict[str, tuple[int, str]] = {
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


@contextlib.contextmanager
def recording_collects():
    """Record ``(site, rows)`` for every in-package collect/toPandas fired
    inside the block."""
    records: list[tuple[str, int]] = []
    orig_collect = DataFrame.collect
    orig_topandas = DataFrame.toPandas

    def record(n):
        key = _site_key()
        if key != "<outside-package>":
            records.append((key, n))

    def collect(self):
        rows = orig_collect(self)
        record(len(rows))
        return rows

    def topandas(self):
        pdf = orig_topandas(self)
        record(len(pdf))
        return pdf

    DataFrame.collect, DataFrame.toPandas = collect, topandas
    try:
        yield records
    finally:
        DataFrame.collect, DataFrame.toPandas = orig_collect, orig_topandas


def canon(value):
    """Canonicalize one cell for order-insensitive comparison."""
    if value is None:
        return "∅"
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # queries round on both sides; absorb residual representation noise
        return f"{value:.9g}"
    if isinstance(value, bytes):
        return value.hex()
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canon(v) for v in value) + "]"
    return str(value)


def table_digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], lines


def _window_offenders(df):
    return [
        (node, rows)
        for node, rows in global_window_inputs(df)
        if node != "limit" and not (rows is not None and rows <= ROW_CAP)
    ]


def _oracle_diff(name, cols, rows, res) -> str | None:
    s_cols, s_lines = table_digest(cols, rows)
    d_cols, d_lines = table_digest([d[0] for d in res.description], res.fetchall())
    if s_cols != d_cols:
        return f"{name}: column mismatch {s_cols} vs {d_cols}"
    if len(s_lines) != len(d_lines):
        return f"{name}: row count {len(s_lines)} vs {len(d_lines)}"
    mismatches = [(a, b) for a, b in zip(s_lines, d_lines) if a != b]
    if mismatches:
        return f"{name}: {len(mismatches)} row diffs; first: {mismatches[0]}"
    return None


def audit(spark, name, build, oracle=None, duck=None) -> dict[str, str]:
    """Build the frame ``build()`` returns, lint its plan, run it once and
    compare it with ``oracle``; returns ``{rule: failure}`` for every rule
    it breaks. ``build`` is called again only for the window rule's one
    clean re-plan."""
    failures: dict[str, str] = {}
    with recording_collects() as collects:
        df = build()
    bad = [
        (site, n)
        for site, n in collects
        if site not in COLLECT_WHITELIST or n > COLLECT_WHITELIST[site][0]
    ]
    if bad:
        failures["collect"] = (
            f"{name}: driver-side materialization at non-whitelisted or "
            f"over-cap site(s) {bad}; keep driver fetches bounded (scalar / "
            f"offset-table / codebook / manifest) or whitelist with a reason "
            f"arguing SF-independence"
        )
    if name not in FRAME_WHITELIST and (bad := unbounded_following_agg_frames(df)):
        failures["frame"] = (
            f"{name}: window frame(s) {sorted(set(bad))} end at "
            "unboundedFollowing without starting at unboundedPreceding — "
            "O(n²) per partition (the aggregate is recomputed at every "
            "row). Rewrite as a running frame over the REVERSED ordering "
            "(plans/joins.py:273) or whitelist with a reason."
        )
    if name not in FANOUT_WHITELIST and (bad := unfanned_generates(df)):
        failures["fanout"] = (
            f"{name}: {len(bad)} Generate node(s) fed by a file scan with "
            f"no shuffle in between — the explode runs at byte-derived scan "
            f"parallelism (first: {bad[0]}). Put io.fan_out ahead of the "
            "explosive transform, or whitelist with a bounded-by-"
            "construction reason."
        )
    global_window = name not in WINDOW_WHITELIST and plan_has_global_window(df)
    rows = [tuple(r) for r in df.collect()]
    if global_window and (bad := _window_offenders(df)):
        # SQL metrics on stages shared with earlier runs (cached subtrees,
        # reused exchanges) can accumulate across executions; a clean
        # replan separates that noise from a real unbounded window, which
        # persists
        spark.catalog.clearCache()
        again = build()
        again.collect()
        if bad := _window_offenders(again):
            failures["window"] = (
                f"{name}: global-order Window(s) consume unbounded input "
                f"{bad} (cap {ROW_CAP}); bound the input (aggregate / "
                f"TakeOrderedAndProject) or whitelist with a reason"
            )
    if oracle is not None:
        if diff := _oracle_diff(name, df.columns, rows, duck.execute(oracle)):
            failures["oracle"] = diff
    return failures


_VERDICTS: dict[str, dict[str, str]] = {}


def verdict(name, spark, sf_dir, duck) -> dict[str, str]:
    """``audit`` of one catalog query, run at most once per session."""
    if name not in _VERDICTS:
        q = REG[name]
        try:
            _VERDICTS[name] = audit(
                spark, name, lambda: q.fn(spark, sf_dir), q.oracle, duck
            )
        finally:
            spark.catalog.clearCache()
    return _VERDICTS[name]


@pytest.mark.parametrize("name", sorted(REG))
def test_query_passes_audit(name, spark, sf_dir, duck):
    failures = verdict(name, spark, sf_dir, duck)
    assert not failures, "\n".join(f"[{r}] {m}" for r, m in failures.items())


def test_audit_reports_each_planted_offender(spark, tmp_path):
    """One tiny frame per plan rule, each breaking only that rule."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # a collect whose innermost frame is a package file no whitelist names
    planted = {}
    exec(
        compile(
            "def planted_fetch(df):\n    df.collect()\n    return df\n",
            os.path.join(PKG, "planted.py"),
            "exec",
        ),
        planted,
    )
    path = str(tmp_path / "lines.parquet")
    spark.createDataFrame([("a b c",), ("d e",)], ["t"]).write.parquet(path)
    frames = {
        "collect": lambda: planted["planted_fetch"](spark.range(3)),
        "frame": lambda: spark.range(10).withColumn(
            "s",
            F.sum("id").over(
                Window.partitionBy(F.col("id") % 2)
                .orderBy("id")
                .rowsBetween(0, Window.unboundedFollowing)
            ),
        ),
        "fanout": lambda: spark.read.parquet(path).select(
            F.explode(F.split("t", " ")).alias("w")
        ),
        "window": lambda: spark.range(ROW_CAP + 100).withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("id")))
        ),
    }
    for rule, build in frames.items():
        try:
            assert set(audit(spark, f"planted_{rule}", build)) == {rule}
        finally:
            spark.catalog.clearCache()


def test_no_oracle_column_is_hugeint(duck):
    """Driver-digest guard: DuckDB promotes sum(INT)/sum(BIGINT) to HUGEINT
    (int128), which the verification driver's pandas-mediated digest
    stringifies differently from Python ints — the only wrong-answer signal
    in rounds 1-2 (VERDICT r2 'What's wrong #1'). Every integer aggregate in
    an oracle must be CAST(... AS BIGINT). This asserts the whole registry,
    without executing, via the relation's lazy type plan."""
    offenders = {}
    for name in ORACLE_CASES:
        rel = duck.sql(REG[name].oracle)
        bad = [
            c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t).upper()
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"HUGEINT oracle columns (CAST AS BIGINT): {offenders}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0


@pytest.fixture
def record_collects():
    with recording_collects() as records:
        yield records


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


def _is_window_attr(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "Window"
    )


def test_no_suffix_frame_construction_in_source():
    """AST layer: catches frames built inside operators whose plans are
    lineage-truncated (localCheckpoint) before the registry lint sees them."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("rowsBetween", "rangeBetween")
                    and len(node.args) == 2
                ):
                    continue
                start, end = node.args
                if _is_window_attr(end, "unboundedFollowing") and not _is_window_attr(
                    start, "unboundedPreceding"
                ):
                    rel = os.path.relpath(path, os.path.dirname(PKG))
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, (
        f"suffix-aggregate frame construction at {offenders}: "
        "(x, unboundedFollowing) frames are O(n²) per partition — use a "
        "running frame over the reversed ordering instead"
    )
