"""Workload definitions, run settings and the per-layer metric names.

Each workload is a fixed list of registered catalog queries run against the
shipped sf0.01 tables. A pass runs every query once, in an order permuted by
the seed.
"""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The synthetic sf0.01 table set every workload reads, with row counts each
# run checks.
DATA = os.path.join(HERE, "data", "sf0.01")
DATA_ROWS = {"lineitem": 60_000, "orders": 15_000, "embeddings": 500}

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

WORKLOADS: dict[str, dict] = {
    "batch_sf001": {
        "queries": [
            "mine_topk_ngrams",            # fan_out → explode → agg → top-k window
            "pipeline_council_e2e",        # council DAG: Python map stages + embed
            "vec_knn_index_kmeans_build",  # k-means train + publish artifact
            "curation_incremental_e2e",    # CDC merge into a state table
        ],
        # a pass's warm wall time on a 4-core host; a run times
        # seconds / nominal_pass_s passes (see SETTINGS)
        "nominal_pass_s": 6.5,
        "why": "nightly batch DAGs: explode, Python map stages, k-means training "
        "with eager Spark jobs before collect(), and an artifact and a state "
        "table written on every call",
    },
    "serve_sf001": {
        "queries": [
            "vec_knn_blocked",             # blocked Arrow top-k
            "vec_knn_index_serve",         # materialized index read path
            "retrieval_rrf_fusion",        # BM25 + dense fused by rank
        ],
        # the first call of each of these publishes the artifact the
        # workload serves from; the run publishes from a clean state
        "publishers": [
            "vec_knn_index_serve",
        ],
        "nominal_pass_s": 4.5,
        "why": "short retrieval queries served from an artifact published at "
        "the start: per-query latency of the Arrow top-k kernels and artifact reads",
    },
}

# Settings every run pins. run.py also pins SPARK_GRAFT_CPUS to half of
# nproc, PYTHONPATH to the checkout root, and TMPDIR, SPARK_LOCAL_DIRS and
# java.io.tmpdir to the run directory; each run's context line lists them.
#
# A run times a fixed number of passes, round(seconds / nominal_pass_s) and at
# least min_timed_passes, rather than passes until a deadline: passes keep
# getting faster for many passes after the first, so a deadline would let a
# slow host time fewer and earlier, slower passes than a fast one.
SETTINGS = {
    "SPARK_DRIVER_MEMORY": "4g",
    "PYTHONHASHSEED": "0",
    "setups_per_run": 3,
    "warmup_passes": 1,
    "min_timed_passes": 3,
}

# Operator modules whose public functions the traced run wraps.
OPERATOR_MODULES = [
    "similarity", "ann_index", "kmeans_index", "centroid_artifact", "kmeans",
    "semantic", "fusion", "graph", "dedup", "quantiles", "pq", "models",
    "incremental",
]

# layer → its per-layer metrics (README.md maps each to the end-to-end
# metric and workload it should move)
LAYER_METRICS: dict[str, list[str]] = {
    "session": ["session.get_session_s"],
    "registry": ["registry.load_all_s"],
    "plans": [
        "plans.build_s", "plans.build_share", "plans.build_jobs",
        "plans.build_stages", "plans.build_tasks", "plans.driver_collects",
        "plans.driver_collect_rows",
    ],
    "io": [
        "io.load_calls", "io.load_s", "io.fan_out_calls", "io.fan_out_s",
        "io.fan_out_repartitioned_ratio",
    ],
    "operators": [
        f"operators.{m}.{k}" for m in OPERATOR_MODULES
        for k in ("calls", "self_s", "jobs")
    ],
    "pipelines.council": ["pipelines.council.self_s"],
    "collect": [
        "collect.s", "collect.jobs", "collect.stages", "collect.tasks",
        "collect.failed_tasks", "collect.result_rows",
    ],
    "exec": [
        "exec.scan_rows", "exec.shuffle_bytes_written",
        "exec.shuffle_records_written", "exec.broadcast_bytes",
        "exec.spill_bytes", "exec.sort_s", "exec.peak_memory_bytes",
        "exec.python_total_s", "exec.python_boot_s",
        "exec.python_bytes_sent", "exec.python_rows_received",
    ],
    "artifacts": [
        "artifacts.bytes_written", "artifacts.files_written",
        "artifacts.write_amp",
    ],
    "jvm": ["jvm.gc_s"],
    "trace": ["trace.overhead_ratio"],
}


def unit_of(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith(("_share", "_ratio", "_amp")):
        return "ratio"
    if "bytes" in metric:
        return "bytes"
    return "count"


PER_LAYER = [m for metrics in LAYER_METRICS.values() for m in metrics]

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "jvm_peak_rss_mb": "MB",
}
