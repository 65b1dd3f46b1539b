"""Grid quantile normalization (operators/quantiles.quantile_normalize_grid
+ prefix_counts): exact Fenwick prefix counts, no single-partition
WindowExec anywhere in the plan (the exact twin's pooled row_number is the
one raw-data global sort the round-5 verdict flagged), and order-preserving
normalized values.
"""

from __future__ import annotations

import contextlib
import io
import re

import numpy as np
from pyspark.sql import functions as F

from nocouncil_etl_spark.operators.quantiles import prefix_counts, quantile_normalize_grid
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _window_partition_specs(df) -> list[str]:
    """For every Window node in the formatted plan, the second top-level
    bracket group of its Arguments line — the partition spec for a
    partitioned window, the order spec (contains ASC/DESC) for a global
    one."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    specs = []
    for m in re.finditer(r"\(\d+\) Window(?:[^\n]*\n)+?Arguments: ([^\n]*)", plan):
        segs = m.group(1).split("], [")
        specs.append(segs[1] if len(segs) > 1 else "")
    return specs


def _has_global_window(df) -> bool:
    return any(
        " ASC" in s or " DESC" in s for s in _window_partition_specs(df)
    )


def test_grid_plan_has_no_single_partition_window(spark, sf_dir):
    df = REG["curation_quantile_normalize_grid"].fn(spark, sf_dir)
    specs = _window_partition_specs(df)
    assert specs, "expected the per-source rank windows to be present"
    assert not _has_global_window(df)


def test_detector_flags_synthetic_global_window(spark):
    """Sanity for the detector itself against a frame that genuinely plans a
    single-partition WindowExec. (The exact twin used to be the specimen, but
    the round-7 window purge de-windowed `curation_quantile_normalize` — the
    engine no longer ships any global-window plan, which is the point.)"""
    from pyspark.sql import Window

    df = spark.range(100).withColumn(
        "rk", F.row_number().over(Window.orderBy("id"))
    )
    assert _has_global_window(df)


def test_detector_exact_twin_has_no_global_window(spark, sf_dir):
    """The exact twin itself is windowless post-purge (range-partitioned
    two-phase scan), and must stay that way."""
    df = REG["curation_quantile_normalize"].fn(spark, sf_dir)
    assert not _has_global_window(df)


def test_prefix_counts_match_bruteforce(spark):
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 5000, size=400).tolist()
    hist = (
        spark.createDataFrame([(int(v),) for v in vals], "_v long")
        .groupBy("_v")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    got = {r["_v"]: r["cle"] for r in prefix_counts(hist).collect()}
    for v in set(vals):
        assert got[v] == sum(1 for x in vals if x <= v)


def test_grid_normalized_values_are_pooled_order_statistics(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = quantile_normalize_grid(docs, "doc_id", "n_chars", "source").cache()
    pooled = {r.orig for r in out.select("orig").distinct().collect()}
    norm = {r.normalized for r in out.select("normalized").distinct().collect()}
    assert norm <= pooled  # every normalized value is an actual pooled value

    # monotone: within a source, higher grid cell → normalized not smaller
    rows = out.orderBy("source", "grid_q").collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append((r.grid_q, r.normalized))
    for pairs in by_src.values():
        for (g1, n1), (g2, n2) in zip(pairs, pairs[1:]):
            if g1 <= g2:
                assert n1 <= n2
    out.unpersist()


def test_grid_endpoints_hit_pooled_min_max(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = quantile_normalize_grid(docs, "doc_id", "n_chars", "source")
    lo = docs.agg(F.min("n_chars")).first()[0]
    hi = docs.agg(F.max("n_chars")).first()[0]
    ends = out.filter(F.col("grid_q").isin(0, 64)).groupBy("grid_q").agg(
        F.min("normalized").alias("mn"), F.max("normalized").alias("mx")
    )
    for r in ends.collect():
        if r.grid_q == 0:
            assert r.mn == lo and r.mx == lo
        else:
            assert r.mn == hi and r.mx == hi
