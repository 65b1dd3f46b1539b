"""Semantic invariants for the curation-6 batch (DPO pairs, DP counts)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.plans.curation6 import DP_B
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def test_dpo_pairs_are_group_extrema(spark, sf_dir):
    pairs = _run("dpo_pair_build", spark, sf_dir).collect()
    assert pairs
    from nocouncil_etl_spark.functions.text import quality_score

    docs = load(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        F.concat_ws("/", "source", "lang").alias("prompt_key"),
        F.round(quality_score("text", F.split("text", " ")), 4).alias("quality"),
    ).collect()
    by_group: dict[str, list] = {}
    for r in q:
        by_group.setdefault(r.prompt_key, []).append((r.quality, r.doc_id))
    for p in pairs:
        g = by_group[p.prompt_key]
        assert p.n_candidates == len(g)
        assert p.chosen_q == max(v for v, _ in g)
        assert p.rejected_q == min(v for v, _ in g)
        assert p.chosen_id != p.rejected_id
        assert abs(p.margin - round(p.chosen_q - p.rejected_q, 4)) < 1e-9
    # every multi-candidate group with a distinct extremum pair appears once
    keys = [p.prompt_key for p in pairs]
    assert len(keys) == len(set(keys))


def test_dp_noise_is_laplace_shaped_and_centered(spark, sf_dir):
    rows = _run("dp_count_laplace", spark, sf_dir).collect()
    assert rows
    noises = [r.noise for r in rows]
    # reproducible: dp_count - true_count == noise on the 6dp grid
    for r in rows:
        assert abs((r.dp_count - r.true_count) - r.noise) < 2e-6
    # Laplace(b): mean 0, std b*sqrt(2); loose bounds on a few hundred draws
    n = len(noises)
    mean = sum(noises) / n
    std = math.sqrt(sum((x - mean) ** 2 for x in noises) / (n - 1))
    assert abs(mean) < 4 * DP_B * math.sqrt(2.0 / n)
    assert 0.4 * DP_B * math.sqrt(2) < std < 2.5 * DP_B * math.sqrt(2)


def test_dp_noise_deterministic_across_runs(spark, sf_dir):
    a = {(r.event_type, r.day): r.noise for r in _run("dp_count_laplace", spark, sf_dir).collect()}
    b = {(r.event_type, r.day): r.noise for r in _run("dp_count_laplace", spark, sf_dir).collect()}
    assert a == b


def test_dpo_pipeline_composition_invariants(spark, sf_dir):
    """The e2e build must respect every stage's contract: pairs come from
    gated+deduped docs, margins are non-negative, splits are deterministic,
    and renders carry both sides."""
    from nocouncil_etl_spark.plans.dpo_pipeline import MIN_QUALITY

    rows = REG["pipeline_dpo_e2e"].fn(spark, sf_dir).collect()
    assert rows
    keys = [r.prompt_key for r in rows]
    assert len(keys) == len(set(keys)), "one pair per prompt group"
    for r in rows:
        assert r.margin >= 0
        assert r.split in ("train", "val")
        assert r.pair_render.startswith(f"<|prompt|>{r.prompt_key}\n<|chosen|>")
        assert "\n<|rejected|>" in r.pair_render
        assert r.chosen_id != r.rejected_id
    # split is a pure function of the key → rerun gives identical splits
    again = {r.prompt_key: r.split for r in REG["pipeline_dpo_e2e"].fn(spark, sf_dir).collect()}
    assert again == {r.prompt_key: r.split for r in rows}
    # the chosen doc must clear the quality gate it was selected under
    from pyspark.sql import functions as F

    from nocouncil_etl_spark.functions.text import quality_score
    from nocouncil_etl_spark.io import load

    qmap = {
        r.doc_id: r.q
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", F.round(quality_score("text", F.split("text", " ")), 4).alias("q"))
        .collect()
    }
    for r in rows:
        assert qmap[r.chosen_id] >= MIN_QUALITY
        assert qmap[r.rejected_id] >= MIN_QUALITY, "rejected side is still gated data"
