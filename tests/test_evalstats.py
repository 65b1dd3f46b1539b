"""Semantic invariants for the evaluation/statistics batch — the oracle
checks value parity; these check that the statistics mean what they claim."""

from __future__ import annotations

from pyspark.sql import functions as F

from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def test_roc_auc_detects_planted_signal(spark, sf_dir):
    """The +50 boost on purchases must push AUC well above chance, and the
    integer U statistic must be consistent with the emitted ratio."""
    r = _run("eval_roc_auc", spark, sf_dir).collect()[0]
    assert r.n_pos > 0 and r.n_neg > 0
    assert r.auc > 0.8, f"planted signal should dominate, got {r.auc}"
    assert abs(r.u2 / (2.0 * r.n_pos * r.n_neg) - r.auc) < 1e-6


def test_roc_auc_is_exactly_pairwise(spark, sf_dir):
    """Cross-check the windowed U statistic against the O(P·N) definition
    (feasible at the test scale): U2 = #(pos>neg)·2 + #(pos==neg)."""
    from nocouncil_etl_spark.plans.evalstats import BOOST, POS_TYPE
    from nocouncil_etl_spark.io import load

    ev = load(spark, sf_dir, "events").select(
        F.round(
            F.col("value")
            + F.when(F.col("event_type") == POS_TYPE, F.lit(BOOST)).otherwise(0.0),
            2,
        ).alias("score"),
        (F.col("event_type") == POS_TYPE).alias("pos"),
    )
    pos = [r.score for r in ev.filter("pos").collect()]
    neg = sorted(r.score for r in ev.filter("NOT pos").collect())
    import bisect

    u2 = sum(
        2 * bisect.bisect_left(neg, s)
        + (bisect.bisect_right(neg, s) - bisect.bisect_left(neg, s))
        for s in pos
    )
    assert u2 == _run("eval_roc_auc", spark, sf_dir).collect()[0].u2


def test_confusion_thresholds_partition_and_monotone(spark, sf_dir):
    rows = {r.thresh: r for r in _run("eval_confusion_thresholds", spark, sf_dir).collect()}
    n = None
    for t, r in rows.items():
        total = r.tp + r.fp + r.fn + r.tn
        n = n or total
        assert total == n, "cells must partition the population at every threshold"
        assert abs(r.f1 - round(2 * r.tp / (2 * r.tp + r.fp + r.fn), 6)) < 1e-9
    # raising the threshold can only shrink the predicted-positive set
    ts = sorted(rows)
    for lo, hi in zip(ts, ts[1:]):
        assert rows[hi].tp + rows[hi].fp <= rows[lo].tp + rows[lo].fp


def test_chi_square_terms_sum_to_stat(spark, sf_dir):
    rows = _run("agg_chi_square_independence", spark, sf_dir).collect()
    assert rows
    chi2 = {r.chi2 for r in rows}
    assert len(chi2) == 1, "chi2 is a global statistic, constant across cells"
    assert abs(sum(r.term for r in rows) - chi2.pop()) < 1e-6
    # expected counts preserve the grand total
    n = sum(r.o for r in rows)
    assert abs(sum(r.expected for r in rows) - n) < 1e-3


def test_kappa_bounded_and_below_accuracy(spark, sf_dir):
    r = _run("eval_lang_id_kappa", spark, sf_dir).collect()[0]
    assert -1.0 <= r.kappa <= 1.0
    # chance-corrected agreement never exceeds raw accuracy
    assert r.kappa <= r.accuracy + 1e-9
    assert r.n > 0 and 0 <= r.diag <= r.n


def test_welch_t_matches_scipy_free_formula(spark, sf_dir):
    """Recompute t from the emitted means/vars (the emitted t uses the
    unrounded intermediates, so allow the 6dp grid)."""
    r = _run("agg_ttest_welch", spark, sf_dir).collect()[0]
    se2 = r.var_a / r.n_a + r.var_b / r.n_b
    t = (r.mean_a - r.mean_b) / se2**0.5
    assert abs(t - r.t_stat) < 1e-3
    assert r.df_welch <= r.n_a + r.n_b - 2 + 1e-6, "Welch df never exceeds pooled df"
    # purchases carry no planted mean shift vs clicks in value itself —
    # the statistic should be finite and the vars positive
    assert r.var_a > 0 and r.var_b > 0


def _raw_scores(spark, sf_dir):
    """Unrounded events.value as the score: near-unique doubles, the
    generic-score frame Engine.auc accepts (no 2-decimal grid)."""
    from nocouncil_etl_spark.io import load

    return load(spark, sf_dir, "events").select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("label"),
    )


def test_engine_auc_on_raw_scores_has_no_global_window(spark, sf_dir):
    from nocouncil_etl_spark.api import Engine
    from nocouncil_etl_spark.plancheck import plan_has_global_window

    out = Engine(spark).auc(_raw_scores(spark, sf_dir), "score", "label")
    assert not plan_has_global_window(out)


def test_engine_auc_on_raw_scores_matches_duckdb_rank_sum(spark, sf_dir, duck):
    """Engine.auc equals the textbook rank-sum AUC computed by DuckDB:
    2U = Σ_pos doubled midrank − n_pos(n_pos+1), doubled midrank =
    2·rank() − 1 + tie count."""
    from nocouncil_etl_spark.api import Engine

    got = Engine(spark).auc(_raw_scores(spark, sf_dir), "score", "label").first()
    n_pos, n_neg, u2 = duck.execute(
        """
        WITH s AS (
          SELECT value AS score,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
          FROM events
        ),
        r AS (
          SELECT label,
                 2 * rank() OVER (ORDER BY score) - 1
                   + count(*) OVER (PARTITION BY score) AS r2
          FROM s
        )
        SELECT CAST(sum(label) AS BIGINT), CAST(sum(1 - label) AS BIGINT),
               CAST(sum(label * r2) - sum(label) * (sum(label) + 1) AS BIGINT)
        FROM r
        """
    ).fetchone()
    assert (got.n_pos, got.n_neg, got.u2) == (n_pos, n_neg, u2)
    assert abs(got.auc - u2 / (2.0 * n_pos * n_neg)) <= 5e-7
