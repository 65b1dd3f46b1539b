"""Batch 31: peaks, Levene, MRR, delta method, pinball, MinHash sim."""

from __future__ import annotations

import collections

from pyspark.sql import functions as F

from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _daily(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    rows = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.sum(F.round("value").cast("long")).cast("long").alias("x"))
        .collect()
    )
    series = collections.defaultdict(list)
    for r in rows:
        series[r.event_type].append((r.d, r.x))
    return {k: [x for _, x in sorted(v)] for k, v in series.items()}


def test_peaks_match_bruteforce(spark, sf_dir):
    got = {
        (r.event_type, r.d): r
        for r in REG["ts_peak_detection"].fn(spark, sf_dir).collect()
    }
    series = _daily(spark, sf_dir)
    n_expected = 0
    for et, xs in series.items():
        for i in range(2, len(xs) - 2):
            nbrs = xs[i - 2 : i] + xs[i + 1 : i + 3]
            if all(xs[i] > v for v in nbrs):
                n_expected += 1
    assert len(got) == n_expected
    for r in got.values():
        assert r.x > r.lmax and r.x > r.rmax


def test_levene_matches_float_recompute(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    row = REG["stat_levene_mean"].fn(spark, sf_dir).collect()[0]
    vals = collections.defaultdict(list)
    for r in (
        load(spark, sf_dir, "events")
        .select("event_type", F.round(F.col("value") * 100).cast("long").alias("v"))
        .collect()
    ):
        vals[r.event_type].append(r.v)
    groups = []
    for vs in vals.values():
        m = sum(vs) // len(vs)  # exact integer mean, matching the kernel
        groups.append([abs(v - m) for v in vs])
    k = len(groups)
    n = sum(len(g) for g in groups)
    gm = sum(sum(g) for g in groups) / n
    ssb = sum(len(g) * (sum(g) / len(g) - gm) ** 2 for g in groups)
    ssw = sum(sum((z - sum(g) / len(g)) ** 2 for z in g) for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert row.k == k and row.n == n
    assert abs(row.f_stat - f) < 1e-3


def test_mrr_first_rank_verified(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    rows = {r.term: r for r in REG["eval_mrr"].fn(spark, sf_dir).collect()}
    assert rows
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for term, r in rows.items():
        tf = {}
        for d in docs:
            c = d.text.split(" ").count(term)
            if c:
                tf[d.doc_id] = c
        ranked = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))
        first = next(i + 1 for i, (_, c) in enumerate(ranked) if c >= 3)
        assert r.first_rank == first
        assert r.rr_1e6 == 1000000 // first


def test_delta_method_se_positive_and_consistent(spark, sf_dir):
    rows = REG["eval_delta_method_ratio"].fn(spark, sf_dir).collect()
    assert {r.arm for r in rows} == {0, 1}
    for r in rows:
        assert r.n > 1
        assert r.se > 0
        assert abs(r.ratio - round(r.sx / r.sy, 6)) < 1e-9


def test_pinball_loss_matches_recompute(spark, sf_dir):
    series = _daily(spark, sf_dir)
    got = {
        (r.event_type, r.q): r
        for r in REG["eval_pinball_loss"].fn(spark, sf_dir).collect()
    }
    for et, xs in series.items():
        train, test = xs[:20], xs[20:]
        if not test:
            continue
        sv = sorted(train)
        for q in (1, 5, 9):
            f = sv[(q * len(sv) + 9) // 10 - 1]
            loss = sum(
                q * (y - f) if y >= f else (10 - q) * (f - y) for y in test
            )
            r = got[(et, q)]
            assert r.f == f
            assert r.n_test == len(test)
            assert r.loss_tenths == loss


def test_minhash_sketch_query_has_no_exact_join(spark, sf_dir):
    """The registered (hot) query is sketch-only: its plan never joins
    vocabularies on term — the quadratic exact anchor lives solely in the
    _exact audit twin."""

    df = REG["text_source_minhash_sim"].fn(spark, sf_dir)
    assert "jac_exact_1e6" not in df.columns
    sk = {tuple(r[:5]) for r in df.collect()}
    ex = {tuple(r[:5]) for r in REG["text_source_minhash_sim_exact"].fn(spark, sf_dir).collect()}
    assert sk == ex  # identical sketch estimates, minus the anchor column


def test_minhash_estimate_near_exact(spark, sf_dir):
    rows = REG["text_source_minhash_sim_exact"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.est_num <= r.denom <= 64
        assert 0 <= r.jac_exact_1e6 <= 1000000
        # bottom-64 estimator: 3-sigma ~ 3*sqrt(J(1-J)/64) <= 0.1875
        assert abs(r.jac_est_1e6 - r.jac_exact_1e6) <= 250000
