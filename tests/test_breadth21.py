"""Breadth batch 21 semantics: bloom pruning funnel, phrase positions, layout
skipping, CEP matches, LSH recall ordering."""

from __future__ import annotations

from pyspark.sql import functions as F

from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_bloom_funnel_monotone_and_no_false_negatives(spark, sf_dir, duck):
    row = REG["join_bloom_pruned"].fn(spark, sf_dir).first()
    # funnel shrinks monotonically: fact ≥ bloom survivors ≥ exact matches
    assert row.n_fact >= row.n_bloom_pass >= row.n_exact > 0
    # no false negatives: exact-over-survivors equals exact-over-everything
    want = duck.execute(
        """
        SELECT count(*), CAST(sum(l_quantity) AS BIGINT)
        FROM read_parquet('{sf}/lineitem.parquet') l
        JOIN read_parquet('{sf}/supplier.parquet') s
          ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey % 5 = 0
        """.format(sf=sf_dir)
    ).fetchone()
    assert (row.n_exact, row.sum_qty) == want


def test_phrase_search_hits_planted_only(spark, sf_dir):
    rows = REG["text_phrase_search"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # only the %20==0 plants carry 'alpha beta gamma'; the %20==10
        # near-miss ('alpha beta delta') must NOT match
        assert r.doc_id % 20 == 0
        assert r.n_occurrences == 1


def test_layout_clustered_scans_fewer_rows(spark, sf_dir):
    rows = {r.layout: r for r in REG["layout_minmax_pruning"].fn(spark, sf_dir).collect()}
    ins, clu = rows["insertion"], rows["clustered"]
    # same predicate → same matching rows either way
    assert ins.rows_matching == clu.rows_matching
    # the value-clustered layout skips most files; insertion order can't
    assert clu.rows_scanned < ins.rows_scanned
    # compare scan FRACTIONS (the layouts produce different file counts)
    assert (
        clu.files_scanned * ins.n_files * 2 <= ins.files_scanned * clu.n_files
    )


def test_cep_matches_satisfy_pattern(spark, sf_dir):
    from nocouncil_etl_spark.io import load
    from nocouncil_etl_spark.plans.breadth21 import CEP_WINDOW_US

    out = REG["cep_pattern_match"].fn(spark, sf_dir).cache()
    rows = out.collect()
    assert rows  # pattern fires on the synthetic stream
    ev = {
        r.event_id: r
        for r in load(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", F.unix_micros("ts").alias("t"))
        .collect()
    }
    errors_by_user: dict[int, list[int]] = {}
    for r in ev.values():
        if r.event_type == "error":
            errors_by_user.setdefault(r.user_id, []).append(r.t)
    for m in rows:
        v, c, p = ev[m.view_id], ev[m.click_id], ev[m.purchase_id]
        assert (v.event_type, c.event_type, p.event_type) == (
            "view",
            "click",
            "purchase",
        )
        assert v.user_id == c.user_id == p.user_id == m.user_id
        assert v.t < c.t < p.t
        assert p.t - v.t <= CEP_WINDOW_US
        assert m.span_us == p.t - v.t
        for et in errors_by_user.get(m.user_id, []):
            assert not (v.t < et <= p.t)  # negation clause holds
    out.unpersist()


def test_lsh_recall_grid_or_beats_and(spark, sf_dir):
    rows = {
        (r.n_bands, r.rows_per_band): r
        for r in REG["eval_lsh_recall_grid"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {(1, 4), (2, 2), (4, 1)}
    n_true = {r.n_true for r in rows.values()}
    assert len(n_true) == 1  # same ground truth for every config
    # more, smaller bands = OR-amplification → recall is monotone
    assert rows[(1, 4)].n_caught <= rows[(2, 2)].n_caught <= rows[(4, 1)].n_caught
    assert rows[(4, 1)].n_caught > 0
