"""Breadth batch 22 + streaming CEP semantics."""

from __future__ import annotations

from nocouncil_etl_spark.registry import load_all

REG = load_all()


def test_bitmap_distinct_is_exact_everywhere(spark, sf_dir):
    rows = REG["sketch_bitmap_distinct"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.merge_exact  # OR-merged shard bitmaps popcount to the truth
        assert r.n_bitmap == r.n_exact > 0


def test_contamination_bloom_never_misses(spark, sf_dir):
    row = REG["contamination_bloom_gate"].fn(spark, sf_dir).first()
    assert row.n_exact > 0          # planted excerpts really contaminate
    assert row.n_false_neg == 0     # blooms cannot miss — structural
    assert row.n_bloom >= row.n_exact
    assert row.n_false_pos == row.n_bloom - row.n_exact
    # the gate stays useful: false positives are a minority of train docs
    assert row.n_false_pos * 4 <= row.n_train


def test_rake_phrases_contain_no_stopwords(spark, sf_dir):
    from nocouncil_etl_spark.plans.breadth22 import (
        RAKE_MAX_LEN,
        RAKE_STOP,
        RAKE_TOPK,
    )

    rows = REG["text_keyphrase_rake"].fn(spark, sf_dir).collect()
    assert rows
    per_doc: dict[int, list] = {}
    for r in rows:
        words = r.phrase.split(" ")
        assert 1 <= len(words) <= RAKE_MAX_LEN and len(words) == r.plen
        assert not (set(words) & set(RAKE_STOP))
        assert r.score_1e6 > 0
        per_doc.setdefault(r.doc_id, []).append(r)
    for docrows in per_doc.values():
        assert len(docrows) <= RAKE_TOPK
        ordered = sorted(docrows, key=lambda r: r.rk)
        scores = [r.score_1e6 for r in ordered]
        assert scores == sorted(scores, reverse=True)


def test_dataset_card_consistency(spark, sf_dir):
    from nocouncil_etl_spark.io import load

    row = REG["curation_dataset_card"].fn(spark, sf_dir).first()
    n = load(spark, sf_dir, "documents").count()
    assert row.n_docs == n
    assert row.min_tok <= row.avg_tok <= row.max_tok
    assert row.total_tok >= row.n_docs * row.min_tok
    assert 0 <= row.dup_rate_1e6 <= 1_000_000
    assert row.n_exact_dups >= 0


def test_kmeans_elbow_inertia_monotone(spark, sf_dir):
    from nocouncil_etl_spark.plans.breadth22 import ELBOW_KS

    rows = {r.k: r for r in REG["ml_kmeans_elbow"].fn(spark, sf_dir).collect()}
    assert set(rows) == set(ELBOW_KS)
    inertias = [rows[k].inertia for k in sorted(ELBOW_KS)]
    # more clusters → never-worse fit (same seeds prefix + argmin assignment)
    assert inertias == sorted(inertias, reverse=True)
    for r in rows.values():
        assert 0 < r.n_used <= r.k


def test_stream_cep_equals_batch_twin(spark, sf_dir):
    got = REG["stream_cep_pattern"].fn(spark, sf_dir)
    want = REG["cep_pattern_match"].fn(spark, sf_dir)
    cols = ["purchase_id", "user_id", "view_id", "click_id", "span_us"]
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0
    assert want.count() > 0
