"""Semantic invariants for BM25 ranking and the Naive Bayes classifier."""

from __future__ import annotations

import math
import re

import pytest

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.plancheck import walk_plan
from nocouncil_etl_spark.plans.retrieval_plans import B, BM25_TOP, K1, QUERY_TERMS
from nocouncil_etl_spark.registry import load_all

REG = load_all()


def _run(name, spark, sf_dir):
    return REG[name].fn(spark, sf_dir)


def _tokens(text: str) -> list[str]:
    import re

    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


def test_bm25_matches_python_reference(spark, sf_dir):
    """Recompute BM25 in plain Python over the whole corpus and compare the
    top-k ranking (scores to the 6dp grid the query quantizes on)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    toks = {r.doc_id: _tokens(r.text) for r in docs}
    dl = {d: len(t) for d, t in toks.items()}
    n, total = len(dl), sum(dl.values())
    tf = {}
    for d, t in toks.items():
        for q in QUERY_TERMS:
            c = t.count(q)
            if c:
                tf[(d, q)] = c
    df = {q: sum(1 for (d, qq) in tf if qq == q) for q in QUERY_TERMS}
    scores = {}
    for (d, q), c in tf.items():
        idf = math.log(1.0 + (n - df[q] + 0.5) / (df[q] + 0.5))
        norm = c + K1 * (1.0 - B + B * dl[d] * n / float(total))
        scores[d] = scores.get(d, 0.0) + round(idf * c * (K1 + 1.0) / norm, 6)
    expect = sorted(
        ((round(s, 6), d) for d, s in scores.items()), key=lambda x: (-x[0], x[1])
    )[:BM25_TOP]
    got = [
        (round(r.bm25, 6), r.doc_id)
        for r in _run("text_bm25_search", spark, sf_dir).collect()
    ]
    assert [d for _, d in got] == [d for _, d in expect]
    for (gs, _), (es, _) in zip(got, expect):
        assert abs(gs - es) < 2e-6


def test_bm25_scores_monotone_and_hit_only(spark, sf_dir):
    rows = _run("text_bm25_search", spark, sf_dir).collect()
    assert rows and len(rows) <= BM25_TOP
    assert all(r.n_hit_terms >= 1 for r in rows)
    ss = [r.bm25 for r in rows]
    assert ss == sorted(ss, reverse=True)


def test_naive_bayes_beats_majority_baseline(spark, sf_dir):
    conf = _run("model_naive_bayes_lang", spark, sf_dir).collect()
    total = sum(r.n_docs for r in conf)
    correct = sum(r.n_docs for r in conf if r.actual == r.predicted)
    by_actual = {}
    for r in conf:
        by_actual[r.actual] = by_actual.get(r.actual, 0) + r.n_docs
    majority = max(by_actual.values()) / total
    acc = correct / total
    # trained on its own labels, NB must beat always-predict-majority
    assert acc > majority, f"acc {acc} vs majority {majority}"
    # predictions only come from observed classes
    assert {r.predicted for r in conf} <= set(by_actual)


# --------------------------------------------------------------------------
# BM25 kernel: executed-plan shape and zero-token documents
# --------------------------------------------------------------------------

BM25_QUERIES = [
    "text_bm25_search",
    "retrieval_rrf_fusion",
    "eval_ndcg_at_k",
    "eval_retrieval_pr_at_k",
    "pipeline_retrieval_e2e",
]


def _head(node) -> str:
    return node.toString().splitlines()[0]


@pytest.mark.parametrize("name", BM25_QUERIES)
def test_bm25_plan_tokenizes_once_after_fan_out(spark, sf_dir, name):
    """Executed plan of each BM25 query: the tokenizer never runs below the
    round-robin fan-out (nothing pushed into the scan's tasks), the
    documents table is scanned once (the statistics and scoring branches
    share the pinned per-doc relation), and no broadcast join is keyed on
    the term."""
    df = REG[name].fn(spark, sf_dir)
    try:
        df.collect()
        scans = 0
        for node in walk_plan(df._jdf.queryExecution().executedPlan()):
            head = _head(node)
            if "RoundRobinPartitioning" in head:
                below = [_head(n) for n in walk_plan(node)]
                assert not any("split(lower(" in h for h in below), head
            if node.nodeName().startswith("Scan parquet") and "documents" in head:
                scans += 1
            if node.nodeName().startswith("BroadcastHashJoin"):
                assert not re.search(r"\bterm#", head), head
        assert scans == 1
    finally:
        spark.catalog.clearCache()


def test_bm25_zero_token_docs_leave_no_trace(spark, tmp_path):
    """A punctuation-only, an empty and a NULL-text document have no
    tokens: they are not counted in n_docs or total_len (the oracle's dl
    CTE has no row for them), so adding them changes no score, and the
    ranking equals DuckDB's on the same table."""
    import duckdb

    rows = [
        (1, "Spark query spark"),
        (2, "window stream, vector!"),
        (3, "Spark streaming: window query vector vector"),
        (4, "nothing relevant here at all"),
        (5, "spark spark spark window"),
        (6, "stream vector query"),
    ]
    blank = [(7, "...!!! ??? --- ;"), (8, ""), (9, None)]

    def run(data, sub):
        d = tmp_path / sub
        d.mkdir()
        path = str(d / "documents.parquet")
        spark.createDataFrame(data, "doc_id long, text string").write.parquet(path)
        try:
            got = REG["text_bm25_search"].fn(spark, str(d)).collect()
        finally:
            spark.catalog.clearCache()
        with duckdb.connect() as con:
            con.execute(
                "CREATE VIEW documents AS"
                f" SELECT * FROM read_parquet('{path}/*.parquet')"
            )
            want = con.execute(REG["text_bm25_search"].oracle).fetchall()
        return [tuple(r) for r in got], want

    got, want = run(rows + blank, "with_blank")
    base, _ = run(rows, "without_blank")
    assert [r[0] for r in got] == [r[0] for r in want]
    for g, w in zip(got, want):
        assert g[1] == w[1] and abs(g[2] - w[2]) < 1e-9
    assert got == base
