"""A warm query opens its tables and validates its artifacts without a Spark
job (io.read_parquet's schema cache, centroid_artifact.corpus_fingerprint's
file-status key) — and neither ever serves stale data: a rewritten file
re-infers, a rewritten corpus republishes, a session with other Parquet
inference confs re-infers.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nocouncil_etl_spark import io
from nocouncil_etl_spark.operators import ann_index as ai
from nocouncil_etl_spark.operators import centroid_artifact as ca
from nocouncil_etl_spark.registry import load_all

REG = load_all()
_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"test-read-cache-{next(_GROUPS)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, table: pa.Table) -> None:
    """Write ``table`` to ``path``. A rewrite gets an mtime one second past
    the previous one: two writes inside one millisecond (the FileSystem's
    mtime resolution) of equal length would otherwise look unchanged."""
    old = os.stat(path).st_mtime_ns if os.path.exists(path) else None
    pq.write_table(table, str(path))
    if old is not None:
        os.utime(path, ns=(old + 10**9, old + 10**9))


# --------------------------------------------------------------------------
# io.read_parquet: the schema cache
# --------------------------------------------------------------------------


def test_warm_read_runs_no_job_and_matches_inferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"a": pa.array([1, 2, 3], pa.int64()), "s": ["x", "y", "z"]}))
    cold, _ = _jobs(spark, lambda: io.read_parquet(spark, path))
    warm, n = _jobs(spark, lambda: io.read_parquet(spark, path))
    assert n == 0
    assert warm.schema == cold.schema == spark.read.parquet(path).schema
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_rewrite_in_place_reads_new_schema(spark, tmp_path):
    """A file rewritten at the same path with another schema and row count
    must not be read through the cached schema."""
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"a": pa.array([1, 2, 3], pa.int64())}))
    assert io.read_parquet(spark, path).columns == ["a"]
    assert io.read_parquet(spark, path).count() == 3
    _write(path, pa.table({"a": [1.5] * 5, "b": ["p", "q", "r", "s", "t"]}))
    df = io.read_parquet(spark, path)
    assert df.dtypes == [("a", "double"), ("b", "string")]
    assert df.count() == 5


def test_rewritten_directory_reads_new_schema(spark, tmp_path):
    """Directory artifacts are keyed by their child listing."""
    path = str(tmp_path / "d")
    spark.range(4).write.parquet(path)
    assert io.read_parquet(spark, path).columns == ["id"]
    spark.range(7).selectExpr("id", "id * 2 AS twice").write.mode(
        "overwrite"
    ).parquet(path)
    df = io.read_parquet(spark, path)
    assert df.columns == ["id", "twice"]
    assert df.count() == 7


def _events(tmp_path, name: str, ts: pa.Array) -> str:
    """A one-table sf dir whose events.parquet carries ``ts`` as given."""
    d = tmp_path / name
    d.mkdir()
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": ts,
                "user_id": pa.array([7] * n, pa.int64()),
                "event_type": ["view"] * n,
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }
        ),
        str(d / "events.parquet"),
    )
    return str(d)


_TS = [
    dt.datetime(2024, 3, 1, 12, 0, 0, 123456),
    dt.datetime(2024, 3, 2, 8, 30, 15, 1),
    dt.datetime(2025, 1, 31, 23, 59, 59, 999999),
]


def test_events_ts_both_encodings_cold_and_warm(spark, tmp_path):
    """TIMESTAMP(NANOS) (read as long nanos) and µs NTZ encodings of the
    same instants load to the same µs TIMESTAMPs, cold and warm."""
    nanos = pa.array(
        [int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**9
         + t.microsecond * 1000 + 789 for t in _TS],
        pa.timestamp("ns", tz="UTC"),
    )
    micros = pa.array(_TS, pa.timestamp("us"))
    expected = [
        int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6 + t.microsecond
        for t in _TS
    ]
    for sf in (_events(tmp_path, "ns", nanos), _events(tmp_path, "us", micros)):
        for _ in ("cold", "warm"):
            df = io.load(spark, sf, "events")
            assert dict(df.dtypes)["ts"] == "timestamp"
            got = df.orderBy("event_id").selectExpr("unix_micros(ts) AS us").collect()
            assert [r.us for r in got] == expected


def test_other_inference_confs_do_not_reuse_cached_schema(spark, tmp_path):
    """A µs timestamp without a UTC flag infers as TIMESTAMP_NTZ by default
    and as TIMESTAMP with inferTimestampNTZ off: a session with that conf
    must infer again, not reuse the first session's schema."""
    path = str(tmp_path / "ntz.parquet")
    _write(path, pa.table({"ts": pa.array(_TS, pa.timestamp("us"))}))
    assert io.read_parquet(spark, path).dtypes == [("ts", "timestamp_ntz")]
    other = spark.newSession()
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert io.read_parquet(other, path).dtypes == [("ts", "timestamp")]
    assert io.read_parquet(spark, path).dtypes == [("ts", "timestamp_ntz")]


def test_unstatable_path_raises_like_spark(spark, tmp_path):
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        io.read_parquet(spark, str(tmp_path / "missing.parquet"))


# --------------------------------------------------------------------------
# corpus_fingerprint: file status + canonical plan digest
# --------------------------------------------------------------------------


def _corpus_file(path, seed: int, n: int = 200) -> None:
    rng = np.random.default_rng(seed)
    _write(
        path,
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "v": pa.array(
                    [list(map(float, rng.standard_normal(64))) for _ in range(n)],
                    pa.list_(pa.float64()),
                ),
            }
        ),
    )


def test_fingerprint_runs_no_job_and_tracks_derivation(spark, tmp_path):
    path = str(tmp_path / "c.parquet")
    _corpus_file(path, 1)
    io.read_parquet(spark, path)  # the first read of a file infers
    fp, n = _jobs(
        spark, lambda: ca.corpus_fingerprint(io.read_parquet(spark, path), "vec_id")
    )
    assert n == 0 and isinstance(fp, str)
    # rebuilt frames (fresh expression ids) digest the same
    assert ca.corpus_fingerprint(io.read_parquet(spark, path), "vec_id") == fp
    derived = io.read_parquet(spark, path).filter("vec_id % 2 = 0")
    assert ca.corpus_fingerprint(derived, "vec_id") != fp


def test_fingerprint_falls_back_without_file_lineage(spark, tmp_path):
    """Local data and a file scan unioned with local data keep the
    aggregate key — the plan text does not show local rows."""
    path = str(tmp_path / "c.parquet")
    _corpus_file(path, 1, n=10)
    local = spark.createDataFrame([(1000, [0.0] * 64)], "vec_id long, v array<double>")
    assert ca.corpus_fingerprint(local, "vec_id") == {"n": 1, "s": 1000, "m": 1000}
    mixed = io.read_parquet(spark, path).unionByName(local)
    assert ca.corpus_fingerprint(mixed, "vec_id") == {"n": 11, "s": 1045, "m": 1000}


def _served_lsh(spark, corpus_path, index_path):
    corpus = io.read_parquet(spark, corpus_path).selectExpr("vec_id AS c_id", "v AS c_vec")
    idx, cent = ai.serve_vector_index(corpus, index_path, "c_id", "c_vec")
    queries = corpus.filter("c_id % 20 = 0").selectExpr("c_id AS q_id", "c_vec AS q_vec")
    return sorted(
        (r.q_id, r.c_id, r.rk)
        for r in ai.knn_from_index(queries, idx, cent, 5, strategy="lsh").collect()
    )


def test_inplace_corpus_rewrite_serves_fresh_neighbours(spark, tmp_path):
    """Same ids, new vectors, same path: the served index must follow the
    new corpus (an id-only aggregate key served the stale index)."""
    path = str(tmp_path / "corpus.parquet")
    _corpus_file(path, 1)
    before = _served_lsh(spark, path, str(tmp_path / "idx"))
    _corpus_file(path, 2)
    after = _served_lsh(spark, path, str(tmp_path / "idx"))
    fresh = _served_lsh(spark, path, str(tmp_path / "fresh"))
    assert after == fresh
    assert after != before


def test_old_format_manifest_republishes_once(spark, tmp_path, monkeypatch):
    """A manifest keyed by the old id aggregate never matches a file-keyed
    corpus: the first serve republishes, the next one hits."""
    path =str(tmp_path / "corpus.parquet")
    _corpus_file(path, 3, n=60)
    idx = str(tmp_path / "idx")
    _served_lsh(spark, path, idx)
    mf = ca.read_manifest(idx)
    ca.write_manifest(idx, {**mf, "fp": {"n": 60, "s": 1770, "m": 59}})
    publishes = []
    real = ca.publish
    monkeypatch.setattr(ca, "publish", lambda p, w: publishes.append(p) or real(p, w))
    _served_lsh(spark, path, idx)
    _served_lsh(spark, path, idx)
    assert len(publishes) == 1
    assert isinstance(ca.read_manifest(idx)["fp"], str)


# --------------------------------------------------------------------------
# warm serving: construction jobs
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    ("name", "max_jobs"),
    [
        ("vec_knn_index_kmeans_serve", 2),
        ("dedup_semantic_serve", 1),
        ("vec_knn_index_kmeans_build", 6),
        ("vec_knn_index_kmeans", 8),
        ("retrieval_rrf_fusion", 1),
        ("text_bm25_search", 0),
        ("eval_ndcg_at_k", 0),
        ("eval_retrieval_pr_at_k", 0),
    ],
)
def test_warm_serve_construction_jobs(spark, sf_dir, name, max_jobs):
    """Warm construction runs only data jobs: no schema inference, no
    fingerprint aggregate, no Spark job to write or read the centroid
    matrix. The two rebuilding k-means queries run only their training
    jobs plus one narrow index write (and, for the searching one, its
    query-side collects; the rebuilt index is read with its known schema).
    The BM25 queries pin their per-doc frame lazily, so they run no job
    before the action; the fused one collects only its query vector."""
    try:
        REG[name].fn(spark, sf_dir).collect()  # cold: publish if absent
        _, n = _jobs(spark, lambda: REG[name].fn(spark, sf_dir))
    finally:
        spark.catalog.clearCache()
    assert n <= max_jobs
