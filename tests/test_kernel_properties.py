"""Hypothesis property tests over the pure-python kernels (SURVEY.md §5.2-3)
— fast (no Spark jobs), they pin the algebraic invariants the distributed
operators rely on.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nocouncil_etl_spark.operators.models import (
    hash_projection_embed,
    summarize_extractive,
)

words_st = st.lists(
    st.text(alphabet="abcdefghij", min_size=1, max_size=12), min_size=1, max_size=60
)


def _minhash_py(shingles: list[str], seed: int, width: int = 12) -> str | None:
    return min(
        (hashlib.md5(f"{seed}|{s}".encode()).hexdigest()[:width] for s in shingles),
        default=None,
    )


def _shingles(ws: list[str], n: int) -> list[str]:
    return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)] if len(ws) >= n else []


@given(words_st)
@settings(max_examples=200, deadline=None)
def test_embedding_is_unit_norm_and_deterministic(ws):
    text = " ".join(ws)
    v1 = hash_projection_embed(text)
    v2 = hash_projection_embed(text)
    assert v1 == v2
    norm = math.sqrt(sum(x * x for x in v1))
    assert abs(norm - 1.0) < 1e-9 or norm == 0.0


@given(words_st, words_st)
@settings(max_examples=100, deadline=None)
def test_minhash_of_union_is_min_of_minhashes(a, b):
    """The property LSH banding depends on: mh(A ∪ B) = min(mh(A), mh(B))."""
    sa, sb = _shingles(a, 1), _shingles(b, 1)
    mu = _minhash_py(sa + sb, seed=0)
    ma, mb = _minhash_py(sa, seed=0), _minhash_py(sb, seed=0)
    expected = min(x for x in (ma, mb) if x is not None)
    assert mu == expected


@given(words_st)
@settings(max_examples=100, deadline=None)
def test_minhash_is_order_and_duplication_invariant(ws):
    """Min over a set: permuting or duplicating shingles can't change it —
    why the exploded aggregation needs no ordering guarantees."""
    sh = _shingles(ws, 1)
    assert _minhash_py(sh, 3) == _minhash_py(list(reversed(sh)), 3)
    assert _minhash_py(sh, 3) == _minhash_py(sh + sh, 3)


@given(words_st, st.integers(min_value=1, max_value=5))
@settings(max_examples=100, deadline=None)
def test_shingle_count(ws, n):
    sh = _shingles(ws, n)
    assert len(sh) == max(0, len(ws) - n + 1)
    assert all(len(s.split(" ")) == n for s in sh)


@given(words_st, words_st)
@settings(max_examples=100, deadline=None)
def test_jaccard_bounds_and_symmetry(a, b):
    sa, sb = set(_shingles(a, 1)), set(_shingles(b, 1))
    if not (sa | sb):
        return
    j = len(sa & sb) / len(sa | sb)
    assert 0.0 <= j <= 1.0
    assert j == len(sb & sa) / len(sb | sa)
    assert (j == 1.0) == (sa == sb)


@given(words_st)
@settings(max_examples=100, deadline=None)
def test_summarize_extractive_contract(ws):
    text = " ".join(ws)
    summary, quotes, n = summarize_extractive(text)
    assert n == len(ws)
    assert len(quotes) <= 3 and all(len(q) >= 6 for q in quotes)
    assert text.startswith(summary)


@given(words_st)
@settings(max_examples=50, deadline=None)
def test_simhash_bit_rule_is_order_invariant(ws):
    """SimHash majority vote ignores word order — why the grouped-sum
    implementation needs no sort."""

    def simhash(words: list[str]) -> str:
        bits = []
        for i in range(1, 17):
            ones = sum(1 for w in words if hashlib.md5(w.encode()).hexdigest()[i - 1] >= "8")
            bits.append("1" if 2 * ones > len(words) else "0")
        return "".join(bits)

    assert simhash(ws) == simhash(list(reversed(ws)))


def test_knn_blocked_guards_large_query_side(spark, monkeypatch):
    """A query side larger than the driver-capture cap must fail fast with
    guidance toward the distributed strategies, not OOM the driver."""
    import pytest

    from nocouncil_etl_spark.operators import similarity

    monkeypatch.setattr(similarity, "MAX_BLOCKED_QUERIES", 3)
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], "q_id long, q_vec array<double>"
    )
    corpus = vecs.select(
        vecs.q_id.alias("c_id"), vecs.q_vec.alias("c_vec")
    )
    with pytest.raises(ValueError, match="knn_lsh"):
        similarity.knn_exact_blocked(vecs, corpus, k=2)


_FALLBACK_CASES = [
    "partitioned", "ivf_probe", "lsh", "lsh_multi", "kmeans_index",
    "index_lsh", "index_lsh_multi", "index_ivf",
]


@pytest.mark.parametrize("case", _FALLBACK_CASES)
def test_knn_falls_back_distributed_over_cap(spark, tmp_path, monkeypatch, case):
    """Every keyed kNN path over MAX_BLOCKED_QUERIES must NOT fail: it takes
    blocked_topk's one distributed shuffle_hash equi-join fallback, and the
    fallback's results are identical to the blocked kernel's. Vectors are
    three tight 64-dim clusters (so LSH buckets collide) plus a zero vector
    (null sims ranked last)."""
    import contextlib
    import io

    import numpy as np

    from nocouncil_etl_spark.operators import ann_index, kmeans_index, similarity

    rng = np.random.default_rng(3)
    bases = rng.standard_normal((3, 64))
    noisy = bases[np.arange(24) % 3] + 0.05 * rng.standard_normal((24, 64))
    rows = [
        (i, i % 3, [round(float(x), 6) for x in noisy[i]]) for i in range(24)
    ] + [(24, 0, [0.0] * 64)]
    vecs = spark.createDataFrame(rows, "q_id long, part int, q_vec array<double>")
    corpus = vecs.select(
        vecs.part, vecs.q_id.alias("c_id"), vecs.q_vec.alias("c_vec")
    )
    if case == "kmeans_index":
        kvecs = vecs.select(vecs.q_id.alias("vec_id"), vecs.q_vec.alias("v"))
        path = str(tmp_path / "kidx")
        kmeans_index.publish_kmeans_index(kvecs, 3, 2, path)
    if case.startswith("index_"):
        index, cent = ann_index.build_vector_index(corpus)
    run = {
        "partitioned": lambda: similarity.knn_partitioned(vecs, corpus, 3, "part"),
        "ivf_probe": lambda: similarity.knn_ivf_probe(
            vecs, corpus, 3, "part", nprobe=2
        ),
        "lsh": lambda: similarity.knn_lsh(vecs, corpus, 3),
        "lsh_multi": lambda: similarity.knn_lsh_multi(vecs, corpus, 3),
        "kmeans_index": lambda: kmeans_index.search_kmeans_index(kvecs, path, 2, 3),
        "index_lsh": lambda: ann_index.knn_from_index(vecs, index, cent, 3, "lsh"),
        "index_lsh_multi": lambda: ann_index.knn_from_index(
            vecs, index, cent, 3, "lsh_multi"
        ),
        "index_ivf": lambda: ann_index.knn_from_index(
            vecs, index, cent, 3, "ivf", nprobe=2
        ),
    }[case]

    def result(df):
        return sorted(map(tuple, df.select("q_id", "c_id", "sim", "rk").collect()))

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    blocked = run()
    assert "ShuffledHashJoin" not in plan(blocked)
    want = result(blocked)
    monkeypatch.setattr(similarity, "MAX_BLOCKED_QUERIES", 3)
    fallback = run()
    assert "ShuffledHashJoin" in plan(fallback)
    assert result(fallback) == want
    assert len(want) > 24


def test_knn_blocked_zero_norm_scores_null(spark):
    """Zero-norm vectors have undefined cosine: sim must surface as null and
    rank last — matching knn_exact's F.when(null) semantics."""
    from nocouncil_etl_spark.operators.similarity import knn_exact, knn_exact_blocked

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])]
    q = spark.createDataFrame(rows, "q_id long, q_vec array<double>")
    c = spark.createDataFrame(
        [(i, v) for i, v in rows], "c_id long, c_vec array<double>"
    )
    exact = {
        (r.q_id, r.rk): (r.c_id, r.sim)
        for r in knn_exact(q, c, k=3).collect()
    }
    blocked = {
        (r.q_id, r.rk): (r.c_id, r.sim)
        for r in knn_exact_blocked(q, c, k=3).collect()
    }
    assert blocked == exact


def test_connected_components_closes_chains(spark):
    """A~B, B~C, D~E must yield two components {A,B,C} and {D,E} labeled by
    their min node — pairwise dropping would miss the A~C closure."""
    from nocouncil_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 4), (7, 6), (6, 8), (8, 9)], "src long, dst long"
    )
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 6, 9: 6}


def test_connected_components_raises_when_unconverged(spark):
    """A chain whose diameter exceeds max_iters must raise, not return
    silently-wrong split clusters (ADVICE r2)."""
    import pytest

    from nocouncil_etl_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2)


def test_pair_kernels_tiling_is_result_invariant(spark, sf_dir, monkeypatch):
    """The in-cluster/in-block pair kernels (semantic.cluster_pair_scan and
    vec_neardup_cosine's block_pairs) tile their row side under
    PAIR_TILE_ELEMS; forcing one-row tiles must leave the emitted pair
    sets bit-identical to the default run — same guard class as the
    mutual-kNN tiling test in test_breadth43.py."""
    from nocouncil_etl_spark.operators import semantic
    from nocouncil_etl_spark.registry import load_all

    reg = load_all()
    for qname in ("dedup_semantic_centroid", "vec_neardup_cosine"):
        base = sorted(map(tuple, reg[qname].fn(spark, sf_dir).collect()))
        monkeypatch.setattr(semantic, "PAIR_TILE_ELEMS", 1)
        tiled = sorted(map(tuple, reg[qname].fn(spark, sf_dir).collect()))
        monkeypatch.undo()
        assert tiled == base
        assert base, qname  # non-vacuous


def test_release_checkpoint_frees_storage_blocks(spark):
    """_release_checkpoint's contract: a superseded localCheckpoint's
    blocks leave executor storage immediately (the iterative operators —
    star_components, hits_fixed_point, connected_components — rely on
    this to keep per-round state from accumulating until JVM GC). The
    helper is best-effort by design, so this test pins that the plan
    shape it reaches through (analyzed LogicalRDD → persisted RDD) still
    holds on the running Spark version."""
    from pyspark.sql import functions as F

    from nocouncil_etl_spark.operators.graph import _release_checkpoint

    def n_stored():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base = n_stored()
    cp = (
        spark.range(500)
        .select(F.col("id").alias("u"), (F.col("id") % 7).alias("v"))
        .localCheckpoint(eager=True)
    )
    assert n_stored() == base + 1
    assert cp.count() == 500
    _release_checkpoint(cp)
    assert n_stored() == base

    # the LAZY shape too (round-10 ADVICE #5): hits_fixed_point checkpoints
    # with eager=False — blocks materialize at the first action, and the
    # analyzed-plan reach-through must release THAT form as well, or every
    # HITS round's half-step state accumulates undetected
    lazy = (
        spark.range(300)
        .select(F.col("id").alias("u"), (F.col("id") % 5).alias("v"))
        .localCheckpoint(eager=False)
    )
    assert lazy.count() == 300  # materializes the checkpoint blocks
    assert n_stored() == base + 1
    _release_checkpoint(lazy)
    assert n_stored() == base


def test_star_components_matches_min_label_on_random_graph(spark):
    """star_components (O(log^2) edge rewiring) must produce the identical
    (node -> min-id) labeling as connected_components on an arbitrary mix
    of chains, cliques, and pairs — it is the drop-in for graphs whose
    component diameter grows with data (r9: the sf1 DBSCAN graph took 28
    min-label rounds, 6 star rounds, same labels)."""
    import random

    from nocouncil_etl_spark.operators.dedup import connected_components
    from nocouncil_etl_spark.operators.graph import star_components

    rnd = random.Random(9)
    edges = []
    # chain 0..29 (the adversarial case for label propagation)
    edges += [(i, i + 1) for i in range(29)]
    # clique 100..104
    clique = list(range(100, 105))
    edges += [(a, b) for a in clique for b in clique if a < b]
    # random pairs in 200..239
    edges += [
        (rnd.randrange(200, 240), rnd.randrange(200, 240)) for _ in range(30)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = {r.node: r.comp for r in connected_components(df, max_iters=40).collect()}
    got = {
        r.node: r.comp
        for r in star_components(df, "src", "dst").collect()
    }
    assert got == want


def test_star_components_long_chain_fast_rounds(spark):
    """A 30-node chain converges well inside 8 star rounds (min-label needs
    ~30); the bound doubles as the convergence regression."""
    from nocouncil_etl_spark.operators.graph import star_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    got = {r.node: r.comp for r in star_components(chain, "src", "dst", max_iters=8).collect()}
    assert got == {i: 0 for i in range(31)}


def test_star_components_raises_when_unconverged(spark):
    """Hitting max_iters must raise — a partial star forest is silently
    wrong clusters (the connected_components contract)."""
    import pytest

    from nocouncil_etl_spark.operators.graph import star_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        star_components(chain, "src", "dst", max_iters=1)


def test_features_map_quarantines_null_content(spark):
    """A None binary value degrades to zero stats per row — never fails the
    stage (ADVICE r2: the module's poison-row contract)."""
    from nocouncil_etl_spark.operators.multimodal import (
        FEATURES_SCHEMA,
        features_map,
    )

    df = spark.createDataFrame(
        [(1, b"ab"), (2, None), (3, b"")], "doc_id long, content binary"
    )
    got = {
        r.doc_id: (r.byte_len, r.sum_bytes, r.max_byte, r.n_frames)
        for r in df.mapInPandas(features_map, FEATURES_SCHEMA).collect()
    }
    assert got[1] == (2, ord("a") + ord("b"), ord("b"), 1)
    assert got[2] == (0, 0, 0, 1)
    assert got[3] == (0, 0, 0, 1)


def test_mean_pool_half_up_at_boundary(spark):
    """Components on a .5e-6 boundary quantize HALF_UP like the oracle's
    DECIMAL(18,6) cast — np.round's half-even would pool 2.5e-6 down to 2
    micro-units (ADVICE r2)."""
    from nocouncil_etl_spark.operators.udaf import mean_pool

    df = spark.createDataFrame(
        [(1, [2.5e-6, -2.5e-6]), (1, [2.5e-6, -2.5e-6])],
        "k long, v array<double>",
    )
    row = mean_pool(df, key="k", vec_col="v", out_dims=2).first()
    assert row.p0 == 3e-6  # HALF_UP: 2.5 → 3 micro-units
    assert row.p1 == -3e-6  # away from zero, not toward even


def test_money_split_sum_equals_decimal_kernel_hypothesis(spark):
    """Property form: on ANY batch of non-negative values from the 6dp grid
    (including .5-boundary landmines and values spanning 0..1e6), the
    split-long kernel's finished sum/avg equal the decimal kernel's."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from nocouncil_etl_spark.functions.numeric import (
        money_avg_col,
        money_parts,
        money_sum_col,
        ravg,
        rsum,
    )

    grid = st.integers(0, 10**12).map(lambda m: m / 1e6)  # exact 6dp values

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(xs=st.lists(grid, min_size=1, max_size=40))
    def check(xs):
        df = spark.createDataFrame([("k", x) for x in xs], "k string, x double")
        split = (
            df.groupBy("k")
            .agg(*money_parts("x", "x"), F.count(F.lit(1)).alias("n"))
            .select(
                money_sum_col("x").alias("s2"),
                money_avg_col("x", "n").alias("a4"),
            )
            .first()
        )
        dec = df.groupBy("k").agg(
            rsum("x").alias("s2"), ravg("x").alias("a4")
        ).first()
        assert (split.s2, split.a4) == (dec.s2, dec.a4), xs

    check()


def test_money_split_sum_equals_decimal_kernel(spark):
    """The split-long money kernel (functions.numeric.money_parts) must yield
    the same finished values as the DECIMAL(18,6) kernel for data on a ≤6dp
    grid — including rows engineered to land on .5 rounding boundaries of the
    2dp finish (sum ...005) and sub-cent fractions that only an exact 6dp
    accumulation can carry."""
    from pyspark.sql import functions as F

    from nocouncil_etl_spark.functions.numeric import (
        money_avg_col,
        money_parts,
        money_sum_col,
        ravg,
        rsum,
    )

    rows = [
        ("a", 0.005), ("a", 10.0), ("a", 3.141592),      # sum 13.146592
        ("b", 0.004999), ("b", 0.000001), ("b", 2.125),  # sum 2.13 exactly on .005? 2.130000
        ("c", 999999.999999), ("c", 0.000001),           # carry across the int boundary
        ("d", 0.015), ("d", 0.025),                      # 0.04, each addend a 2dp tie
    ]
    df = spark.createDataFrame(rows, "k string, x double")
    split = (
        df.groupBy("k")
        .agg(*money_parts("x", "x"), F.count(F.lit(1)).alias("n"))
        .select(
            "k",
            money_sum_col("x").alias("s2"),
            money_avg_col("x", "n").alias("a4"),
        )
    )
    dec = df.groupBy("k").agg(
        rsum("x").alias("s2"), ravg("x").alias("a4")
    )
    got = {r.k: (r.s2, r.a4) for r in split.collect()}
    want = {r.k: (r.s2, r.a4) for r in dec.collect()}
    assert got == want, f"{got} != {want}"


def test_round6_like_spark_matches_engines_on_adversarial_values(spark, duck):
    """The HALF_UP rounding twin (similarity._round6_like_spark) must agree
    with BOTH engines' round(x, 6) on adversarial inputs — exact half-way
    points on the 1e-7 grid, near-half values one ulp either side, and a
    hypothesis-style sweep of random doubles. This is the parity rule
    every kernel-emitted similarity leans on."""
    import random

    from nocouncil_etl_spark.operators.similarity import _round6_like_spark

    vals = [0.1234565, 0.9999995, 0.0000005, 1.0000005, 0.1234575]
    vals += [v + e for v in vals for e in (-1e-12, 1e-12)]
    rng = random.Random(42)
    vals += [rng.uniform(-1, 1) for _ in range(500)]

    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [r["r"] for r in
                 sdf.selectExpr("round(x, 6) AS r").collect()]
    got_duck = [row[0] for row in duck.execute(
        "SELECT round(x, 6) FROM (SELECT unnest(?) AS x)", [vals]
    ).fetchall()]
    ours = [_round6_like_spark(v) for v in vals]
    mism_s = [(v, o, g) for v, o, g in zip(vals, ours, got_spark) if o != g]
    mism_d = [(v, o, g) for v, o, g in zip(vals, ours, got_duck) if o != g]
    assert not mism_s, f"helper vs Spark: {mism_s[:3]}"
    assert not mism_d, f"helper vs DuckDB: {mism_d[:3]}"
