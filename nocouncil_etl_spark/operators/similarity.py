"""Similarity search operators (SURVEY.md §2.9 E3, §4.2-1).

The reference's ANN is ChromaDB HNSW over cosine space (vectorize.py:119-123);
queried top-k out of repo. The engine provides a strategy ladder:

1. ``knn_exact``  — brute-force: join queries × corpus, cosine, window top-k.
   O(|Q|·|C|) — correct baseline, fine when |Q| is small or |C| is broadcast-able.
2. ``knn_partitioned`` — IVF-style: restrict pairing to a coarse partition
   (here the ``label`` column stands in for a centroid assignment), cutting
   the candidate set by the partition fan-out.
3. ``lsh_bucket`` / ``knn_lsh`` — random-hyperplane (SimHash) LSH: bucket by
   sign-bit signature, pair only within buckets. At 100 TB this is the scale
   path: bucketing is a narrow map, pairing is an equi-join shuffle on the
   bucket key — no quadratic stage anywhere. Hyperplanes are derived from a
   fixed seed so results are deterministic and oracle-checkable.

Every strategy but ``knn_exact`` scores through ONE primitive,
``blocked_topk``: a per-batch numpy top-k over a bounded, collected query
side, keyed by nothing, a column, an array column or in-kernel LSH
signatures, with one distributed equi-join fallback above
MAX_BLOCKED_QUERIES. ``knn_exact`` stays the pure column-expression
reference (functions/vectors.py) the others are tested against.
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nocouncil_etl_spark.functions.vectors import as_double, cosine, dot, l2_norm

LSH_SEED = 42
LSH_PLANES = 8
LSH_DIM = 64

# OR-amplification: L independent, identically-seeded-apart signature tables.
# Fewer planes per table than the single-table path (wider buckets) × more
# tables = the recall knob; candidates are the UNION over tables, so recall
# compounds as 1-(1-p^r)^L while cost stays a bucketed equi-join.
LSH_MULTI_TABLES = 4
LSH_MULTI_PLANES = 6


def _planes(seed: int, n_planes: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return [
        [round(float(x), 6) for x in rng.standard_normal(LSH_DIM)]
        for _ in range(n_planes)
    ]


# Deterministic hyperplane matrices, shared by the Spark plan and the
# generated oracle SQL (plans/vectors_plans.py embeds the same literals).
HYPERPLANES: list[list[float]] = _planes(LSH_SEED, LSH_PLANES)
HYPERPLANES_MULTI: list[list[list[float]]] = [
    _planes(LSH_SEED + t, LSH_MULTI_PLANES) for t in range(LSH_MULTI_TABLES)
]


def _plane_lit(plane: list[float]) -> Column:
    return F.array(*[F.lit(x) for x in plane])


# The ONE place the signature encodings live (the SQL twins in
# plans/vectors_plans.py are generated from the same constants): a bucket key
# is the sign bits joined '1'/'0'; a multi-table key is 't#bits' so tables
# can never collide in a bucket join.


def bits_key(signs_row) -> str:
    """Sign-bit row → bucket key string."""
    return "".join("1" if b else "0" for b in signs_row)


def multi_bucket_keys(signs_row, offset: int = 0) -> list[str]:
    """Sign-bit row (L·P wide starting at ``offset``) → the L table keys."""
    return [
        f"{t}#"
        + bits_key(
            signs_row[
                offset + t * LSH_MULTI_PLANES : offset + (t + 1) * LSH_MULTI_PLANES
            ]
        )
        for t in range(LSH_MULTI_TABLES)
    ]


def lsh_signature(vec: Column | str) -> Column:
    """Sign-bit signature string, e.g. '10110010' — the LSH bucket key
    (expression form, for composition; hot path = lsh_signature_udf)."""
    bits = [
        F.when(dot(vec, _plane_lit(p)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in HYPERPLANES
    ]
    return F.concat(*bits)


_PLANES_MAT = np.array(HYPERPLANES, dtype=np.float64)  # (P, D)


@F.pandas_udf(T.StringType())
def lsh_signature_udf(vecs: pd.Series) -> pd.Series:
    """Arrow twin of lsh_signature: one numpy matmul per batch against the
    plane matrix. Sign decisions agree with the expression/oracle form —
    dots are O(0.1-10), float64 noise is ~1e-15, so no boundary flips."""
    mat = np.vstack(vecs.to_numpy()).astype(np.float64)  # (N, D)
    signs = (mat @ _PLANES_MAT.T) >= 0  # (N, P)
    return pd.Series([bits_key(row) for row in signs])


# (L·P, D) — all tables' planes stacked for one matmul per batch
_MULTI_MAT = np.array(
    [p for table in HYPERPLANES_MULTI for p in table], dtype=np.float64
)


def attach_signature(df: DataFrame, vec_col: str, multi: bool = False) -> DataFrame:
    """Append the LSH bucket column(s) via ONE mapInPandas pass.

    Why not the pandas_udf expression: a join key produced by a Python UDF
    expression gets re-extracted by ExtractPythonUDFs for the join's inferred
    isnotnull filter AND for the output projection — two ArrowEvalPython
    nodes, i.e. the whole side is signed twice (measured; the corpus side of
    an LSH join is the big side, so that's 2× the dominant cost). A
    mapInPandas node is a single unsplittable map: the optimizer filters on
    its output column instead of duplicating the kernel. Same numpy matmul
    kernel, same values, same oracle."""
    fields = [f'{f.name} {f.dataType.simpleString()}' for f in df.schema.fields]
    out_col = "buckets" if multi else "bucket"
    out_type = "array<string>" if multi else "string"
    schema = ", ".join([*fields, f"{out_col} {out_type}"])

    def add_sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            if multi:
                signs = mat @ _MULTI_MAT.T >= 0
                pdf[out_col] = [multi_bucket_keys(row) for row in signs]
            else:
                signs = mat @ _PLANES_MAT.T >= 0
                pdf[out_col] = [bits_key(row) for row in signs]
            yield pdf

    return df.mapInPandas(add_sig, schema)


def knn_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Brute-force top-k: cross join → cosine → row_number ≤ k.

    The small side (queries) is broadcast so the cross join is a map-side
    nested loop over corpus partitions — no shuffle until the final window,
    which shuffles only |Q|·|C| scored pairs pruned by the window.
    """
    # norms are per-row — fold them once on each side BEFORE pairing, so each
    # pair evaluates only the dot product (3× less interpreted HOF work than
    # cosine() per pair; arithmetic is unchanged → identical values)
    qn = queries.withColumn("_qn", l2_norm(q_vec))
    cn = corpus.withColumn("_cn", l2_norm(c_vec))
    pairs = cn.crossJoin(F.broadcast(qn)).filter(F.col(q_id) != F.col(c_id))
    sim = F.when(
        F.col("_qn") * F.col("_cn") != 0,
        dot(q_vec, c_vec) / (F.col("_qn") * F.col("_cn")),
    )
    scored = pairs.select(q_id, c_id, F.round(sim, 6).alias("sim"))
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col(c_id))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


# Driver-side cap for the blocked strategy's query matrix. 64k × 64 dims ×
# 8 B ≈ 32 MB — comfortably shippable in a task closure; beyond that the
# query side belongs in a distributed strategy, not on the driver.
MAX_BLOCKED_QUERIES = 65_536

_SIX = Decimal("0.000001")


def _round6_like_spark(x: float) -> float:
    """Twin of Spark's Round(double, 6): HALF_UP on the shortest decimal
    representation (BigDecimal.valueOf ≡ Python repr). np.round is half-even
    on the binary value — close, but not the same rule at .5e-7 boundaries."""
    return float(Decimal(repr(float(x))).quantize(_SIX, rounding=ROUND_HALF_UP))


def _normalized(mat: np.ndarray):
    """(row-normalized float64 matrix, zero-norm mask); zero rows stay 0."""
    norm = np.linalg.norm(mat, axis=1, keepdims=True)
    return (
        np.divide(mat, norm, out=np.zeros_like(mat), where=norm != 0),
        (norm == 0).ravel(),
    )


def _query_matrix(rows, q_id: str, q_vec: str):
    """(ids, row-normalized float64 matrix, zero-norm mask) from collected
    query rows — the shippable task-closure form of a bounded query set."""
    ids = np.array([r[q_id] for r in rows])
    return (ids, *_normalized(np.array([r[q_vec] for r in rows], dtype=np.float64)))


def _emit_batch_topk(sims, c_ids, q_ids, k):
    """Per-batch candidate emission: per query keep the group's top
    min(k+1, n) (+1 absorbs the self-match) with the 1e-6 epsilon guard
    (one rounding ulp at 6dp — a candidate that would round-tie into the
    global top-k is never dropped: anything pruned rounds strictly below
    ≥ k same-batch survivors), −inf (undefined cosine) rows kept as nulls
    tie-broken by smallest c_id, sims emitted with Spark's HALF_UP
    rounding rule."""
    out_q, out_c, out_s = [], [], []
    top = min(k + 1, len(c_ids))
    for j in range(sims.shape[1]):
        col = sims[:, j]
        finite = np.nonzero(np.isfinite(col))[0]
        if len(finite) >= top:
            vals = col[finite]
            kth = np.partition(vals, len(vals) - top)[len(vals) - top]
            idx = finite[vals >= kth - 1e-6]
        else:
            nulls = np.nonzero(~np.isfinite(col))[0]
            pick = nulls[np.argsort(c_ids[nulls])[: top - len(finite)]]
            idx = np.concatenate([finite, pick])
        out_q.extend([q_ids[j]] * len(idx))
        out_c.extend(c_ids[idx])
        out_s.extend(
            _round6_like_spark(v) if np.isfinite(v) else None for v in col[idx]
        )
    return out_q, out_c, out_s


# Corpus keys blocked_topk derives inside its kernel from each vector instead
# of reading a column: the single-table LSH signature, and the L multi-table
# signatures (attach_signature's encodings).
LSH_KEY = "<lsh signature>"
LSH_MULTI_KEY = "<lsh multi-table signatures>"


def _several_keys(corpus: DataFrame, key) -> bool:
    """Whether a corpus row can carry several keys (a pair may collide more
    than once and must be deduplicated)."""
    if key is None or key == LSH_KEY:
        return False
    return key == LSH_MULTI_KEY or isinstance(
        corpus.schema[key].dataType, T.ArrayType
    )


def _collect_queries(queries: DataFrame):
    """The bounded query side on the driver, or None above
    MAX_BLOCKED_QUERIES rows."""
    rows = queries.limit(MAX_BLOCKED_QUERIES + 1).collect()
    return None if len(rows) > MAX_BLOCKED_QUERIES else rows


def _rank(scored: DataFrame, k: int, q_id: str, c_id: str) -> DataFrame:
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc_nulls_last(), F.col(c_id))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def _blocked_candidates(
    rows, corpus: DataFrame, k: int, key, q_id: str, c_id: str, q_vec: str, c_vec: str
) -> DataFrame:
    """The candidate stage of blocked_topk: ONE Arrow pass over the corpus.
    Each batch is row-normalized once, its rows are grouped by key (every
    row in one group when ``key`` is None), and each group scores against
    its key's query matrix with one numpy matmul, emitting the per-batch
    top-(k+1) (_emit_batch_topk). A row with several keys joins several
    groups; the (q, c) pairs it produces are deduplicated within the batch,
    which is complete because a corpus row lives in exactly one batch. No
    self-filter and no rank window: (q_id, c_id, sim) candidates."""
    by_key: dict = {}
    for r in rows:
        g = 0 if key is None else r["key"]
        if g is not None:
            by_key.setdefault(g, []).append(r)
    per_key = {g: _query_matrix(rs, q_id, q_vec) for g, rs in by_key.items()}
    several = _several_keys(corpus, key)

    def row_keys(pdf, mat):
        if key == LSH_KEY:
            return ([bits_key(s)] for s in mat @ _PLANES_MAT.T >= 0)
        if key == LSH_MULTI_KEY:
            return (multi_bucket_keys(s) for s in mat @ _MULTI_MAT.T >= 0)
        return pdf[key] if several else ([g] for g in pdf[key])

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.vstack(pdf[c_vec].to_numpy()).astype(np.float64)
            cm, c_zero = _normalized(mat)
            c_ids = pdf[c_id].to_numpy()
            if key is None:
                groups = {g: slice(None) for g in per_key}
            else:
                groups = {}
                for i, keys in enumerate(row_keys(pdf, mat)):
                    for g in keys:
                        if g in per_key:
                            groups.setdefault(g, []).append(i)
            seen: set = set()
            out_q, out_c, out_s = [], [], []
            for g, idx in groups.items():
                ids, qm, q_zero = per_key[g]
                sims = cm[idx] @ qm.T
                # undefined cosines (zero norm) rank last, surface as null
                sims[c_zero[idx], :] = -np.inf
                sims[:, q_zero] = -np.inf
                for q, c, s in zip(*_emit_batch_topk(sims, c_ids[idx], ids, k)):
                    if several:
                        if (q, c) in seen:
                            continue
                        seen.add((q, c))
                    out_q.append(q)
                    out_c.append(c)
                    out_s.append(s)
            if out_q:
                yield pd.DataFrame({q_id: out_q, c_id: out_c, "sim": out_s})

    stored = key not in (None, LSH_KEY, LSH_MULTI_KEY)
    return corpus.select(*([key] if stored else []), c_id, c_vec).mapInPandas(
        score, schema=f"{q_id} long, {c_id} long, sim double"
    )


def _distributed_topk(
    queries: DataFrame, corpus: DataFrame, k: int, key, q_id: str, c_id: str,
    q_vec: str, c_vec: str,
) -> DataFrame:
    """blocked_topk's one fallback when the query side exceeds
    MAX_BLOCKED_QUERIES (too big for a task closure): explode the corpus
    keys, shuffle-hash equi-join on the key, drop duplicate pairs when a row
    carries several keys, score with the JVM expression cosine, rank with
    the same window. It never collects. shuffle_hash is hinted explicitly
    so Spark can never elect to broadcast a data-sized query side.

    Semantically identical to the blocked kernel — same 6dp HALF_UP
    rounding (F.round), null sims for zero norms ranked last, same
    (sim desc, c_id) tie-break — up to the documented ~1-ulp float
    evaluation-order tolerance: this path computes JVM dot/(|a|·|b|) then
    rounds, the blocked kernel a numpy normalized matmul then
    _round6_like_spark, so a value within ~1 ulp of a .5e-7 rounding
    boundary at 6dp can round apart and flip a rank (the same tolerance
    vec_neardup_cosine documents at its 0.99 cutoff). No synthetic vector
    sits on a boundary; a future mismatch here is that known artifact, not
    a fallback bug."""
    several = _several_keys(corpus, key)
    if key in (LSH_KEY, LSH_MULTI_KEY):
        corpus = attach_signature(corpus.select(c_id, c_vec), c_vec, multi=several)
        key = "buckets" if several else "bucket"
    keys = F.explode(key) if several else F.col(key)
    c = corpus.withColumn("_cn", l2_norm(c_vec)).select(
        c_id, c_vec, "_cn", keys.alias("key")
    )
    q = queries.withColumn("_qn", l2_norm(q_vec))
    pairs = c.join(q.hint("shuffle_hash"), "key").filter(F.col(q_id) != F.col(c_id))
    if several:
        pairs = pairs.dropDuplicates([q_id, c_id])
    norms = F.col("_qn") * F.col("_cn")
    sim = F.when(norms != 0, dot(q_vec, c_vec) / norms)
    return _rank(pairs.select(q_id, c_id, F.round(sim, 6).alias("sim")), k, q_id, c_id)


def blocked_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    key=None,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """The one keyed cosine top-k: a local per-batch top-k with pruning
    followed by one global rank window (the REPOSE shape). Emits
    (q_id, c_id, sim, rk), self-matches dropped, ranked by
    (sim desc nulls last, c_id).

    ``queries`` holds (q_id, q_vec) plus, when the corpus is keyed, a
    ``key`` column with one key per row (a query probing several keys has
    several rows). ``key`` describes the corpus side:
    - None: one group, every query scores every corpus row;
    - a scalar column: the partition label, an IVF cell, a stored bucket;
    - an array column: several stored keys per row (the index's buckets);
    - LSH_KEY / LSH_MULTI_KEY: signature(s) computed inside the kernel from
      the vector, so the corpus is signed and scored in one pass.

    Up to MAX_BLOCKED_QUERIES query rows are collected once and shipped to
    every task (_blocked_candidates), so the window ranks ≤
    (k+1)·|Q|·n_batches rows instead of every candidate pair. Above the cap
    a keyed search falls back to _distributed_topk, which never leaves the
    cluster; a keyless one fails fast instead of OOMing the driver."""
    rows = _collect_queries(queries)
    if rows is None:
        if key is None:
            raise ValueError(
                f"the blocked top-k materializes the query side on the driver "
                f"and got more than {MAX_BLOCKED_QUERIES} query rows; for large "
                "query sets use knn_lsh or knn_partitioned (bucketed equi-joins "
                "that never leave the cluster)."
            )
        return _distributed_topk(queries, corpus, k, key, q_id, c_id, q_vec, c_vec)
    candidates = _blocked_candidates(rows, corpus, k, key, q_id, c_id, q_vec, c_vec)
    return _rank(candidates.filter(F.col(q_id) != F.col(c_id)), k, q_id, c_id)


def _probe_cells(
    queries: DataFrame, cent: DataFrame, cell: str, nprobe: int, q_id: str, q_vec: str
) -> DataFrame:
    """(key, q_id, q_vec): each query's top-``nprobe`` cells of the centroid
    table ``cent`` (cell, cv) by cosine rounded to 6dp, ties broken by the
    cell — the keyed query side of an IVF probe. The centroid side is tiny
    and broadcast."""
    w = Window.partitionBy(q_id).orderBy(F.col("_csim").desc_nulls_last(), F.col("key"))
    return (
        queries.select(q_id, q_vec)
        .crossJoin(F.broadcast(cent.select(F.col(cell).alias("key"), "cv")))
        .withColumn("_csim", F.round(cosine(q_vec, "cv"), 6))
        .withColumn("_crk", F.row_number().over(w))
        .filter(F.col("_crk") <= nprobe)
        .select("key", q_id, q_vec)
    )


def knn_exact_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """Brute-force top-k as blocked matrix multiply — the 100 TB exact-search
    shape: blocked_topk with no key, so each Arrow batch of corpus vectors
    scores against ALL queries with one numpy matmul.

    Result-identical to knn_exact (same oracle), including edges:
    - the query side is size-guarded (MAX_BLOCKED_QUERIES) — a larger query
      set fails fast with a pointer at knn_lsh/knn_partitioned instead of
      OOMing the driver;
    - zero-norm vectors score null (knn_exact's F.when), ranked last;
    - emitted sims use Spark's HALF_UP rounding rule, not np.round;
    - per-batch pruning keeps every candidate within 1e-6 of the batch's
      k-th best (_emit_batch_topk)."""
    return blocked_topk(
        queries.select(q_id, q_vec), corpus, k, None, q_id, c_id, q_vec, c_vec
    )


def knn_partitioned(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    part_col: str,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """IVF-style ANN: pair only within a coarse partition key, then top-k.

    Candidate count drops by the partition fan-out; recall is bounded by
    the coarse quantizer (exactly IVF with nprobe=1). blocked_topk keyed by
    the partition column: one query matrix per partition, and above
    MAX_BLOCKED_QUERIES the distributed equi-join fallback instead of a
    failure — slower per pair, but the right trade when the query side
    itself is data-sized."""
    return blocked_topk(
        queries.select(F.col(part_col).alias("key"), q_id, q_vec),
        corpus, k, part_col, q_id, c_id, q_vec, c_vec,
    )


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """LSH ANN: pair only vectors sharing the hyperplane sign signature.

    The query side (tiny by the ANN contract) is signed once; blocked_topk
    signs AND scores each corpus batch in one Arrow pass (LSH_KEY) — no
    per-pair interpreted-HOF dot(), no signature column shuffled."""
    q = attach_signature(queries, q_vec)
    return blocked_topk(
        q.select(F.col("bucket").alias("key"), q_id, q_vec),
        corpus, k, LSH_KEY, q_id, c_id, q_vec, c_vec,
    )


def knn_lsh_multi(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """LSH ANN with OR-amplification over L signature tables: a pair is a
    candidate if it collides in ANY table, so recall compounds as
    1-(1-p^r)^L instead of p^r (single table). The recall-vs-candidates
    trade is measured in SCALE.md and property-tested against the exact
    kernel. One query row per (query, table); the kernel signs each corpus
    row into all L tables (LSH_MULTI_KEY) and scores a colliding pair once."""
    q = attach_signature(queries, q_vec, multi=True)
    return blocked_topk(
        q.select(F.explode("buckets").alias("key"), q_id, q_vec),
        corpus, k, LSH_MULTI_KEY, q_id, c_id, q_vec, c_vec,
    )


def knn_ivf_probe(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    part_col: str,
    nprobe: int = 2,
    q_id: str = "q_id",
    c_id: str = "c_id",
    q_vec: str = "q_vec",
    c_vec: str = "c_vec",
) -> DataFrame:
    """IVF with real centroid probing, nprobe ≥ 1: build per-partition
    centroids (exact decimal-mean per dimension, rounded 6dp so centroid
    values are combine-order-independent and oracle-stable), rank
    partitions per query by cosine to the centroid, probe the top
    ``nprobe``, then top-k within the probed candidates.

    Stage shapes: centroid build = explode(dims) + partial+final agg (tiny
    result: |partitions|·dims rows); probe ranking = broadcast of the
    centroid table against queries; scoring = blocked_topk keyed by the
    partition, |Q|·nprobe query rows — linear everywhere, the knob between
    knn_partitioned (nprobe=1) and exact."""
    from nocouncil_etl_spark.functions.numeric import ravg

    cexp = corpus.select(
        F.col(part_col), F.posexplode(as_double(c_vec)).alias("pos", "x")
    )
    cent = (
        cexp.groupBy(part_col, "pos")
        .agg(ravg("x", 6).alias("m"))
        .groupBy(part_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
            ).alias("cv")
        )
    )
    return blocked_topk(
        _probe_cells(queries, cent, part_col, nprobe, q_id, q_vec),
        corpus, k, part_col, q_id, c_id, q_vec, c_vec,
    )


def perturb(vec: Column | str, delta: float, dim_expr: Column) -> Column:
    """Deterministically nudge one dimension — used to synthesize near-dups."""
    return F.transform(
        as_double(vec),
        lambda x, i: F.when(i == dim_expr, x + F.lit(delta)).otherwise(x),
    )
