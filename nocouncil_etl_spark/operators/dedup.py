"""Deduplication operator family (SURVEY.md §2.9 E4/E5 + north star).

The reference's dedup is identity-hash only: a 16-hex sha-256 prefix of the
URL gates re-ingest (newscrawler.py:59-61,366-369) and the vector sink
upserts by id (article_vectorize.py:361-363). A training-data pipeline at
100 TB needs the whole ladder:

    exact        — hash-groupBy on canonical content hash
    minhash+LSH  — shingle → minhash signature → band → bucket equi-join
    simhash      — per-bit majority vote fingerprint, hamming buckets
    n-gram jaccard — exact verify kernel for candidate pairs
    embedding cosine — semantic near-dup (operators/similarity.py)

The hash kernel is md5-of-string (portable: identical in Spark, DuckDB, and
hashlib), so every stage is oracle-checkable — never an engine-specific hash
(Spark's murmur3 ``hash()`` would not be). Each kernel exists in two forms:
a pure column expression for composition, and a hot-path form (explode +
codegen scalar + combiner agg, or one Arrow pandas-UDF pass) that produces
byte-identical values — see SCALE.md for the measured gap.

Scale shape: shingling/minhash are narrow maps; LSH banding explodes
|bands| rows per doc; the candidate join is an equi-join on the band key
(shuffle, AQE-skew-safe); verification touches only candidate pairs. No
stage is quadratic in corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nocouncil_etl_spark.io import fan_out


def words(text: Column | str) -> Column:
    return F.split(text, " ")


def shingles(ws: Column, n: int) -> Column:
    """Overlapping n-word shingles; empty array when the doc is shorter than n."""
    idx = F.sequence(F.lit(1), F.size(ws) - (n - 1))
    mk = lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(n)])  # noqa: E731
    return F.when(F.size(ws) >= n, F.transform(idx, mk)).otherwise(
        F.array().cast("array<string>")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, shingle_col: str, n_hashes: int, width: int = 12
) -> DataFrame:
    """Signature table (id, mh0..mh{n-1}) via explode + grouped min.

    All scalar md5/substring work runs in whole-stage codegen; the groupBy
    computes map-side partial mins, so the shuffle carries one row per doc —
    this is the 100 TB shape (narrow map + combiner-reduced shuffle)."""
    ex = df.select(F.col(id_col), F.explode_outer(F.col(shingle_col)).alias("_s"))
    aggs = [
        F.min(
            F.substring(F.md5(F.concat(F.lit(f"{seed}|"), F.col("_s"))), 1, width)
        ).alias(f"mh{seed}")
        for seed in range(n_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def make_shingle_udf(n: int):
    """Arrow-batched shingle builder. Measured ~30× faster than the
    ``shingles`` column expression: Spark evaluates higher-order functions
    interpreted (no codegen), so per-shingle concat inside ``transform``
    dominates; one Arrow batch through pandas amortizes it away. Values are
    byte-identical to the expression form — oracle parity is unaffected."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def udf(texts: pd.Series) -> pd.Series:
        def f(t: str):
            ws = (t or "").split(" ")
            if len(ws) < n:
                return []
            return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]

        return texts.map(f)

    return udf


def band_keys_from_signature(n_bands: int, rows_per_band: int) -> Column:
    """Band keys from materialized mh* columns: band b = 'b#mh_i#mh_j...'."""
    bands = []
    for b in range(n_bands):
        comps = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        bands.append(F.concat_ws("#", F.lit(str(b)), *comps))
    return F.array(*bands)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over distinct shingle sets (the verify kernel)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(None))


def simhash_bits(ws: Column, n_bits: int = 16) -> Column:
    """SimHash fingerprint as an n_bits 0/1 string (interpreted-HOF form;
    hot path = simhash_table below).

    Bit i = majority over words of the high bit of the i-th md5 hex digit
    ('8'..'f' ⇒ 1). Portable across engines; hamming-close docs share most
    hex-majority bits."""
    def bit(i: int) -> Column:
        ones = F.size(F.filter(ws, lambda w: F.substring(F.md5(w), i, 1) >= "8"))
        return F.when(ones * 2 > F.size(ws), F.lit("1")).otherwise(F.lit("0"))

    return F.concat(*[bit(i) for i in range(1, n_bits + 1)])


def simhash_table(
    df: DataFrame, id_col: str, word_col: str, n_bits: int = 16
) -> DataFrame:
    """(id, simhash) via explode + one grouped aggregation: one md5 per word
    (codegen), n_bits conditional sums with map-side combine. Same result as
    simhash_bits, built the way it scales."""
    # fan_out: the word explode + per-word md5 is the expensive stage; scan-
    # derived parallelism over a compact doc file would serialize it
    ex = fan_out(df).select(
        F.col(id_col), F.explode(F.col(word_col)).alias("_w")
    ).select(F.col(id_col), F.md5("_w").alias("_h"))
    ones = [
        F.sum(F.when(F.substring("_h", i, 1) >= "8", 1).otherwise(0)).alias(f"_o{i}")
        for i in range(1, n_bits + 1)
    ]
    agg = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *ones)
    bits = F.concat(
        *[
            F.when(F.col(f"_o{i}") * 2 > F.col("_n"), F.lit("1")).otherwise(F.lit("0"))
            for i in range(1, n_bits + 1)
        ]
    )
    return agg.select(F.col(id_col), bits.alias("simhash"))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """E4: group by content hash, keep the smallest id (deterministic
    canonical row), count the copies."""
    return (
        df.withColumn("fp", F.md5(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
) -> DataFrame:
    """Min-label propagation over an undirected pair graph → (node,
    component), component = smallest reachable node id.

    This is the step between near-dup PAIRS and actual dedup CLUSTERS: LSH
    emits (a,b) matches; picking one canonical doc per transitive group
    (a~b, b~c ⇒ {a,b,c}) is a connected-components problem. The reference
    drops duplicates pairwise (article_vectorize.py:361-363) and silently
    over/under-keeps on chains; this closes them.

    Each level is one equi-join + min-aggregate; the driver loop stops when
    a fixpoint is reached (one `limit(1).count()` probe per level). Dedup
    graphs have tiny diameters (clusters are near-cliques), so iterations
    ≈ 2-4 in practice; `max_iters` bounds pathological chains — and raises
    if the bound is hit before the fixpoint, because unconverged labels are
    silently WRONG clusters (a split chain looks valid downstream).

    Lineage discipline: per-level state is materialized with an EAGER
    ``localCheckpoint`` (not persist) — a cached frame still carries its
    full logical plan, and at diameter ~20 (Borůvka spanning forests,
    long chains) the per-level re-analysis cost was measured growing ~4×
    per level (0.4 s → 40 s by level 8, then driver OOM); checkpointing
    truncates the plan so every level costs the same. The HITS lesson,
    applied to the CC fixpoint. The RETURNED frame is checkpoint-backed;
    callers' ``.unpersist()`` remains a harmless no-op."""
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        prop = sym.join(labels, sym.a == labels.node).select(
            F.col("b").alias("node"), "comp"
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("comp", "_old"), "node"
            )
            .filter(F.col("comp") != F.col("_old"))
            .limit(1)
            .count()
        )
        # the old label table is strictly superseded once the changed
        # probe has run — release its checkpoint blocks now instead of
        # letting one node-table per round pile up until JVM GC
        from nocouncil_etl_spark.operators.graph import _release_checkpoint

        _release_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge within max_iters={max_iters} "
        "(graph diameter exceeds the bound); the partial labels would be "
        "silently-wrong split clusters. Raise max_iters — levels needed ≈ "
        "graph diameter, which for near-dup clusters (near-cliques) is 2-4."
    )


def lsh_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    n_bands: int,
    rows_per_band: int,
    threshold: float,
) -> DataFrame:
    """E5 full pipeline: Arrow shingle pass → codegen'd md5 minhash (explode +
    partial-agg min) → band-key explode → equi-join candidates →
    exact-Jaccard verify.

    The split is deliberate (measured): pandas builds shingle arrays ~5×
    faster than Spark's interpreted ``transform``, while JVM md5 in
    whole-stage codegen beats hashlib ~3× — so shingling is Arrow, hashing
    is SQL. The shingle frame is persisted because signature and verify both
    consume it.

    Stage shapes at scale: shingling = narrow map; signature shuffle carries
    one row per doc (map-side min combine); candidate join = equi-join on
    band key (AQE skew-safe); verify touches candidate pairs only. Nothing
    quadratic.

    Cache lifecycle: the corpus-sized shingle cache is dropped as soon as the
    verify stage materializes; the returned frame is the (small) verified
    pair set, persisted so downstream consumers don't re-run the pipeline.
    Callers doing many dedup passes in one session own its lifetime
    (``result.unpersist()`` when done)."""
    sh_udf = make_shingle_udf(shingle_n)
    # fan_out: the compact doc rows are about to shingle-explode into the
    # signature stage's 128-hash md5 scan — scan-derived parallelism (one
    # task per small input file) would serialize it (io.fan_out contract)
    shd = fan_out(df).select(F.col(id_col), sh_udf(text_col).alias("_sh")).persist()
    sig = minhash_signatures(shd, id_col, "_sh", n_bands * rows_per_band)
    bands = F.array(
        *[
            F.concat_ws(
                "#",
                F.lit(str(b)),
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select(F.col(id_col), F.explode(bands).alias("band"))
    pairs = (
        banded.select(F.col(id_col).alias("id_a"), "band")
        .join(banded.select(F.col(id_col).alias("id_b"), "band"), "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = (
        pairs.join(shd.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(shd.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4))
        .filter(jaccard(F.col("sh_a"), F.col("sh_b")) >= threshold)
        .select("id_a", "id_b", "jaccard")
        .persist()
    )
    verified.count()  # materialize the pair set so the shingle cache can drop
    shd.unpersist()
    return verified


def salted_band_pairs(
    banded: DataFrame, id_col: str, n_salt: int
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs from a (id, band) frame via a
    SALTED self-join — the hot-bucket fallback SCALE.md names for
    boilerplate-heavy corpora, where one shared page template puts 10% of
    the corpus into a single band bucket and AQE's skew splitting can't
    break up the join's probe side.

    The classic replicate-one-side salt, applied to a self-join: side A
    carries salt = id % n_salt (its bucket rows split n_salt ways); side B
    is replicated across ALL n_salt salts; the join key becomes
    (band, salt). Every pair (a, b) with id_a < id_b meets EXACTLY once
    per shared band — in the shard keyed by a's salt — so the result is
    row-identical to the unsalted join on ANY corpus (not just bounded
    buckets), while the largest per-task build group shrinks from
    |bucket| to ~|bucket|/n_salt. Cost: the B side shuffles n_salt×
    (band, id) rows — keys only, never shingle arrays.

    The salt is xxhash64(id) % n_salt — a HASH, not id % n_salt, because
    real id spaces have arithmetic structure (every-10th synthetic copies,
    sharded id ranges) that aliases against a modulus and leaves shards
    empty. The salt never reaches the output, so an engine-specific hash
    is fine here (unlike the md5-only rule for oracle-checked values).
    """
    a = banded.select(
        F.col(id_col).alias("id_a"),
        "band",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt)).alias("salt"),
    )
    b = banded.select(F.col(id_col).alias("id_b"), "band").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return (
        a.join(b, ["band", "salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_near_duplicates_salted(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    n_bands: int,
    rows_per_band: int,
    threshold: float,
    n_salt: int = 8,
) -> DataFrame:
    """lsh_near_duplicates with the candidate self-join salted
    (salted_band_pairs): byte-identical result, bounded per-task bucket
    groups under pathological band-key skew. Same staging and cache
    lifecycle as the unsalted pipeline; the returned verified pair set is
    persisted and caller-owned."""
    sh_udf = make_shingle_udf(shingle_n)
    # fan_out: the compact doc rows are about to shingle-explode into the
    # signature stage's 128-hash md5 scan — scan-derived parallelism (one
    # task per small input file) would serialize it (io.fan_out contract)
    shd = fan_out(df).select(F.col(id_col), sh_udf(text_col).alias("_sh")).persist()
    sig = minhash_signatures(shd, id_col, "_sh", n_bands * rows_per_band)
    banded = sig.select(
        F.col(id_col),
        F.explode(band_keys_from_signature(n_bands, rows_per_band)).alias("band"),
    )
    pairs = salted_band_pairs(banded, id_col, n_salt)
    verified = (
        pairs.join(shd.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(shd.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4))
        .filter(jaccard(F.col("sh_a"), F.col("sh_b")) >= threshold)
        .select("id_a", "id_b", "jaccard")
        .persist()
    )
    verified.count()
    shd.unpersist()
    return verified
