"""Over-cap block celling: route blocks too large for exact pairwise
scoring through deterministic sign-LSH sub-cells.

Round-10 tiling made the in-block pair kernels (mutual k-NN in
plans/breadth43.py, cluster_pair_scan in operators/semantic.py,
vec_neardup_cosine in plans/vectors_plans.py) MEMORY-linear — no task ever
holds an n² intermediate — but their WORK is still quadratic per block: at
100× data with a fixed label/centroid arity that is 10,000× compute
(round-10 verdict #4). This module is the strategy switch: blocks at/under
a documented row cap keep the EXACT kernel; larger blocks are split into
sign-hyperplane LSH sub-cells (SimHash over the embedding, Charikar 2002 —
the same family as operators/similarity.attach_signature) sized so the
expected sub-cell stays under the cap, and the exact kernel then runs per
sub-cell. This mirrors `blocked_topk`'s distributed fallback
(operators/similarity.py `_distributed_topk`): over-cap input degrades to
a bounded-per-task plan instead of an unbounded one.

Semantics under celling (documented recall, not silent): pairs whose
endpoints land in DIFFERENT sub-cells of an over-cap block are not scored.
Identical vectors agree on every hyperplane sign, so exact-duplicate pairs
always survive; a pair at angle θ splits on one hyperplane with
probability θ/π (≈0.045 at cosine 0.99), so `bits` hyperplanes keep it
with probability ≈ (1 − θ/π)^bits — the standard SimHash recall curve. At
the engine's test/bench scales every block is under the default cap and
results are EXACT (the DuckDB oracles stay valid); the celled path is the
100×-growth contingency, exercised by cap-shrunk tests.

Scale shape: one whole-partition count window on the block key (an O(n)
frame — upstream executes ONCE; see subcell_over_cap's docstring for why
not a count-agg joined back), then a pure-JVM signature expression on
over-cap rows only. Cost is one extra corpus shuffle on the block key
ahead of the shuffle the caller's groupBy already does; the caller's
group key just gains the cell column.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Hyperplane budget: supports blocks up to cap·2^16 rows before expected
# sub-cell size exceeds the cap. Signs come from xxhash64 parity over the
# (element-index, bit) pair — deterministic on both engines and across
# sessions, so cell assignment is stable for resumable pipelines.
SIG_BITS = 16


def _sign_bit(vec_col: str, b: int) -> Column:
    """2^b if dot(vec, H_b) >= 0 else 0, with H_b the Rademacher (±1)
    hyperplane whose j-th entry is the parity of xxhash64(j*SIG_BITS + b).
    Accumulates in double: |x| ≤ ~2^30 per element and dims ≤ ~4k keep the
    sum far inside double's 2^53 exact-integer range for the int64-quantized
    vectors, and float inputs only need the SIGN."""
    return F.expr(
        f"CAST(IF(aggregate(zip_with({vec_col}, "
        f"sequence(0, size({vec_col}) - 1), "
        f"(x, j) -> CAST(x AS DOUBLE) * IF(pmod(xxhash64(j * {SIG_BITS} + {b}), 2) "
        "= 0, -1.0D, 1.0D)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) >= 0.0D, {1 << b}, 0) AS BIGINT)"
    )


def subcell_over_cap(
    df: DataFrame,
    block_cols: list[str],
    vec_col: str,
    cap: int,
    out_col: str = "_cell",
) -> DataFrame:
    """Add ``out_col``: 0 for every row of a block with ≤ ``cap`` rows (the
    exact path — one group per block, unchanged results), else a sign-LSH
    sub-cell id sized so the expected sub-cell holds ≤ cap/2 rows. Callers
    group the pair kernel by ``block_cols + [out_col]``.

    The block-size count is a whole-partition window over the block key —
    an O(n)-per-partition frame (the frame lint's exempt shape), NOT an
    aggregate joined back: a separate count-agg would RE-EXECUTE the
    upstream pipeline for the sizes (measured: the SemDeDup serve path's
    Arrow centroid-assignment pass ran twice, 0.8 s → 3.7 s at sf0.1).
    The window costs one corpus shuffle on the block key instead — bounded
    by data volume regardless of how expensive the upstream plan is, the
    right trade for a general operator whose callers feed it derived
    pipelines, not just scans."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    with_n = df.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy(*block_cols))
    )
    # bits so that _bn / 2^bits <= cap/2, capped by the hyperplane budget
    bits = F.least(
        F.lit(SIG_BITS),
        (F.ceil(F.log2(F.col("_bn") / F.lit(cap))) + 1).cast("int"),
    )
    sig = reduce(
        lambda a, b: a + b, (_sign_bit(vec_col, b) for b in range(SIG_BITS))
    )
    cell = F.when(F.col("_bn") <= cap, F.lit(0).cast("long")).otherwise(
        F.pmod(sig, F.pow(F.lit(2.0), bits).cast("long"))
    )
    return with_n.withColumn(out_col, cell).drop("_bn")
