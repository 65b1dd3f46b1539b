"""Rank-fusion and greedy diversified-selection kernels, shared by the
catalog plans (mlprep_plans.search_mmr_rerank / retrieval_rrf_fusion live
under oracles) and the Engine facade verbs — one implementation, so the
facade cannot drift from the oracle-checked arithmetic (the contract the
gapfill advice item established: extract, don't re-implement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.vectors import cosine


def rrf_fuse(
    ranked: dict[str, DataFrame],
    id_col: str,
    k0: int = 60,
    top: int = 20,
) -> DataFrame:
    """Reciprocal Rank Fusion over named rank lists. Each value of
    ``ranked`` carries (id_col, rank); the output carries id_col, one
    ``{name}_rank`` per list (NULL where absent), and ``rrf`` = Σ over
    present lists of round(1/(k0+rank), 6) summed as DECIMAL(18,6) —
    combine-order-independent — cast to double, top rows by (score, id).

    Scale: inputs are already top-N lists (constant-size); the fusion is
    a constant-size multi-way outer join."""
    if not ranked:
        raise ValueError("rrf_fuse: `ranked` must be a non-empty dict of rank lists")
    zero = F.lit(0).cast("decimal(18,6)")
    fused = None
    names = list(ranked)
    for name, df in ranked.items():
        part = df.select(
            id_col, F.col("rank").cast("long").alias(f"{name}_rank")
        )
        fused = part if fused is None else fused.join(part, id_col, "full_outer")
    score = None
    for name in names:
        term = F.coalesce(
            F.round(1.0 / (k0 + F.col(f"{name}_rank")), 6).cast(
                "decimal(18,6)"
            ),
            zero,
        )
        score = term if score is None else score + term
    fused = fused.select(
        id_col, *[f"{n}_rank" for n in names], score.alias("_rrf_dec")
    )
    return (
        fused.orderBy(F.desc("_rrf_dec"), id_col)
        .limit(top)
        .select(
            id_col,
            *[f"{n}_rank" for n in names],
            F.col("_rrf_dec").cast("double").alias("rrf"),
        )
    )


def mmr_greedy(
    cand: DataFrame,
    sims: DataFrame,
    k: int,
    lam: float,
    id_col: str = "vec_id",
) -> DataFrame:
    """Greedy Maximal Marginal Relevance over a bounded candidate list.
    ``cand`` carries (id_col, rel) — 6dp-rounded relevance; ``sims``
    carries (ia, ib, s) — 6dp-rounded pairwise similarity for every
    ordered candidate pair. Slot 1 = max (rel, id asc); slot j maximizes
    round(λ·rel − (1−λ)·max sim to selected, 6), ties → smallest id.
    Returns (id_col, pick_rank, rel).

    Scale: a serving-time loop over a CHOSEN candidate count — per step
    one broadcast semi-join + one agg over ≤|cand|² sim rows. Both inputs
    are MATERIALIZED up front (eager localCheckpoint): each greedy pick
    references them k more times, and without truncation the candidate
    list's upstream lineage (a whole fusion DAG in
    pipeline_retrieval_e2e) is re-embedded once per pick per reference —
    the plan tree grows ~k² copies of the corpus subtree and OOMs the
    driver at scale (observed at sf0.1). Checkpointing pins the
    ≤|cand|²-row lists and the loop plans against those."""
    cand = cand.localCheckpoint(eager=True)
    sims = sims.localCheckpoint(eager=True)
    sel = (
        cand.orderBy(F.desc("rel"), id_col)
        .limit(1)
        .select(id_col, F.lit(1).cast("long").alias("pick_rank"), "rel")
    )
    for j in range(2, k + 1):
        sel_ids = sel.select(F.col(id_col).alias("ib"))
        maxsim = (
            sims.join(F.broadcast(sel_ids), "ib")
            .groupBy(F.col("ia").alias(id_col))
            .agg(F.max("s").alias("ms"))
        )
        pick = (
            cand.join(sel.select(id_col), id_col, "left_anti")
            .join(maxsim, id_col)
            .select(
                id_col,
                "rel",
                F.round(
                    lam * F.col("rel") - (1 - lam) * F.col("ms"), 6
                ).alias("score"),
            )
            .orderBy(F.desc("score"), id_col)
            .limit(1)
            .select(id_col, F.lit(j).cast("long").alias("pick_rank"), "rel")
        )
        sel = sel.unionByName(pick)
    return sel


def mmr_rerank(
    vectors: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    cand_n: int,
    k: int,
    lam: float,
) -> DataFrame:
    """MMR over dense candidates: rank ``vectors`` by 6dp cosine to the
    1-row ``query`` frame (column ``qv``), keep the top ``cand_n`` (rel
    desc, id asc), score every ordered candidate pair (candidate_sims),
    then ``mmr_greedy``. Returns (id_col, pick_rank, rel)."""
    cand = (
        vectors.crossJoin(F.broadcast(query))
        .select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            F.round(cosine(vec_col, "qv"), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), id_col)
        .limit(cand_n)
    )
    sims = candidate_sims(cand, id_col, "_v")
    return mmr_greedy(cand.select(id_col, "rel"), sims, k, lam, id_col=id_col)


def candidate_sims(cand: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """mmr_greedy's ``sims`` input: (ia, ib, s) with s the 6dp cosine of
    every ordered pair of distinct candidates. ``cand`` is a bounded list
    whose bound the limit hides from size estimation, so the second side
    is broadcast explicitly — otherwise the planner picks a
    CartesianProduct with one task per partition pair."""
    a = cand.select(F.col(id_col).alias("ia"), F.col(vec_col).alias("va"))
    b = cand.select(F.col(id_col).alias("ib"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ia") != F.col("ib"))
        .select("ia", "ib", F.round(cosine("va", "vb"), 6).alias("s"))
    )
