"""Breadth batch 23 (round 6): binary-code ANN, Shapley attribution,
mixture water-filling, span-level extraction eval.

- ``vec_knn_hamming_packed`` — binary embedding codes: 64 sign bits packed
  into two BIGINTs, hamming = popcount(xor) — the 32× compression that
  makes brute-force scanning affordable at corpus scale (the extreme end
  of the float→int8→binary ladder next to vec_int8_recall).
- ``attribution_shapley``    — exact Shapley-value channel attribution
  over the 2³ coalition lattice of (view, click, signup) touches —
  the game-theoretic upgrade of attribution_position_based.
- ``curation_mix_waterfill`` — mixture allocation under availability caps:
  water-filling target weights across sources with fixed-round
  redistribution of the surplus (what a curation mix does when a source
  runs out of tokens).
- ``eval_span_f1``           — span-level extraction eval: predicted vs
  gold position sets per doc, TP/FP/FN and integer-micro P/R/F1 — the
  scoring harness for the model_extract_entities seam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.registry import query

# --------------------------------------------------------------------------
# 1. packed binary hamming k-NN
# --------------------------------------------------------------------------

HAM_TOPK = 5
HAM_QUERY_MOD = 100  # the vectors_plans query-set convention
HAM_ID_LIMIT = 1 << 48  # c_id range the composite rank key can order


def _ham_rank_key(h, c_ids):
    """Composite integer key hamming·2^48 + c_id: one int64 whose order is
    the rank window's exact (hamming, c_id) total order. That holds only
    for 0 <= c_id < 2^48 (hamming <= 64 keeps the key below 2^55), so an id
    outside the range raises instead of silently misordering the top-k."""
    if len(c_ids) and (c_ids.min() < 0 or c_ids.max() >= HAM_ID_LIMIT):
        raise ValueError(
            f"vec_id outside [0, 2^48): {c_ids.min()}..{c_ids.max()}; "
            "the hamming rank key cannot order it"
        )
    return h * HAM_ID_LIMIT + c_ids[:, None]


def _ham_scored_joined(packed: DataFrame) -> DataFrame:
    """Distributed fallback for a data-sized query side: broadcast
    crossJoin + codegen'd xor/popcount per pair (the pre-r12 shape; never
    collects — every scored pair flows into the rank window)."""
    q = packed.filter(F.col("vec_id") % HAM_QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("p0").alias("q0"),
        F.col("p1").alias("q1"),
    )
    return (
        packed.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            (
                F.bit_count(F.expr("p0 ^ q0")) + F.bit_count(F.expr("p1 ^ q1"))
            )
            .cast("long")
            .alias("hamming"),
        )
    )


def _pack_sql(half: int) -> str:
    lo = 1 + 32 * half
    return (
        f"CAST(list_sum(list_transform(range({lo}, {lo + 32}), "
        f"i -> CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - {lo})) "
        f"ELSE 0 END)) AS BIGINT)"
    )


@query(
    "vec_knn_hamming_packed",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
packed AS (
  SELECT vec_id, {_pack_sql(0)} AS p0, {_pack_sql(1)} AS p1 FROM e
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         CAST(bit_count(xor(q.p0, c.p0)) + bit_count(xor(q.p1, c.p1))
              AS BIGINT) AS hamming
  FROM (SELECT * FROM packed WHERE vec_id % {HAM_QUERY_MOD} = 0) q
  JOIN packed c ON c.vec_id <> q.vec_id
)
SELECT q_id, c_id, hamming, rk FROM (
  SELECT q_id, c_id, hamming,
         CAST(row_number() OVER (
           PARTITION BY q_id ORDER BY hamming, c_id
         ) AS INT) AS rk
  FROM scored
) WHERE rk <= {HAM_TOPK}
""",
)
def vec_knn_hamming_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-code k-NN: each 64-dim float vector compresses to its 64
    SIGN BITS packed into two BIGINTs (256 B → 16 B, 16×; float64 → 32×),
    and similarity is hamming distance = popcount(xor) — two integer ops
    per comparison. The brute-force scan this enables IS the point: at
    100 TB of float vectors the binary codes are ~3 TB, and xor+popcount
    runs at memory bandwidth inside whole-stage codegen — the same reason
    FAISS's binary indexes exist. Sign-of-dim agrees exactly across
    engines (no rounding: the sign test is the quantizer), so top-k
    hash-matches the oracle.

    Scale shape: packing is one narrow codegen'd expression pass;
    scoring joins the broadcast (tiny) query side against the packed
    scan — no float math, no shuffle beyond the top-k window's."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )

    def pack(half: int):
        lo = 1 + 32 * half
        bits = [
            F.when(
                F.element_at("v", i) >= 0,
                F.lit(1 << (i - lo)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(lo, lo + 32)
        ]
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out.cast("long")

    # materialize the codes (3 longs/row) before the join: without the
    # barrier Catalyst inlines the 64-term packing CASE into the post-join
    # projection, re-evaluating it once per PAIR instead of once per vector
    # (measured 60 s vs 4 s at sf1) — and at scale the codes are a stored
    # artifact anyway, exactly like the ann_index signatures.
    packed = e.select(
        "vec_id", pack(0).alias("p0"), pack(1).alias("p1")
    ).localCheckpoint(eager=False)
    # r12 opt (guide §2.3: shuffle fewer bytes): the old shape shuffled
    # EVERY scored pair (|Q|·|C| rows at sf0.1: 500×50k = 25M) into the
    # rank window; hamming is exact integer arithmetic, so each Arrow
    # batch can emit its provable per-query top-(k+1) by the window's own
    # total order (hamming, c_id) — global top-k ⊆ union of batch top-k
    # under the same order, +1 absorbs the self-match — and the window
    # ranks ≤ (k+1)·|Q|·n_batches rows. No rounding concerns (integers),
    # popcount via a 16-bit LUT (numpy<2 has no bitwise_count). The query
    # side is MAX_BLOCKED_QUERIES-guarded with the crossJoin shape as the
    # distributed fallback.
    from nocouncil_etl_spark.operators.similarity import MAX_BLOCKED_QUERIES

    q_rows = (
        packed.filter(F.col("vec_id") % HAM_QUERY_MOD == 0)
        .limit(MAX_BLOCKED_QUERIES + 1)
        .collect()
    )
    if len(q_rows) > MAX_BLOCKED_QUERIES:
        scored = _ham_scored_joined(packed)
    else:
        import numpy as np
        import pandas as pd

        pop16 = np.array(
            [bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8
        )
        q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
        q0 = np.array([r["p0"] for r in q_rows], dtype=np.int64)
        q1 = np.array([r["p1"] for r in q_rows], dtype=np.int64)

        def popc(x):
            return (
                pop16[x.view(np.uint16).reshape(*x.shape, 4)]
                .sum(axis=-1)
                .astype(np.int64)
            )

        def score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                c_ids = pdf["vec_id"].to_numpy()
                c0 = pdf["p0"].to_numpy()
                c1 = pdf["p1"].to_numpy()
                h = popc(np.bitwise_xor(c0[:, None], q0[None, :])) + popc(
                    np.bitwise_xor(c1[:, None], q1[None, :])
                )  # (batch, |Q|)
                key = _ham_rank_key(h, c_ids)
                top = min(HAM_TOPK + 1, len(c_ids))
                out_q, out_c, out_h = [], [], []
                for j in range(len(q_ids)):
                    idx = np.argpartition(key[:, j], top - 1)[:top]
                    out_q.extend([q_ids[j]] * len(idx))
                    out_c.extend(c_ids[idx])
                    out_h.extend(h[idx, j])
                yield pd.DataFrame(
                    {"q_id": out_q, "c_id": out_c, "hamming": out_h}
                )

        scored = packed.mapInPandas(
            score, schema="q_id long, c_id long, hamming long"
        ).filter(F.col("q_id") != F.col("c_id"))
    w = Window.partitionBy("q_id").orderBy("hamming", "c_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= HAM_TOPK)
    )


# --------------------------------------------------------------------------
# 2. exact Shapley channel attribution
# --------------------------------------------------------------------------

SHAP_FIRST_N = 6  # channel-touch window: each user's first N events
# 3-player Shapley coefficients × 3! : |S|=0 → 2, |S|=1 → 1, |S|=2 → 2
_CH = {"view": 1, "click": 2, "signup": 4}


def _shapley_terms(ch_bit: int) -> str:
    """6·Shapley for one channel as integer arithmetic over the v(mask)
    table (v in 1e6 units; missing masks contribute v=0)."""
    terms = []
    for s in range(8):
        if s & ch_bit:
            continue
        size = bin(s).count("1")
        coef = {0: 2, 1: 1, 2: 2}[size]
        terms.append(f"{coef} * (v({s | ch_bit}) - v({s}))")
    return " + ".join(terms)


def _shap_oracle() -> str:
    vcase = (
        "coalesce(max(CASE WHEN mask = {m} THEN v_1e6 END), 0)"
    )

    def vfn(expr: str) -> str:
        # replace v(m) placeholders with the pivoted columns
        out = expr
        for m in range(8):
            out = out.replace(f"v({m})", f"v{m}")
        return out

    selects = []
    for name, bit in _CH.items():
        selects.append(
            f"SELECT '{name}' AS channel, "
            f"CAST(({vfn(_shapley_terms(bit))}) AS BIGINT) AS shap_x6_1e6 "
            "FROM pivoted"
        )
    return f"""
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS rn
  FROM events
),
f AS (SELECT * FROM r WHERE rn <= {SHAP_FIRST_N}),
u AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS mask,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM f GROUP BY user_id
),
vtab AS (
  SELECT mask, CAST((sum(conv) * 1000000) // count(*) AS BIGINT) AS v_1e6
  FROM u GROUP BY mask
),
pivoted AS (
  SELECT {", ".join(vcase.format(m=m) + f" AS v{m}" for m in range(8))}
  FROM vtab
)
{" UNION ALL ".join(selects)}
"""


@query("attribution_shapley", oracle=_shap_oracle())
def attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value marketing attribution over the coalition
    lattice of channel touches: each user's first {SHAP_FIRST_N} events
    define their touched-channel set (view/click/signup bits) and
    conversion flag; v(S) = conversion rate of users whose set is exactly
    S (quantized ONCE to 1e6 units per coalition — the one-rounding
    discipline); each channel's Shapley value is the coefficient-weighted
    sum of marginal contributions over the 2³ lattice, reported ×6 (=3!)
    so the arithmetic stays integer. The game-theoretic fair-division
    answer position-based attribution approximates.

    Scale shape: one per-user window (partitioned) + one user-level agg +
    an 8-row coalition table pivoted to one row; the Shapley expression
    is constant-size. Channel-set cardinality bounds the lattice, never
    the user count."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    f = ev.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= SHAP_FIRST_N
    )
    u = f.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + 2 * F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            + 4 * F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        ).alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    vtab = u.groupBy("mask").agg(
        F.expr("CAST((sum(conv) * 1000000) div count(*) AS BIGINT)").alias(
            "v_1e6"
        )
    )
    pivoted = vtab.agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("mask") == m, F.col("v_1e6"))), F.lit(0)
            )
            .cast("long")
            .alias(f"v{m}")
            for m in range(8)
        ]
    )
    out = None
    for name, bit in _CH.items():
        expr = _shapley_terms(bit)
        for m in range(8):
            expr = expr.replace(f"v({m})", f"v{m}")
        row = pivoted.select(
            F.lit(name).alias("channel"),
            F.expr(f"CAST(({expr}) AS BIGINT)").alias("shap_x6_1e6"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# 3. mixture water-filling under availability caps
# --------------------------------------------------------------------------

# Target weights derive deterministically from the source name's numeric
# suffix (the synthetic corpus uses src0..srcN): wt ∈ {1..4} relative units.
MIX_BUDGET_PCT = 60  # allocate 60% of the corpus's total tokens
MIX_ROUNDS = 3

_WT_SQL = "(CAST(substr(source, 4) AS BIGINT) % 4) + 1"


def _mix_oracle() -> str:
    cte = [f"""
WITH avail AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS a
  FROM documents GROUP BY source
),
src AS (
  SELECT source, a, {_WT_SQL} AS wt FROM avail
),
meta AS (
  SELECT CAST((sum(a) * {MIX_BUDGET_PCT}) // 100 AS BIGINT) AS budget FROM src
),
st0 AS (
  SELECT source, a, wt, 0::BIGINT AS alloc, false AS sat FROM src
)"""]
    for r in range(MIX_ROUNDS):
        cte.append(f""",
rmeta{r} AS (
  SELECT CAST((SELECT budget FROM meta) - sum(alloc) AS BIGINT) AS remaining,
         CAST(sum(CASE WHEN NOT sat THEN wt ELSE 0 END) AS BIGINT) AS wt_active
  FROM st{r}
),
st{r + 1} AS (
  SELECT source, a, wt,
         CASE WHEN sat THEN alloc
              ELSE least(a, alloc + (wt * (SELECT remaining FROM rmeta{r}))
                              // greatest((SELECT wt_active FROM rmeta{r}), 1))
         END AS alloc,
         (sat OR least(a, alloc + (wt * (SELECT remaining FROM rmeta{r}))
                            // greatest((SELECT wt_active FROM rmeta{r}), 1)) >= a
         ) AS sat
  FROM st{r}
)""")
    cte.append(f"""
SELECT source, a AS avail_tok, wt AS target_wt,
       alloc AS alloc_tok, sat AS saturated,
       CAST((alloc * 1000000) // (SELECT budget FROM meta) AS BIGINT)
         AS realized_wt_1e6
FROM st{MIX_ROUNDS}""")
    return "".join(cte)


@query("curation_mix_waterfill", oracle=_mix_oracle())
def curation_mix_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture allocation under availability caps — what a curation mix
    recipe does when a source runs out: target weights (derived
    deterministically from the source id, relative units 1..4) spread a
    token budget ({MIX_BUDGET_PCT}% of the corpus) across sources; a source
    that saturates (allocation hits its available tokens) freezes, and
    {MIX_ROUNDS} fixed water-filling rounds redistribute the surplus over
    the remaining weight mass (floor-division integer arithmetic, so the
    fixed-round recurrence replays exactly in the oracle — the unrolled-
    CTE discipline on a source-count-sized table). Output per source:
    availability, target vs realized weight, saturation flag.

    Scale shape: ONE corpus-sized agg (tokens per source); everything
    after runs on the source table (rows = |sources|) with two scalar
    subqueries per round. The 100 TB cost is the first agg, map-side
    combined."""
    docs = load(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("a")
    )
    src = avail.select(
        "source",
        "a",
        F.expr(
            "(CAST(substring(source, 4) AS BIGINT) % 4) + 1"
        ).alias("wt"),
    ).localCheckpoint(eager=True)  # source-count rows; pins the corpus agg
    budget = src.agg(
        F.expr(f"CAST((sum(a) * {MIX_BUDGET_PCT}) div 100 AS BIGINT)")
    ).first()[0]

    st = src.select("source", "a", "wt",
                    F.lit(0).cast("long").alias("alloc"),
                    F.lit(False).alias("sat"))
    for _ in range(MIX_ROUNDS):
        r = st.agg(
            (F.lit(budget) - F.sum("alloc")).cast("long").alias("remaining"),
            F.sum(F.when(~F.col("sat"), F.col("wt")).otherwise(0))
            .cast("long")
            .alias("wt_active"),
        ).first()  # two scalars over a |sources|-row frame
        remaining, wt_active = int(r["remaining"]), max(int(r["wt_active"]), 1)
        step = F.least(
            F.col("a"),
            F.col("alloc")
            + F.expr(f"(wt * {remaining}) div {wt_active}").cast("long"),
        )
        st = st.select(
            "source",
            "a",
            "wt",
            F.when(F.col("sat"), F.col("alloc")).otherwise(step).alias("alloc"),
            (F.col("sat") | (step >= F.col("a"))).alias("sat"),
        )
    return st.select(
        "source",
        F.col("a").alias("avail_tok"),
        F.col("wt").alias("target_wt"),
        F.col("alloc").alias("alloc_tok"),
        F.col("sat").alias("saturated"),
        F.expr(f"CAST((alloc * 1000000) div {budget} AS BIGINT)").alias(
            "realized_wt_1e6"
        ),
    )


# --------------------------------------------------------------------------
# 4. span-level extraction eval
# --------------------------------------------------------------------------

GOLD_TERM = "value"
PRED_EXTRA = "window"  # the predictor over-fires on this term → planted FPs
SPAN_SCALE = 1_000_000


@query(
    "eval_span_f1",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
gold AS (SELECT doc_id, pos FROM toks WHERE term = '{GOLD_TERM}'),
pred AS (
  SELECT doc_id, pos FROM toks
  WHERE term IN ('{GOLD_TERM}', '{PRED_EXTRA}') AND pos % 3 <> 0
),
m AS (
  SELECT coalesce(g.doc_id, p.doc_id) AS doc_id,
         CAST(count(CASE WHEN g.pos IS NOT NULL AND p.pos IS NOT NULL
                         THEN 1 END) AS BIGINT) AS tp,
         CAST(count(CASE WHEN g.pos IS NULL THEN 1 END) AS BIGINT) AS fp,
         CAST(count(CASE WHEN p.pos IS NULL THEN 1 END) AS BIGINT) AS fn
  FROM gold g FULL OUTER JOIN pred p
    ON g.doc_id = p.doc_id AND g.pos = p.pos
  GROUP BY coalesce(g.doc_id, p.doc_id)
)
SELECT doc_id, tp, fp, fn,
       CAST(CASE WHEN tp + fp > 0
                 THEN (tp * {SPAN_SCALE}) // (tp + fp) ELSE 0 END AS BIGINT)
         AS p_1e6,
       CAST(CASE WHEN tp + fn > 0
                 THEN (tp * {SPAN_SCALE}) // (tp + fn) ELSE 0 END AS BIGINT)
         AS r_1e6,
       CAST(CASE WHEN 2 * tp + fp + fn > 0
                 THEN (2 * tp * {SPAN_SCALE}) // (2 * tp + fp + fn)
                 ELSE 0 END AS BIGINT) AS f1_1e6
FROM m
""",
)
def eval_span_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level extraction eval: gold spans = positions of the target
    term; predicted spans = a deterministic imperfect extractor
    (over-fires on '{PRED_EXTRA}', drops every 3rd position → planted
    FPs AND FNs, so precision and recall both move). Position-keyed full
    outer join → per-doc TP/FP/FN → integer-micro P/R/F1 (F1 =
    2tp/(2tp+fp+fn): exact, no float). Swap the pred CTE for the
    model_extract_entities seam's output and this is the extraction
    model's scoring harness.

    Scale shape: posting lists join on (doc, pos) — linear; per-doc
    combine; no text rescan after tokenization."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    gold = toks.filter(F.col("term") == GOLD_TERM).select("doc_id", "pos")
    pred = toks.filter(
        F.col("term").isin(GOLD_TERM, PRED_EXTRA) & (F.col("pos") % 3 != 0)
    ).select("doc_id", "pos")
    g = gold.select("doc_id", "pos", F.lit(1).alias("g"))
    p = pred.select("doc_id", "pos", F.lit(1).alias("p"))
    m = (
        g.join(p, ["doc_id", "pos"], "full_outer")
        .groupBy("doc_id")
        .agg(
            F.count(F.when(F.col("g").isNotNull() & F.col("p").isNotNull(), 1))
            .cast("long")
            .alias("tp"),
            F.count(F.when(F.col("g").isNull(), 1)).cast("long").alias("fp"),
            F.count(F.when(F.col("p").isNull(), 1)).cast("long").alias("fn"),
        )
    )
    return m.select(
        "doc_id",
        "tp",
        "fp",
        "fn",
        F.expr(
            f"CAST(CASE WHEN tp + fp > 0 THEN (tp * {SPAN_SCALE}) div (tp + fp)"
            " ELSE 0 END AS BIGINT)"
        ).alias("p_1e6"),
        F.expr(
            f"CAST(CASE WHEN tp + fn > 0 THEN (tp * {SPAN_SCALE}) div (tp + fn)"
            " ELSE 0 END AS BIGINT)"
        ).alias("r_1e6"),
        F.expr(
            f"CAST(CASE WHEN 2 * tp + fp + fn > 0 THEN "
            f"(2 * tp * {SPAN_SCALE}) div (2 * tp + fp + fn) ELSE 0 END AS BIGINT)"
        ).alias("f1_1e6"),
    )
