"""Breadth batch 41 (round 6): ANALYZE stats, DP noisy argmax,
cointegration residuals, Krippendorff alpha, MIPS augmentation, CSV
dialect sniffing.

Six operators (reference scope: catalog statistics for a CBO, private
winner reporting, cross-series equilibrium checks, annotation
reliability with missing labels, inner-product retrieval reductions,
and ingestion-time format detection):

- ``io_analyze_table_stats`` — ANALYZE TABLE: per-column row/NDV/null/
  min/max statistics of orders (the CBO's food).
- ``privacy_discrete_laplace_argmax`` — report-noisy-max with
  deterministic two-sided-geometric (discrete Laplace) noise.
- ``ts_cointegration_residuals`` — Engle-Granger step: OLS of purchase
  on click daily series, Mann-Kendall trend on the integer residuals.
- ``eval_krippendorff_alpha`` — nominal Krippendorff's alpha over three
  synthetic raters with missing labels (doubled-unit exact arithmetic).
- ``vec_mips_augment``      — the MIPS→cosine reduction (augmented
  dimension), exact-inner-product top-k preserved.
- ``io_csv_dialect_sniff``  — delimiter detection by per-line field-count
  consistency over candidate dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.plans.breadth15 import _pt, _pt_sql
from nocouncil_etl_spark.registry import query

# --------------------------------------------------------------------------
# 1. ANALYZE TABLE column statistics
# --------------------------------------------------------------------------

_ANALYZE_COLS = (
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
    ("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"),
    ("cents", "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)"),
)


def _analyze_oracle() -> str:
    parts = []
    for name, expr in _ANALYZE_COLS:
        parts.append(
            f"""SELECT '{name}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT {expr}) AS BIGINT) AS ndv,
       CAST(sum(CASE WHEN {expr} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       min({expr}) AS min_str, max({expr}) AS max_str
FROM orders"""
        )
    return " UNION ALL ".join(parts)


@query("io_analyze_table_stats", oracle=_analyze_oracle())
def io_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE in miniature: per-column statistics of the orders
    table — row count, EXACT distinct count, null count, lexicographic
    min/max (columns stringified so one stats schema covers every type;
    the monetary column is stabilized to integer cents first, dates to
    DATE, so both engines render identical strings). This is the food a
    cost-based optimizer eats: NDV drives join-order and
    broadcast-threshold decisions, min/max drive range pruning.

    Scale shape: one pass per column batch (Spark computes all six in a
    single scan via grouped conditional aggregates); at 100 TB the exact
    NDVs become the HLL sketches the sketch_* family already provides —
    same statistics table, cheaper estimator."""
    orders = load(spark, sf_dir, "orders")
    exprs = {
        "o_orderkey": F.col("o_orderkey").cast("string"),
        "o_custkey": F.col("o_custkey").cast("string"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_orderpriority": F.col("o_orderpriority"),
        "o_orderdate": F.to_date("o_orderdate").cast("string"),
        "cents": F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
    }
    stats = orders.agg(
        F.count("*").cast("long").alias("n_rows"),
        *[
            a
            for name, e in exprs.items()
            for a in (
                F.countDistinct(e).cast("long").alias(f"ndv_{name}"),
                F.sum(F.when(e.isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"null_{name}"),
                F.min(e).alias(f"min_{name}"),
                F.max(e).alias(f"max_{name}"),
            )
        ],
    )
    rows = []
    r = stats.collect()[0]
    for name in exprs:
        rows.append(
            (
                name,
                r.n_rows,
                r[f"ndv_{name}"],
                r[f"null_{name}"],
                r[f"min_{name}"],
                r[f"max_{name}"],
            )
        )
    return spark.createDataFrame(
        rows,
        "column_name STRING, n_rows BIGINT, ndv BIGINT, n_null BIGINT,"
        " min_str STRING, max_str STRING",
    )


# --------------------------------------------------------------------------
# 2. Report-noisy-max with discrete Laplace
# --------------------------------------------------------------------------

# two-sided geometric (discrete Laplace) with alpha = 1/2:
# P(X = k) = (1/3) * (1/2)^|k|; CDF over k = -8..8 in 1e9 fixed units
_DLAP_KS = tuple(range(-8, 9))


def _dlap_cdf():
    probs = [(1.0 / 3.0) * (0.5 ** abs(k)) for k in _DLAP_KS]
    total = sum(probs)
    acc, out = 0.0, []
    for p in probs:
        acc += p / total
        out.append(min(round(acc * 1_000_000_000), 1_000_000_000))
    return tuple(out)


_DLAP_THRESH = _dlap_cdf()


def _dlap_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}"
        for k, t in zip(_DLAP_KS[:-1], _DLAP_THRESH[:-1])
    )
    return f"(CASE {cases} ELSE {_DLAP_KS[-1]} END)"


@query(
    "privacy_discrete_laplace_argmax",
    oracle=f"""
WITH cnt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
),
noisy AS (
  SELECT event_type, n,
         CAST({_dlap_sql(_pt_sql('dlap#', 'event_type', 1_000_000_000))}
              AS BIGINT) AS noise
  FROM cnt
),
ranked AS (
  SELECT event_type, n AS true_n, noise, n + noise AS noisy_n,
         row_number() OVER (ORDER BY n + noise DESC, event_type) AS rk
  FROM noisy
)
SELECT event_type, true_n, noise, noisy_n,
       CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_argmax
FROM ranked
""",
)
def privacy_discrete_laplace_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report-noisy-max with DISCRETE Laplace (two-sided geometric)
    noise — the integer-native DP mechanism (Canonne et al. 2020): each
    event-type count gets additive noise drawn by inverting the
    two-sided-geometric CDF (alpha = 1/2, fixed 1e9 thresholds shared by
    both engines — the sample_poisson_bootstrap technique) at an
    md5-uniform, and only the noisy winner is certified. Reporting the
    argmax of noisy counts — rather than the noisy counts of an exact
    argmax — is what gives the mechanism its differential-privacy
    guarantee. Complements dp_count_laplace (continuous noise on one
    count) with the selection mechanism.

    Scale shape: one map-side-combined count + k-row noise/rank."""
    ev = load(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    u = _pt("dlap#", F.col("event_type")) % 1_000_000_000
    noise = F.lit(_DLAP_KS[-1])
    for k, t in zip(reversed(_DLAP_KS[:-1]), reversed(_DLAP_THRESH[:-1])):
        noise = F.when(u < t, k).otherwise(noise)
    noisy = cnt.select(
        "event_type", F.col("n").alias("true_n"), noise.cast("long").alias("noise")
    ).withColumn("noisy_n", F.col("true_n") + F.col("noise"))
    return noisy.select(
        "event_type",
        "true_n",
        "noise",
        "noisy_n",
        F.when(
            F.row_number().over(Window.orderBy(F.desc("noisy_n"), "event_type"))
            == 1,
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("is_argmax"),
    )


# --------------------------------------------------------------------------
# 3. Cointegration residual trend
# --------------------------------------------------------------------------


@query(
    "ts_cointegration_residuals",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
),
paired AS (
  SELECT a.d, a.x AS cx, b.x AS py
  FROM (SELECT d, x FROM daily WHERE event_type = 'click') a
  JOIN (SELECT d, x FROM daily WHERE event_type = 'purchase') b ON a.d = b.d
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cx) AS BIGINT) AS sx, CAST(sum(py) AS BIGINT) AS sy,
         CAST(sum(cx * cx) AS BIGINT) AS sxx,
         CAST(sum(cx * py) AS BIGINT) AS sxy
  FROM paired
),
resid AS (
  SELECT p.d,
         CAST(round(1000 * (p.py
           - ((CAST(m.sy AS DOUBLE)
               - ((CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy / m.n)
                  / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n))
                 * m.sx) / m.n)
           - ((CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy / m.n)
              / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n))
             * p.cx)) AS BIGINT) AS e
  FROM paired p, mom m
),
mk AS (
  SELECT CAST(sum(CASE WHEN b.e > a.e THEN 1
                       WHEN b.e < a.e THEN -1 ELSE 0 END) AS BIGINT) AS s,
         (SELECT CAST(count(*) AS BIGINT) FROM resid) AS n
  FROM resid a JOIN resid b ON b.d > a.d
)
SELECT m.n,
       round((CAST(o.sxy AS DOUBLE) - CAST(o.sx AS DOUBLE) * o.sy / o.n)
             / (CAST(o.sxx AS DOUBLE) - CAST(o.sx AS DOUBLE) * o.sx / o.n), 6)
         AS beta,
       m.s AS mk_s,
       round(CAST(m.s AS DOUBLE)
             / sqrt(CAST(m.n AS DOUBLE) * (m.n - 1) * (2 * m.n + 5) / 18), 6)
         AS mk_z
FROM mk m, mom o
""",
)
def ts_cointegration_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration check, step one: regress the purchase
    daily series on the click daily series (closed-form OLS from exact
    moments), then test the RESIDUALS for trend with the exact
    Mann-Kendall S statistic (all-pairs sign sum over the milli-rounded
    integer residuals — order-free). Cointegrated series leave
    stationary residuals (S near 0); a drifting S says the two feeds
    share no equilibrium and any ratio-based alerting between them will
    false-alarm. Residuals are quantized immediately after the identical
    IEEE fit expression, so the pair signs agree bit-for-bit.

    Scale shape: daily collapse map-side; the MK pair join runs on the
    date-bounded residual table ((n_days)² pairs, calendar-bounded)."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.sum(F.round("value").cast("long")).cast("long").alias("x"))
    )
    a = daily.filter(F.col("event_type") == "click").select("d", F.col("x").alias("cx"))
    b = daily.filter(F.col("event_type") == "purchase").select(
        "d", F.col("x").alias("py")
    )
    paired = a.join(b, "d")
    mom = paired.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cx").cast("long").alias("sx"),
        F.sum("py").cast("long").alias("sy"),
        F.sum(F.col("cx") * F.col("cx")).cast("long").alias("sxx"),
        F.sum(F.col("cx") * F.col("py")).cast("long").alias("sxy"),
    )
    beta = (
        "((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)"
        " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))"
    )
    alpha = f"((CAST(sy AS DOUBLE) - {beta} * sx) / n)"
    resid = paired.crossJoin(F.broadcast(mom)).select(
        "d",
        F.expr(f"CAST(round(1000 * (py - {alpha} - {beta} * cx)) AS BIGINT)")
        .alias("e"),
    )
    ra = resid.select(F.col("d").alias("da"), F.col("e").alias("ea"))
    rb = resid.select(F.col("d").alias("db"), F.col("e").alias("eb"))
    mk = (
        ra.join(rb, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("eb") > F.col("ea"), 1)
                .when(F.col("eb") < F.col("ea"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    return mk.crossJoin(mom).select(
        "n",
        F.expr(f"round({beta}, 6)").alias("beta"),
        F.col("s").alias("mk_s"),
        F.round(
            F.col("s").cast("double")
            / F.sqrt(
                F.col("n").cast("double")
                * (F.col("n") - 1)
                * (2 * F.col("n") + 5)
                / 18
            ),
            6,
        ).alias("mk_z"),
    )


# --------------------------------------------------------------------------
# 4. Krippendorff's alpha (nominal, with missing)
# --------------------------------------------------------------------------

KRIP_RATERS = 3


def _krip_label_sql(r: int) -> str:
    h = (
        f"CAST(('0x' || substring(md5('kr{r}#' || CAST(doc_id AS VARCHAR)),"
        f" 1, 15)) AS BIGINT) % 10"
    )
    return f"""CASE WHEN {h} = 9 THEN NULL
     WHEN {h} < 2 THEN (doc_id % 3 + 1) % 3
     ELSE doc_id % 3 END"""


@query(
    "eval_krippendorff_alpha",
    oracle=f"""
WITH labels AS (
  {' UNION ALL '.join(
    f"SELECT doc_id, {r} AS rater, CAST({_krip_label_sql(r)} AS BIGINT) AS lab FROM documents"
    for r in range(KRIP_RATERS)
  )}
),
present AS (SELECT doc_id, rater, lab FROM labels WHERE lab IS NOT NULL),
units AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS m
  FROM present GROUP BY doc_id HAVING count(*) >= 2
),
pairs AS (
  SELECT a.doc_id, u.m, a.lab AS la, b.lab AS lb
  FROM present a
  JOIN present b ON a.doc_id = b.doc_id AND a.rater <> b.rater
  JOIN units u ON a.doc_id = u.doc_id
),
do_ AS (
  SELECT CAST(sum(CASE WHEN la <> lb THEN 2 // (m - 1) ELSE 0 END)
              AS BIGINT) AS do2,
         CAST(sum(2 // (m - 1)) AS BIGINT) AS tot2
  FROM pairs
),
dist AS (
  SELECT lab, CAST(count(*) AS BIGINT) AS c
  FROM present p JOIN units u ON p.doc_id = u.doc_id
  GROUP BY lab
),
de AS (
  SELECT CAST(sum(a.c * b.c) AS BIGINT) AS cross_,
         (SELECT CAST(sum(c) AS BIGINT) FROM dist) AS n
  FROM dist a JOIN dist b ON a.lab <> b.lab
)
SELECT e.n AS n_values, d.do2, d.tot2,
       round(1.0 - (CAST(d.do2 AS DOUBLE) / d.tot2)
                   / (CAST(e.cross_ AS DOUBLE) / (CAST(e.n AS DOUBLE)
                      * (e.n - 1))), 6) AS alpha
FROM do_ d, de e
""",
)
def eval_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal data) over three synthetic raters
    with MISSING labels — the reliability coefficient that, unlike
    eval_fleiss_kappa, tolerates incomplete rating matrices: units with
    fewer than two pairable values drop out, each unit's ordered pairs
    weigh 1/(m_u − 1) (exactly 2//(m−1) in doubled units — integer for
    m in {{2, 3}}), observed disagreement is compared against the
    disagreement expected from the pooled value distribution, and
    alpha = 1 − Do/De. Raters here share a ground truth (doc_id mod 3)
    with a deterministic 20% flip and 10% missingness, so alpha lands
    in the informative mid-range. Exact integers until the final ratio.

    Scale shape: label fan-out is map-side; pair counting is a per-unit
    self-join on ≤ 3 rows per unit; De needs only the k-row label
    distribution."""
    docs = load(spark, sf_dir, "documents")
    parts = []
    for r in range(KRIP_RATERS):
        h = _pt(f"kr{r}#", F.col("doc_id")) % 10
        lab = (
            F.when(h == 9, F.lit(None).cast("long"))
            .when(h < 2, ((F.col("doc_id") % 3 + 1) % 3).cast("long"))
            .otherwise((F.col("doc_id") % 3).cast("long"))
        )
        parts.append(
            docs.select("doc_id", F.lit(r).alias("rater"), lab.alias("lab"))
        )
    labels = parts[0]
    for p in parts[1:]:
        labels = labels.unionByName(p)
    present = labels.filter(F.col("lab").isNotNull())
    units = (
        present.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("m"))
        .filter(F.col("m") >= 2)
    )
    a = present.select("doc_id", F.col("rater").alias("ra"), F.col("lab").alias("la"))
    b = present.select("doc_id", F.col("rater").alias("rb"), F.col("lab").alias("lb"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("ra") != F.col("rb"))
        .join(units, "doc_id")
    )
    do_ = pairs.agg(
        F.sum(
            F.when(F.col("la") != F.col("lb"), F.expr("2 div (m - 1)")).otherwise(0)
        )
        .cast("long")
        .alias("do2"),
        F.sum(F.expr("2 div (m - 1)")).cast("long").alias("tot2"),
    )
    dist = (
        present.join(units, "doc_id")
        .groupBy("lab")
        .agg(F.count("*").cast("long").alias("c"))
    )
    n = dist.agg(F.sum("c").cast("long").alias("n"))
    da = dist.select(F.col("lab").alias("la"), F.col("c").alias("ca"))
    db = dist.select(F.col("lab").alias("lb"), F.col("c").alias("cb"))
    cross = (
        da.join(db, F.col("la") != F.col("lb"))
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("cross_"))
    )
    return (
        do_.crossJoin(cross)
        .crossJoin(n)
        .select(
            F.col("n").alias("n_values"),
            "do2",
            "tot2",
            F.round(
                1.0
                - (F.col("do2").cast("double") / F.col("tot2"))
                / (
                    F.col("cross_").cast("double")
                    / (F.col("n").cast("double") * (F.col("n") - 1))
                ),
                6,
            ).alias("alpha"),
        )
    )


# --------------------------------------------------------------------------
# 5. MIPS -> cosine augmentation
# --------------------------------------------------------------------------

MIPS_TOPK = 5


@query(
    "vec_mips_augment",
    oracle=f"""
WITH comp AS (
  SELECT vec_id, label, CAST(i AS BIGINT) AS i,
         CAST(round(1000 * (1 + label)
               * CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS BIGINT)
           AS x
  FROM (SELECT vec_id, label, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
),
q AS (SELECT i, x FROM comp WHERE vec_id = 0),
ips AS (
  SELECT c.vec_id, CAST(sum(c.x * q.x) AS BIGINT) AS ip
  FROM comp c JOIN q ON c.i = q.i
  WHERE c.vec_id <> 0
  GROUP BY c.vec_id
),
norms AS (
  SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS n2 FROM comp
  WHERE vec_id <> 0 GROUP BY vec_id
),
mx AS (SELECT CAST(max(n2) AS BIGINT) AS m2 FROM norms),
aug AS (
  SELECT n.vec_id, i.ip, n.n2,
         CAST(round(1000.0 * sqrt(CAST(m.m2 - n.n2 AS DOUBLE)
                                  / CAST(m.m2 AS DOUBLE))) AS BIGINT)
           AS aug_milli
  FROM norms n JOIN ips i ON n.vec_id = i.vec_id, mx m
)
SELECT vec_id, ip, aug_milli, rk FROM (
  SELECT vec_id, ip, aug_milli,
         CAST(row_number() OVER (ORDER BY ip DESC, vec_id) AS INT) AS rk
  FROM aug
) WHERE rk <= {MIPS_TOPK}
""",
)
def vec_mips_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MIPS→cosine reduction (Bachrach et al. 2014 / Shrivastava-Li):
    maximum-inner-product search over vectors of UNEQUAL norm (here the
    embeddings are rescaled by 1 + label, so norms genuinely differ)
    reduces to nearest-neighbor search by appending one coordinate
    sqrt(M² − ||x||²) that equalizes every augmented norm to M — after
    which the whole vec_knn_* ANN ladder applies to inner-product
    retrieval unchanged. Emits the exact top-{MIPS_TOPK} by inner
    product with each vector's augmented coordinate (milli, exact-int
    radicand); the test verifies augmented norms are constant and that
    augmented-cosine ranking reproduces the MIPS ranking.

    Scale shape: one component equi-join per query against the corpus
    (the vec_knn_exact shape); the augmentation itself is a map-side
    per-vector scalar."""
    e = fan_out(load(spark, sf_dir, "embeddings"))
    comp = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i0", "xv"),
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(1000 * (1 + F.col("label")) * F.col("xv").cast("double"))
        .cast("long")
        .alias("x"),
    )
    q = comp.filter(F.col("vec_id") == 0).select("i", F.col("x").alias("qx"))
    rest = comp.filter(F.col("vec_id") != 0)
    ips = (
        rest.join(F.broadcast(q), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("qx")).cast("long").alias("ip"))
    )
    norms = rest.groupBy("vec_id").agg(
        F.sum(F.col("x") * F.col("x")).cast("long").alias("n2")
    )
    mx = norms.agg(F.max("n2").alias("m2"))
    aug = (
        norms.join(ips, "vec_id")
        .crossJoin(F.broadcast(mx))
        .select(
            "vec_id",
            "ip",
            F.round(
                1000.0
                * F.sqrt(
                    (F.col("m2") - F.col("n2")).cast("double")
                    / F.col("m2").cast("double")
                )
            )
            .cast("long")
            .alias("aug_milli"),
        )
    )
    return (
        aug.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("ip"), "vec_id")).cast("int"),
        )
        .filter(F.col("rk") <= MIPS_TOPK)
        .select("vec_id", "ip", "aug_milli", "rk")
    )


# --------------------------------------------------------------------------
# 6. CSV dialect sniffing
# --------------------------------------------------------------------------

_SNIFF_CANDS = ((0, ","), (1, ";"), (2, "|"), (3, "\t"))


@query(
    "io_csv_dialect_sniff",
    oracle=r"""
WITH lines AS (
  SELECT CAST(o_orderkey AS VARCHAR) || ';"' || o_orderstatus || '";'
         || o_orderpriority || ';'
         || CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
           AS line
  FROM orders
),
cands AS (
  SELECT * FROM (VALUES (0, ','), (1, ';'), (2, '|'), (3, CHR(9)))
    AS t(cid, delim)
),
counts AS (
  SELECT c.cid, c.delim, len(string_split(l.line, c.delim)) AS nf
  FROM lines l, cands c
),
modal AS (
  SELECT cid, delim, nf, CAST(count(*) AS BIGINT) AS c,
         row_number() OVER (PARTITION BY cid ORDER BY count(*) DESC, nf)
           AS rk
  FROM counts GROUP BY cid, delim, nf
),
scored AS (
  SELECT m.cid, m.delim, m.nf AS modal_fields,
         CAST((1000000 * m.c) // (SELECT count(*) FROM lines) AS BIGINT)
           AS consistency_1e6,
         CASE WHEN m.nf > 1 THEN (1000000 * m.c)
                                  // (SELECT count(*) FROM lines)
              ELSE 0 END AS score
  FROM modal m WHERE m.rk = 1
)
SELECT cid, delim, CAST(modal_fields AS BIGINT) AS modal_fields,
       consistency_1e6,
       CAST(CASE WHEN row_number() OVER (ORDER BY score DESC, cid) = 1
                 THEN 1 ELSE 0 END AS BIGINT) AS is_best
FROM scored
""",
)
def io_csv_dialect_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect sniffing (what every ingestion path does before the
    real parse): a semicolon-delimited feed with one quoted field is
    synthesized from orders, and each candidate delimiter (comma,
    semicolon, pipe, tab) is scored by FIELD-COUNT CONSISTENCY — split
    every line, take the modal field count, score = share of lines
    agreeing with the mode, with single-field candidates disqualified
    (a delimiter that never fires splits nothing and is trivially
    'consistent'). The semicolon wins with full consistency and 4
    fields. All integer ppm.

    Scale shape: sniffing needs only a SAMPLE at scale (any few thousand
    lines); here the full feed is one map-side split + modal hash-agg
    per candidate."""
    orders = load(spark, sf_dir, "orders")
    lines = orders.select(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit(';"'),
            F.col("o_orderstatus"),
            F.lit('";'),
            F.col("o_orderpriority"),
            F.lit(";"),
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        ).alias("line")
    )
    n_lines = lines.count()
    parts = []
    for cid, delim in _SNIFF_CANDS:
        import re as _re

        parts.append(
            lines.select(
                F.lit(cid).alias("cid"),
                F.lit(delim).alias("delim"),
                F.size(F.split("line", _re.escape(delim))).alias("nf"),
            )
        )
    counts = parts[0]
    for p in parts[1:]:
        counts = counts.unionByName(p)
    modal = (
        counts.groupBy("cid", "delim", "nf")
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("cid").orderBy(F.desc("c"), "nf")
            ),
        )
        .filter(F.col("rk") == 1)
    )
    scored = modal.select(
        "cid",
        "delim",
        F.col("nf").cast("long").alias("modal_fields"),
        F.expr(f"CAST((1000000 * c) div {n_lines} AS BIGINT)").alias(
            "consistency_1e6"
        ),
        F.when(
            F.col("nf") > 1, F.expr(f"(1000000 * c) div {n_lines}")
        )
        .otherwise(0)
        .alias("score"),
    )
    return scored.select(
        "cid",
        "delim",
        "modal_fields",
        "consistency_1e6",
        F.when(
            F.row_number().over(Window.orderBy(F.desc("score"), "cid")) == 1, 1
        )
        .otherwise(0)
        .cast("long")
        .alias("is_best"),
    )
