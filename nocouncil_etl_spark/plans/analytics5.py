"""Round-5 analytics: scalable exact quantiles and BFS reachability layers.

- ``agg_percentile_exact_rank`` — EXACT per-group p50/p90/p99 computed the
  way that survives 100 TB: a rank window over the sorted partition picks
  the order statistic, so no aggregation buffer ever materializes a
  group's values (Spark's exact ``percentile`` aggregate holds the whole
  group in memory — the trap the round-5 sf1 run caught at 52 s/sf0.1 in
  an earlier agg_approx_sketches design; this is the exact-answer
  counterpart of that query's sketches).
- ``graph_bfs_layers`` — multi-source BFS distance layers over the
  deterministic link graph (plans/graph_plans.py), 4 synchronous rounds of
  min-label propagation with one unrolled CTE block per round — the
  PageRank oracle technique applied to reachability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60
from nocouncil_etl_spark.io import fan_out, load
from nocouncil_etl_spark.plans.graph_plans import _EDGES_SQL, _graph
from nocouncil_etl_spark.registry import query

PCTS = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
BFS_ROUNDS = 4
SEED_MOD = 101  # node % 101 == 0 → the BFS source set


# --------------------------------------------------------------------------
# 1. exact rank-based quantiles
# --------------------------------------------------------------------------

_PCT_SQL = ",\n       ".join(
    f"max(CASE WHEN rn = CAST(ceil({p} * n) AS BIGINT) THEN v END) AS {name}"
    for name, p in PCTS
)


@query(
    "agg_percentile_exact_rank",
    oracle=f"""
WITH r AS (
  SELECT l_returnflag, l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
           AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
       {_PCT_SQL}
FROM r GROUP BY l_returnflag
""",
)
def agg_percentile_exact_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 per return flag as ORDER STATISTICS: rank every
    row within its sorted partition, then pick the value at ceil(p·n)
    (type-1 / quantile_disc semantics — an actual data value, no
    interpolation, so ties and float folding cannot move it). Equal values
    share the picked value regardless of tie order, so row_number's
    nondeterminism among ties is invisible in the output.

    Scale shape (r9 + r11 opt): per-group CUMULATIVE COUNTS via the
    GROUPED range-partitioned two-phase scan
    (operators/quantiles.ranged_group_rank_cumsum) — a plain
    partitionBy(flag) window puts each flag's WHOLE frame in one task,
    and with only 3 flags that is 3 single-task sorts of a third of the
    corpus each (measured 3.9x at 10x data before the swap). r11: the
    scan now runs over the (flag, value) HISTOGRAM, not the raw rows —
    the order statistic at rank t is the smallest value whose cumulative
    count reaches t, so ranking every duplicate row individually shuffled
    |corpus| rows through the range partitioner where |distinct prices|
    suffice (guide §2.3: shuffle fewer bytes; the map-side-combined
    count agg collapses duplicates before any range shuffle). Still no
    per-group single-task sort at any group cardinality. Spark's exact
    percentile() aggregate is still worse (one buffer per group);
    percentile_approx (agg_approx_sketches) is the one-pass sketch
    sibling."""
    from nocouncil_etl_spark.operators.quantiles import (
        ranged_group_rank_cumsum,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    )
    hist = li.groupBy("l_returnflag", "v").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    cum = ranged_group_rank_cumsum(
        hist, "l_returnflag", "v", "v", measure_cols=("w",), rank_col="_rn"
    ).drop("_rn")
    # n per flag = the flag's max cumulative count — read from the scan's
    # pinned output instead of re-aggregating the parquet scan
    cnt = cum.groupBy("l_returnflag").agg(
        F.max("cum_w").cast("long").alias("n")
    )
    r = cum.join(F.broadcast(cnt), "l_returnflag")
    picks = [
        F.min(
            F.when(
                F.col("cum_w") >= F.ceil(F.lit(p) * F.col("n")).cast("long"),
                F.col("v"),
            )
        ).alias(name)
        for name, p in PCTS
    ]
    return r.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n"), *picks
    )


# --------------------------------------------------------------------------
# 2. BFS distance layers
# --------------------------------------------------------------------------


def _bfs_oracle() -> str:
    cte = [f"WITH {_EDGES_SQL},"]
    cte.append(f"""
d0 AS (
  SELECT node, CASE WHEN node % {SEED_MOD} = 0 THEN 0 END AS d FROM nodes
)""")
    for k in range(BFS_ROUNDS):
        cte.append(f""",
p{k} AS (
  SELECT e.dst AS node, min(d.d + 1) AS nd
  FROM edges0 e JOIN d{k} d ON e.src = d.node
  WHERE d.d IS NOT NULL GROUP BY e.dst
),
d{k + 1} AS (
  SELECT n.node,
         CASE WHEN n.d IS NULL THEN p.nd
              WHEN p.nd IS NULL THEN n.d
              ELSE least(n.d, p.nd) END AS d
  FROM d{k} n LEFT JOIN p{k} p ON n.node = p.node
)""")
    cte.append(f"""
SELECT CAST(coalesce(d, -1) AS BIGINT) AS dist, count(*) AS n_nodes
FROM d{BFS_ROUNDS} GROUP BY 1""")
    return "".join(cte)


@query("graph_bfs_layers", oracle=_bfs_oracle())
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the deterministic link graph: distance-from-
    seed-set after {BFS_ROUNDS} synchronous rounds of min-label
    propagation (d(v) ← min(d(v), min over in-edges d(u)+1)), reported as
    layer sizes; unreached nodes report −1. Integer labels make every
    round bit-identical across engines, so the oracle unrolls one CTE
    block per round — the PageRank technique applied to reachability
    (the frontier query behind crawl-depth and influence-radius
    analyses).

    Scale shape: per round, one equi-join (edges ⋈ frontier on src) +
    one map-side-combined min keyed by dst + one left join back — the
    same shape as a PageRank iteration, state is one row per node."""
    nodes, edges, _ = _graph(spark, sf_dir)
    edges0 = edges.select("src", "dst")
    dist = nodes.withColumn(
        "d", F.when(F.col("node") % SEED_MOD == 0, F.lit(0))
    )
    for _ in range(BFS_ROUNDS):
        prop = (
            edges0.join(dist, edges0["src"] == dist["node"])
            .filter(F.col("d").isNotNull())
            .select("dst", (F.col("d") + 1).alias("nd"))
            .groupBy("dst")
            .agg(F.min("nd").alias("nd"))
        )
        dist = (
            dist.join(prop, dist["node"] == prop["dst"], "left")
            .select(
                "node",
                F.when(F.col("d").isNull(), F.col("nd"))
                .when(F.col("nd").isNull(), F.col("d"))
                .otherwise(F.least("d", "nd"))
                .alias("d"),
            )
        )
    return (
        dist.groupBy(F.coalesce("d", F.lit(-1)).cast("long").alias("dist"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


# --------------------------------------------------------------------------
# 3. higher-order array functions surface
# --------------------------------------------------------------------------


@query(
    "fn_array_hof",
    oracle="""
WITH w AS (
  SELECT doc_id, list_transform(string_split(text, ' '), t -> length(t)) AS lens
  FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(lens, x -> x >= 6)) AS INT) AS n_long,
       CAST(list_sum(list_transform(lens, x -> x * x)) AS BIGINT) AS sum_sq,
       CAST(list_max(lens) AS INT) AS max_len,
       CAST(list_reduce(list_prepend(0, lens), (acc, x) -> acc + x) AS BIGINT)
         AS total_chars,
       len(lens) > 0 AND list_bool_and(list_transform(lens, x -> x > 0))
         AS all_nonempty
FROM w
""",
)
def fn_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function surface (§2.5 depth): transform / filter
    / aggregate-fold / forall over per-document word-length arrays, all in
    integer arithmetic so both engines fold identically. Everything is a
    narrow codegen'd expression — the HOF lambdas run JVM-side, no Python.

    Scale shape: zero shuffles; pure per-row compute."""
    docs = load(spark, sf_dir, "documents")
    lens = F.transform(F.split("text", " "), lambda t: F.length(t))
    base = docs.select("doc_id", lens.alias("lens"))
    return base.select(
        "doc_id",
        F.size(F.filter("lens", lambda x: x >= 6)).alias("n_long"),
        F.aggregate(
            F.transform("lens", lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_sq"),
        F.array_max("lens").alias("max_len"),
        F.aggregate(
            "lens", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_chars"),
        ((F.size("lens") > 0) & F.forall("lens", lambda x: x > 0)).alias(
            "all_nonempty"
        ),
    )


# --------------------------------------------------------------------------
# 4. deterministic argmax per group
# --------------------------------------------------------------------------


@query(
    "agg_argmax_struct",
    oracle="""
SELECT event_type,
       max(round(value, 2)) AS max_value,
       CAST(min(event_id) FILTER (
         WHERE round(value, 2) = mv
       ) AS BIGINT) AS argmax_event_id
FROM (
  SELECT event_type, event_id, value,
         max(round(value, 2)) OVER (PARTITION BY event_type) AS mv
  FROM events
)
GROUP BY event_type
""",
)
def agg_argmax_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmax per group: the row(s) achieving the group max,
    tie-broken to the smallest event id — engine-native max_by/arg_max
    picks an ARBITRARY tying row and fails value hashes; the struct-max
    (Spark) / windowed-filter (DuckDB) forms pin the same winner. Values
    snap to the 2dp money grid first so float noise can't create phantom
    near-ties.

    Scale shape: Spark folds max(struct(v, -id)) in one hash agg with
    map-side combine — no window, no second pass; the oracle's window
    formulation is the SQL-portable equivalent."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id", F.round("value", 2).alias("v2")
    )
    # max over (v2 asc, event_id desc encoded as -id) == (max v2, min id)
    packed = F.max(F.struct(F.col("v2"), (-F.col("event_id")).alias("nid")))
    return ev.groupBy("event_type").agg(packed.alias("m")).select(
        "event_type",
        F.col("m.v2").alias("max_value"),
        (-F.col("m.nid")).cast("long").alias("argmax_event_id"),
    )


# --------------------------------------------------------------------------
# 5. Morton (Z-order) interleave key
# --------------------------------------------------------------------------

def _spread_sql(col: str) -> str:
    """16-bit → even-bit spread, the classic mask cascade (portable: pure
    integer & | << on BIGINT in both engines)."""
    e = f"CAST({col} AS BIGINT)"
    e = f"(({e} | ({e} << 8)) & 16711935)"      # 0x00FF00FF
    e = f"(({e} | ({e} << 4)) & 252645135)"     # 0x0F0F0F0F
    e = f"(({e} | ({e} << 2)) & 858993459)"     # 0x33333333
    e = f"(({e} | ({e} << 1)) & 1431655765)"    # 0x55555555
    return e


@query(
    "fn_morton_zorder",
    oracle=f"""
WITH b AS (
  SELECT event_id, user_id,
         CAST(floor(round(value, 2)) AS BIGINT) AS vbucket
  FROM events
)
SELECT event_id, user_id, vbucket,
       ({_spread_sql("user_id")}) | (({_spread_sql("vbucket")}) << 1)
         AS morton
FROM b
""",
)
def fn_morton_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleave of (user_id, value-bucket): the
    multi-dimensional clustering key behind data-skipping layouts — rows
    sorted by the interleaved key are locally bounded in BOTH dimensions,
    so per-file min/max stats prune scans on either predicate (the
    Delta/Iceberg OPTIMIZE ZORDER kernel, as a portable bit cascade).
    Engine.zorder_write applies it to a real parquet layout;
    tests/test_layout5.py measures the per-file bounding boxes shrinking.

    Scale shape: pure per-row integer bit arithmetic, zero shuffles."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.round("value", 2)).cast("long").alias("vbucket"),
    )
    morton = morton_key("user_id", "vbucket").alias("morton")
    return ev.select("event_id", "user_id", "vbucket", morton)


_MORTON_MASKS = ((8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765))


def morton_key(x_col: str, y_col: str) -> Column:
    """Morton (Z-order) key of two 16-bit integer columns: x's bits on the
    even positions, y's on the odd (the _spread_sql mask cascade)."""

    def spread(c):
        e = F.col(c).cast("long")
        for sh, m in _MORTON_MASKS:
            e = (e.bitwiseOR(F.shiftleft(e, sh))).bitwiseAND(F.lit(m))
        return e

    return spread(x_col).bitwiseOR(F.shiftleft(spread(y_col), 1))


# --------------------------------------------------------------------------
# 6. robust (MAD-based) outlier detection
# --------------------------------------------------------------------------

MAD_K = 3  # outlier fence: |v - median| > 3 * MAD


@query(
    "agg_mad_outliers",
    oracle=f"""
WITH v AS (SELECT event_type, round(value, 2) AS v2 FROM events),
r1 AS (
  SELECT event_type, v2,
         row_number() OVER (PARTITION BY event_type ORDER BY v2) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
med AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v2 END) AS med
  FROM r1 GROUP BY event_type
),
d AS (
  SELECT v.event_type, round(abs(v.v2 - m.med), 2) AS dev
  FROM v JOIN med m USING (event_type)
),
r2 AS (
  SELECT event_type, dev,
         row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM d
),
mad AS (
  SELECT event_type,
         max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN dev END) AS mad
  FROM r2 GROUP BY event_type
)
SELECT m.event_type, m.n, m.med, a.mad,
       (SELECT count(*) FROM d
        WHERE d.event_type = m.event_type AND d.dev > {MAD_K} * a.mad)
         AS n_outliers
FROM med m JOIN mad a USING (event_type)
""",
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group: median absolute deviation (the
    outlier-immune scale estimate — stddev-based z-scores let the outliers
    inflate their own fence) with the fence |v − median| > {MAD_K}·MAD.
    Both medians are EXACT type-1 order statistics picked by rank windows
    (the agg_percentile_exact_rank technique applied twice), so no group's
    values ever sit in one aggregation buffer; values snap to the 2dp grid
    so the deviation arithmetic is engine-identical.

    Scale shape: two partition-keyed sorts (median, then MAD over
    deviations) + one broadcast of the 5-row median table back over the
    scan — all linear, all streaming through window sorts."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.round("value", 2).alias("v2")
    )
    wo = Window.partitionBy("event_type").orderBy("v2")
    wp = Window.partitionBy("event_type")
    r1 = ev.select(
        "event_type", "v2",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    med = r1.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")).cast("long"),
                   F.col("v2"))
        ).alias("med"),
    )
    d = ev.join(F.broadcast(med.select("event_type", "med")), "event_type").select(
        "event_type", F.round(F.abs(F.col("v2") - F.col("med")), 2).alias("dev")
    )
    wo2 = Window.partitionBy("event_type").orderBy("dev")
    r2 = d.select(
        "event_type", "dev",
        F.row_number().over(wo2).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    mad = r2.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")).cast("long"),
                   F.col("dev"))
        ).alias("mad"),
    )
    fen = d.join(F.broadcast(mad), "event_type")
    outl = fen.groupBy("event_type").agg(
        F.count(F.when(F.col("dev") > MAD_K * F.col("mad"), 1)).alias("n_outliers")
    )
    return (
        med.join(mad, "event_type")
        .join(outl, "event_type")
        .select("event_type", "n", "med", "mad", "n_outliers")
    )


# --------------------------------------------------------------------------
# 7. Count-Min sketch with an EXACT oracle
# --------------------------------------------------------------------------

CMS_D = 3      # hash rows
CMS_W = 512    # buckets per row
CMS_TOP = 20   # report the estimates for the top exact terms

_CMS_BUCKET_SQL = (
    "(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {term}), 1, 15))"
    f"::BIGINT) % {CMS_W}"
)


@query(
    "sketch_countmin_freq",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
cnt AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
top AS (SELECT term, n FROM cnt ORDER BY n DESC, term LIMIT {CMS_TOP}),
rows_ AS (SELECT unnest(range(0, {CMS_D})) AS j),
cells AS (
  SELECT j, {_CMS_BUCKET_SQL.format(j="j", term="term")} AS bucket,
         CAST(sum(n) AS BIGINT) AS c
  FROM cnt CROSS JOIN rows_ GROUP BY 1, 2
)
SELECT t.term, CAST(t.n AS BIGINT) AS exact_n,
       CAST(min(c.c) AS BIGINT) AS est_n,
       min(c.c) >= t.n AS no_undercount
FROM top t
CROSS JOIN rows_ r
JOIN cells c
  ON c.j = r.j
 AND c.bucket = {_CMS_BUCKET_SQL.format(j="r.j", term="t.term")}
GROUP BY t.term, t.n
""",
)
def sketch_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch ({CMS_D}×{CMS_W}, md5-derived hash rows)
    with an EXACT oracle: every cell is an integer sum over a
    deterministic hash partition, so the sketch — unlike HLL — is
    bit-identical across engines and the estimate itself hash-matches,
    alongside the exact counts for the top-{CMS_TOP} terms and the CMS
    no-undercount guarantee (est ≥ exact, structurally true, pinned as a
    column). Completes the sketch family: KMV (distinct), HLL/GK
    (bounded-error), CMS (point frequency, mergeable by cell-wise add).

    Scale shape: the token stream pre-aggregates per term BEFORE the d-way
    fan-out, so the sketch build shuffles vocabulary-sized rows, not the
    corpus; the sketch table is d·w = {CMS_D * CMS_W} cells regardless of
    data size — the whole point of a sketch."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(F.split("text", " ")).alias("term"))
    cnt = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = cnt.orderBy(F.desc("n"), F.asc("term")).limit(CMS_TOP)

    js = F.explode(F.array(*[F.lit(j) for j in range(CMS_D)])).alias("j")

    def bucket(j_col, term_col):
        h = hash60(F.concat(j_col.cast("string"), F.lit(":"), term_col))
        return h % CMS_W

    fan = cnt.select("term", "n", js)
    cells = (
        fan.select("j", bucket(F.col("j"), F.col("term")).alias("bucket"), "n")
        .groupBy("j", "bucket")
        .agg(F.sum("n").alias("c"))
    )
    probes = top.select("term", "n", js).withColumn(
        "bucket", bucket(F.col("j"), F.col("term"))
    )
    est = (
        probes.join(cells, ["j", "bucket"])
        .groupBy("term", "n")
        .agg(F.min("c").alias("est_n"))
    )
    return est.select(
        "term",
        F.col("n").cast("long").alias("exact_n"),
        F.col("est_n").cast("long").alias("est_n"),
        (F.col("est_n") >= F.col("n")).alias("no_undercount"),
    )


# --------------------------------------------------------------------------
# 8. Bloom-filter membership sketch (exact oracle)
# --------------------------------------------------------------------------

BLOOM_WORDS = 64      # bitset = 64 words x 62 usable bits (sign bit unused)
BLOOM_BITS_PER = 62
BLOOM_K = 3           # hash functions

_BLOOM_BIT_SQL = (
    "(('0x' || substr(md5(CAST({i} AS VARCHAR) || '#' || CAST({x} AS VARCHAR)),"
    f" 1, 15))::BIGINT) % {BLOOM_WORDS * BLOOM_BITS_PER}"
)


@query(
    "sketch_bloom_membership",
    oracle=f"""
WITH members AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
),
hashes AS (SELECT unnest(range(0, {BLOOM_K})) AS i),
mbits AS (
  SELECT {_BLOOM_BIT_SQL.format(i="i", x="user_id")} AS bit
  FROM members CROSS JOIN hashes
),
bloom AS (
  SELECT bit // {BLOOM_BITS_PER} AS word,
         bit_or(1::BIGINT << (bit % {BLOOM_BITS_PER})) AS bits
  FROM mbits GROUP BY 1
),
cands AS (SELECT DISTINCT user_id FROM events),
probes AS (
  SELECT c.user_id, i,
         {_BLOOM_BIT_SQL.format(i="i", x="c.user_id")} AS bit
  FROM cands c CROSS JOIN hashes
),
checked AS (
  SELECT p.user_id,
         bool_and(coalesce(b.bits, 0)
                  & (1::BIGINT << (p.bit % {BLOOM_BITS_PER}))
                  <> 0) AS bloom_pass
  FROM probes p
  LEFT JOIN bloom b ON b.word = p.bit // {BLOOM_BITS_PER}
  GROUP BY p.user_id
)
SELECT c.user_id, c.bloom_pass,
       m.user_id IS NOT NULL AS is_member,
       (m.user_id IS NULL) OR c.bloom_pass AS no_false_negative
FROM checked c LEFT JOIN members m ON c.user_id = m.user_id
""",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch with an EXACT oracle: the bitset is
    {BLOOM_WORDS} BIGINT words built by bit_or over md5-derived positions
    (sign bit unused so shifts never wrap), so — like the CMS — the sketch
    is bit-identical across engines and every probe result hash-matches.
    Emitted per candidate: the bloom verdict, the true membership, and the
    structural no-false-negative guarantee. This is the join-pruning
    primitive: at 100 TB the {BLOOM_WORDS}-word bitset broadcasts to every
    task and filters the big side BEFORE the shuffle, the way Spark's own
    runtime row-level bloom pruning works — here surfaced as an explicit,
    mergeable (bit_or) operator.

    Scale shape: members pre-distinct → k-way fan-out → {BLOOM_WORDS}-row
    bit_or agg (map-side combined); probes join the tiny bitset broadcast;
    everything integer."""
    ev = load(spark, sf_dir, "events")
    members = ev.filter(F.col("event_type") == "purchase").select(
        "user_id"
    ).distinct()
    hashes = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("i")

    def bit(i_col, x_col):
        h = hash60(F.concat(
            i_col.cast("string"), F.lit("#"), x_col.cast("string")
        ))
        return h % (BLOOM_WORDS * BLOOM_BITS_PER)

    mbits = members.select(hashes, "user_id").select(
        bit(F.col("i"), F.col("user_id")).alias("bit")
    )
    bloom = mbits.select(
        F.expr(f"bit div {BLOOM_BITS_PER}").alias("word"),
        F.expr(f"shiftleft(1L, CAST(bit % {BLOOM_BITS_PER} AS INT))").alias("mask"),
    ).groupBy("word").agg(F.bit_or("mask").alias("bits"))
    cands = ev.select("user_id").distinct()
    probes = cands.select("user_id", hashes).select(
        "user_id", bit(F.col("i"), F.col("user_id")).alias("bit")
    )
    checked = (
        probes.withColumn("word", F.expr(f"bit div {BLOOM_BITS_PER}"))
        .withColumn(
            "mask", F.expr(f"shiftleft(1L, CAST(bit % {BLOOM_BITS_PER} AS INT))")
        )
        .join(F.broadcast(bloom), "word", "left")
        .groupBy("user_id")
        .agg(
            F.bool_and(
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
                != 0
            ).alias("bloom_pass")
        )
    )
    is_member = members.withColumn("is_member", F.lit(True))
    return (
        checked.join(F.broadcast(is_member), "user_id", "left")
        .select(
            "user_id",
            "bloom_pass",
            F.coalesce("is_member", F.lit(False)).alias("is_member"),
            (~F.coalesce("is_member", F.lit(False)) | F.col("bloom_pass")).alias(
                "no_false_negative"
            ),
        )
    )


# --------------------------------------------------------------------------
# 9. weighted exact median (running-weight rank)
# --------------------------------------------------------------------------


@query(
    "agg_weighted_median",
    oracle="""
WITH r AS (
  SELECT l_returnflag, l_extendedprice AS v,
         CAST(round(l_quantity) AS BIGINT) AS wt,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cumw,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) OVER (
           PARTITION BY l_returnflag
         ) AS BIGINT) AS totw
  FROM lineitem
)
SELECT l_returnflag,
       CAST(max(totw) AS BIGINT) AS total_weight,
       min(CASE WHEN 2 * cumw >= totw THEN v END) AS weighted_median
FROM r GROUP BY l_returnflag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted exact median (lower): the price at which half the total
    QUANTITY sits at or below — the volume-weighted center a plain median
    misstates when line sizes vary. Same scalable discipline as
    agg_percentile_exact_rank: a running integer weight sum over the
    partition sort crosses totw/2 at exactly one value, picked by
    min(CASE) — values stream through the sort, never into one buffer,
    and every comparison is integer (2·cumw ≥ totw avoids division).

    Scale shape: one partition-keyed sort + two frame sums sharing it."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.round("l_quantity", 0).cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    wo = (
        Window.partitionBy("l_returnflag")
        .orderBy("v", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wp = Window.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag",
        "v",
        F.sum("wt").over(wo).alias("cumw"),
        F.sum("wt").over(wp).alias("totw"),
    )
    return r.groupBy("l_returnflag").agg(
        F.max("totw").cast("long").alias("total_weight"),
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("v"))).alias(
            "weighted_median"
        ),
    )


# --------------------------------------------------------------------------
# 10. concentration / diversity metrics
# --------------------------------------------------------------------------


@query(
    "agg_gini_concentration",
    oracle="""
WITH v AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS x2,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY round(value * 100), event_id) AS i,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       round(CAST(2 * sum(i * x2) - (max(n) + 1) * sum(x2) AS DOUBLE)
             / (max(n) * sum(x2)), 6) AS gini
FROM v GROUP BY event_type
""",
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the value distribution per event type — the
    concentration metric behind "do a few whales carry this segment"
    analyses (and, on token counts, corpus-imbalance checks). Computed
    from the rank formula G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over the
    partition sort, with values on the integer 1e-2 grid so every term is
    a BIGINT — tie blocks contribute x·Σi regardless of tie order, so
    row_number's nondeterminism among equal values cancels out exactly.

    Scale shape: one partition sort (same shuffle as any window) + one
    integer agg; no group ever materializes in one buffer."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("x2"),
    )
    wo = Window.partitionBy("event_type").orderBy("x2", "event_id")
    wp = Window.partitionBy("event_type")
    v = ev.select(
        "event_type",
        "x2",
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    n = F.max("n")
    gini = (
        (2 * F.sum(F.col("i") * F.col("x2")) - (n + 1) * F.sum("x2"))
        .cast("double")
        / (n * F.sum("x2"))
    )
    return v.groupBy("event_type").agg(
        n.cast("long").alias("n"), F.round(gini, 6).alias("gini")
    )


@query(
    "agg_entropy_diversity",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
),
t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY user_id),
q AS (
  SELECT c.user_id,
         CAST(round(-(CAST(c.n AS DOUBLE) / t.tot)
                    * ln(CAST(c.n AS DOUBLE) / t.tot) * 1000000) AS BIGINT)
           AS h_micro
  FROM c JOIN t USING (user_id)
)
SELECT user_id, CAST(sum(h_micro) AS BIGINT) AS entropy_micro
FROM q GROUP BY user_id
""",
)
def agg_entropy_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral-
    diversity feature (0 = single-minded, ln 5 ≈ 1.609 = uniform over the
    five types). Each −p·ln p term quantizes ONCE to integer micro-nats
    (p is an exact rational n/tot, so the double inputs are identical on
    both engines), then per-user sums are exact BIGINTs — the perplexity-
    filter discipline applied to a distributional metric.

    Scale shape: two keyed aggs ((user, type) then user) + one broadcast-
    sized join of per-user totals; everything map-side combined."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").cast("long").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    q = c.join(t, "user_id").select(
        "user_id",
        F.round(-p * F.log(p) * 1000000, 0).cast("long").alias("h_micro"),
    )
    return q.groupBy("user_id").agg(
        F.sum("h_micro").cast("long").alias("entropy_micro")
    )


# --------------------------------------------------------------------------
# 11. Zipf-law fit of the vocabulary
# --------------------------------------------------------------------------

ZIPF_TOP = 200


@query(
    "text_zipf_fit",
    oracle=f"""
WITH cnt AS (
  SELECT term, count(*) AS n FROM (
    SELECT unnest(string_split(text, ' ')) AS term FROM documents
  ) GROUP BY term
),
rk AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, term) AS r FROM cnt
  QUALIFY r <= {ZIPF_TOP}
),
q AS (
  SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS y
  FROM rk
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM q
)
SELECT k AS n_terms,
       round(CAST(k * sxy - sx * sy AS DOUBLE)
             / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
       round(CAST(k * sxy - sx * sy AS DOUBLE)
             * CAST(k * sxy - sx * sy AS DOUBLE)
             / (CAST(k * sxx - sx * sx AS DOUBLE)
                * CAST(k * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM m
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: regress ln(frequency) on
    ln(rank) over the top-{ZIPF_TOP} terms — natural language sits near
    slope −1, and a corpus that drifts far from it (too flat: templated
    boilerplate; too steep: degenerate repetition) fails the distributional
    sanity check curation pipelines run before training. Logs quantize
    ONCE to integer micro-nats, so the regression co-moments are exact
    BIGINTs and the closed forms divide identical doubles on both engines
    (the agg_linear_regression discipline on log-log axes).

    Scale shape: one vocab agg → TakeOrdered {ZIPF_TOP} → constant-size
    co-moment fold; the vocabulary agg is the only corpus-sized stage."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    cnt = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rk = (
        cnt.select(
            "n",
            F.row_number()
            .over(Window.orderBy(F.desc("n"), F.asc("term")))
            .alias("r"),
        )
        .filter(F.col("r") <= ZIPF_TOP)
    )
    q = rk.select(
        F.round(F.log(F.col("r").cast("double")) * 1000000, 0)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("n").cast("double")) * 1000000, 0)
        .cast("long")
        .alias("y"),
    )
    m = q.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    num = (k * sxy - sx * sy).cast("double")
    return m.select(
        k.alias("n_terms"),
        F.round(num / (k * sxx - sx * sx).cast("double"), 6).alias("zipf_slope"),
        F.round(
            num * num
            / ((k * sxx - sx * sx).cast("double") * (k * syy - sy * sy).cast("double")),
            6,
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# 12. winsorized mean (robust location estimate)
# --------------------------------------------------------------------------

WINS_LO, WINS_HI = 0.05, 0.95


@query(
    "agg_winsorized_mean",
    oracle=f"""
WITH r AS (
  SELECT event_type, round(value, 2) AS v2,
         row_number() OVER (PARTITION BY event_type ORDER BY round(value, 2))
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
fences AS (
  SELECT event_type,
         max(CASE WHEN rn = CAST(ceil({WINS_LO} * n) AS BIGINT) THEN v2 END)
           AS lo,
         max(CASE WHEN rn = CAST(ceil({WINS_HI} * n) AS BIGINT) THEN v2 END)
           AS hi
  FROM r GROUP BY event_type
)
SELECT r.event_type, CAST(max(r.n) AS BIGINT) AS n,
       max(f.lo) AS p05, max(f.hi) AS p95,
       round(CAST(sum(CAST(least(greatest(r.v2, f.lo), f.hi)
                           AS DECIMAL(18,6))) AS DOUBLE) / max(r.n), 6)
         AS winsorized_mean
FROM r JOIN fences f USING (event_type)
GROUP BY r.event_type
""",
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group: clamp every value into the exact
    [p05, p95] order-statistic fence, then average — the robust location
    estimate that keeps sample size (unlike trimming) while bounding
    outlier leverage. Fences come from the rank method (no group buffer);
    the clamped average folds on the DECIMAL grid so combine order can't
    move it.

    Scale shape: one partition sort for the fences + a broadcast of the
    5-row fence table back over the scan + one decimal agg."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.round("value", 2).alias("v2")
    )
    wo = Window.partitionBy("event_type").orderBy("v2")
    wp = Window.partitionBy("event_type")
    r = ev.select(
        "event_type", "v2",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    fences = r.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(WINS_LO) * F.col("n")).cast("long"),
                   F.col("v2"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(WINS_HI) * F.col("n")).cast("long"),
                   F.col("v2"))
        ).alias("hi"),
    )
    j = r.join(F.broadcast(fences), "event_type")
    clamped = F.least(F.greatest(F.col("v2"), F.col("lo")), F.col("hi"))
    return j.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("lo").alias("p05"),
        F.max("hi").alias("p95"),
        F.round(
            F.sum(clamped.cast("decimal(18,6)")).cast("double") / F.max("n"), 6
        ).alias("winsorized_mean"),
    )


# --------------------------------------------------------------------------
# 13. Wilson confidence interval for conversion rates
# --------------------------------------------------------------------------

WILSON_Z2 = 3.8416  # z² for 95% (z = 1.96), an exact decimal literal


@query(
    "agg_conversion_wilson",
    oracle=f"""
WITH c AS (
  SELECT user_id,
         CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS views,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS buys
  FROM events GROUP BY user_id
),
g AS (
  SELECT CAST(sum(views) + sum(buys) AS BIGINT) AS n,
         CAST(sum(buys) AS BIGINT) AS k,
         user_id % 5 AS cohort
  FROM c GROUP BY user_id % 5
)
SELECT cohort, n, k,
       round(CAST(k AS DOUBLE) / n, 6) AS rate,
       round((k + {WILSON_Z2} / 2) / (n + {WILSON_Z2})
             - sqrt({WILSON_Z2}) * sqrt((CAST(k AS DOUBLE) * (n - k)) / n
                                        + {WILSON_Z2} / 4) / (n + {WILSON_Z2}),
             6) AS wilson_lo,
       round((k + {WILSON_Z2} / 2) / (n + {WILSON_Z2})
             + sqrt({WILSON_Z2}) * sqrt((CAST(k AS DOUBLE) * (n - k)) / n
                                        + {WILSON_Z2} / 4) / (n + {WILSON_Z2}),
             6) AS wilson_hi
FROM g
""",
)
def agg_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% confidence interval for per-cohort conversion rates
    (purchases per view-or-purchase interaction, so k ≤ n structurally) — the interval that behaves at small n and
    extreme rates where the normal approximation fails; what an
    experimentation readout actually reports next to the point estimate.
    All inputs are exact integers (n, k) and z² is an exact decimal
    literal, so both engines evaluate the identical closed form on
    identical doubles — no accumulation-order surface at all.

    Scale shape: two keyed aggs (user, then cohort); O(cohorts) output."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("views"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("buys"),
    )
    g = c.groupBy((F.col("user_id") % 5).alias("cohort")).agg(
        (F.sum("views") + F.sum("buys")).cast("long").alias("n"),
        F.sum("buys").cast("long").alias("k"),
    )
    n, k = F.col("n"), F.col("k")
    z2 = F.lit(WILSON_Z2)
    center = (k + z2 / 2) / (n + z2)
    half = (
        F.sqrt(z2)
        * F.sqrt(k.cast("double") * (n - k) / n + z2 / 4)
        / (n + z2)
    )
    return g.select(
        "cohort", "n", "k",
        F.round(k.cast("double") / n, 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


# --------------------------------------------------------------------------
# 14. cohort LTV curves
# --------------------------------------------------------------------------


@query(
    "agg_cohort_ltv",
    oracle="""
WITH first_seen AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week FROM events
  GROUP BY user_id
),
rev AS (
  SELECT f.cohort_week,
         CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts))
              AS INT) AS week_offset,
         CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS wk_rev
  FROM events e JOIN first_seen f USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT epoch_us(CAST(cohort_week AS TIMESTAMP)) AS cohort_us, week_offset,
       CAST(round(wk_rev, 2) AS DOUBLE) AS week_revenue,
       CAST(round(sum(wk_rev) OVER (
         PARTITION BY cohort_week ORDER BY week_offset
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS cumulative_ltv
FROM rev
""",
)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: purchase revenue per (first-seen week, weeks
    since), plus the running cumulative — the lifetime-value readout next
    to cohort_retention's user counts. Revenue folds on the DECIMAL grid
    end-to-end (weekly sums AND the cumulative window), so the running
    totals are combine-order-exact; the window runs over the tiny
    cohort×offset matrix, never the event stream.

    Scale shape: first-seen agg + one broadcast-shaped join + one keyed
    agg; the cumulative window sorts O(cohorts × offsets) rows."""
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.floor(
                    F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                    / 7
                )
            ).cast("int").alias("week_offset"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("wk_rev"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return rev.select(
        F.unix_micros("cohort_week").alias("cohort_us"),
        "week_offset",
        F.round("wk_rev", 2).cast("double").alias("week_revenue"),
        F.round(F.sum("wk_rev").over(w), 2).cast("double").alias("cumulative_ltv"),
    )


# --------------------------------------------------------------------------
# 15. Benford first-digit audit
# --------------------------------------------------------------------------

# log10(1 + 1/d), d = 1..9, as exact decimal literals (shared by both sides)
BENFORD_P = [
    "0.301030", "0.176091", "0.124939", "0.096910", "0.079181",
    "0.066947", "0.057992", "0.051153", "0.045757",
]


@query(
    "agg_benford_deviation",
    oracle=f"""
WITH digits AS (
  SELECT CAST(substr(regexp_replace(CAST(round(value * 100) AS BIGINT)
                     || '', '^0+', ''), 1, 1) AS INT) AS d
  FROM events WHERE round(value * 100) >= 1
),
obs AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
exp_ AS (
  SELECT CAST(unnest(range(1, 10)) AS INT) AS d,
         CAST(unnest([{", ".join(BENFORD_P)}]) AS DOUBLE) AS p
)
SELECT e.d, coalesce(o.n, 0) AS n,
       round(CAST(coalesce(o.n, 0) AS DOUBLE) / (SELECT total FROM tot), 6)
         AS observed_p,
       e.p AS benford_p,
       round(CAST(coalesce(o.n, 0) AS DOUBLE) / (SELECT total FROM tot) - e.p,
             6) AS deviation
FROM exp_ e LEFT JOIN obs o ON o.d = e.d
""",
)
def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit: the distribution of leading
    digits of transaction values against Benford's law — the forensic
    data-quality screen (fabricated or truncated numeric columns drift
    from it; organically-generated multi-scale amounts follow it).
    Values snap to integer cents first, so the leading digit comes from
    exact integer string math; the Benford expectations are exact decimal
    literals shared by both sides, and observed shares divide exact
    integers.

    Scale shape: a narrow per-row digit extraction + one 9-group agg +
    a 9-row expectations join."""
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    digits = (
        ev.select(cents.alias("c"))
        .filter(F.col("c") >= 1)
        .select(
            F.substring(
                F.regexp_replace(F.col("c").cast("string"), "^0+", ""), 1, 1
            )
            .cast("int")
            .alias("d")
        )
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("total"))
    exp_rows = [(i + 1, float(p)) for i, p in enumerate(BENFORD_P)]
    exp_df = spark.createDataFrame(exp_rows, "d int, p double")
    j = exp_df.join(obs, "d", "left").crossJoin(F.broadcast(tot))
    op = F.coalesce("n", F.lit(0)).cast("double") / F.col("total")
    return j.select(
        "d",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.round(op, 6).alias("observed_p"),
        F.col("p").alias("benford_p"),
        F.round(op - F.col("p"), 6).alias("deviation"),
    )


# --------------------------------------------------------------------------
# 16. class-balanced downsampling
# --------------------------------------------------------------------------


@query(
    "sample_class_balanced",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
         ) AS rk
  FROM events
),
m AS (
  SELECT CAST(min(c) AS BIGINT) AS m FROM (
    SELECT count(*) AS c FROM events GROUP BY event_type
  )
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(round(sum(CAST(round(value, 2) AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS kept_value_sum
FROM ranked WHERE rk <= (SELECT m FROM m)
GROUP BY event_type
""",
)
def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every event type keeps exactly
    min-class-count rows, chosen by deterministic hash rank (md5 order —
    reproducible across runs/retries, unlike rand()-based sampling) — the
    majority-class downsample in front of any classifier-style training
    job. The kept-value sum pins WHICH rows survived, not just how many.

    Scale shape: one per-type rank window + a 1-row broadcast of the
    minority count; linear."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    ranked = ev.select(
        "event_type",
        F.round("value", 2).alias("v2"),
        F.row_number().over(w).alias("rk"),
    )
    m = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").cast("long").alias("m"))
    )
    return (
        ranked.crossJoin(F.broadcast(m))
        .filter(F.col("rk") <= F.col("m"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.round(F.sum(F.col("v2").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("kept_value_sum"),
        )
    )


# --------------------------------------------------------------------------
# 17. time-to-convert distribution
# --------------------------------------------------------------------------


@query(
    "funnel_time_to_convert",
    oracle="""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
v AS (SELECT * FROM events WHERE event_type = 'view'),
conv AS (
  SELECT e.user_id % 5 AS cohort,
         (epoch_us(e.ts) - epoch_us(s.ts)) // 1000000 AS secs
  FROM p e ASOF JOIN v s ON e.user_id = s.user_id AND e.ts >= s.ts
),
r AS (
  SELECT cohort, secs,
         row_number() OVER (PARTITION BY cohort ORDER BY secs) AS rn,
         count(*) OVER (PARTITION BY cohort) AS n
  FROM conv
)
SELECT cohort, CAST(max(n) AS BIGINT) AS n_conversions,
       CAST(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN secs END)
            AS BIGINT) AS median_secs,
       CAST(max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN secs END)
            AS BIGINT) AS p90_secs
FROM r GROUP BY cohort
""",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for each purchase, the seconds since
    the SAME user's most recent prior view (backward as-of), summarized
    per cohort as exact median and p90 latencies — the "how long does the
    funnel take" readout next to funnel_conversion's counts. Composes two
    proven disciplines: the union-tag as-of carry and the rank-window
    exact quantiles (purchases with no prior view drop out, matching the
    inner ASOF oracle). Integer second gaps end-to-end.

    Scale shape: one user-keyed as-of window + one cohort-keyed rank
    sort; O(cohorts) output."""
    ev = load(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("is_left"), F.col("ts").alias("v_ts")
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.lit(0).alias("is_left"), F.col("ts").alias("v_ts")
    )
    merged = left.unionByName(right)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_left")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = F.last(
        F.when(F.col("is_left") == 0, F.col("v_ts")), ignorenulls=True
    ).over(w)
    conv = (
        merged.withColumn("prior_view", carried)
        .filter((F.col("is_left") == 1) & F.col("prior_view").isNotNull())
        .select(
            (F.col("user_id") % 5).alias("cohort"),
            F.expr(
                "(unix_micros(ts) - unix_micros(prior_view)) div 1000000"
            ).alias("secs"),
        )
    )
    wo = Window.partitionBy("cohort").orderBy("secs")
    wp = Window.partitionBy("cohort")
    r = conv.select(
        "cohort", "secs",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )

    def pick(p: float, name: str):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("long"),
                F.col("secs"),
            )
        ).cast("long").alias(name)

    return r.groupBy("cohort").agg(
        F.max("n").cast("long").alias("n_conversions"),
        pick(0.5, "median_secs"),
        pick(0.9, "p90_secs"),
    )


# --------------------------------------------------------------------------
# 18. audience overlap between event types
# --------------------------------------------------------------------------


@query(
    "agg_audience_overlap",
    oracle="""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, count(*) AS n FROM du GROUP BY event_type),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT i.type_a, i.type_b, i.n_both,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       round(CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both), 6)
         AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
""",
)
def agg_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix: for every event-type pair, the users doing
    BOTH and the Jaccard of the two audiences — the segmentation readout
    behind "do clickers also purchase" questions (and the user-space twin
    of graph_jaccard_link_pred's neighborhood version). The self-join runs
    on DISTINCT (type, user) rows keyed by user, so each user contributes
    at most |types|² pairs — bounded fan-out, never event×event.

    Scale shape: one distinct agg + a user-keyed self-join with tiny
    per-key fan-out + two broadcast-sized size joins; O(types²) output."""
    ev = load(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    sizes = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b", "n_both",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# 19. population stability index (tabular drift)
# --------------------------------------------------------------------------


@query(
    "agg_psi_drift",
    oracle="""
WITH b AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS snap,
         CASE WHEN round(value, 2) < 0 THEN 0
              WHEN round(value, 2) >= 200 THEN 21
              ELSE CAST(floor(round(value, 2) / 10.0) AS INT) + 1 END AS bin
  FROM events
),
c AS (SELECT snap, bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY snap, bin),
t AS (SELECT snap, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY snap),
p AS (
  SELECT c.bin,
         max(CASE WHEN c.snap = 'ref'
             THEN CAST(c.n AS DOUBLE) / t.tot END) AS pa,
         max(CASE WHEN c.snap = 'cur'
             THEN CAST(c.n AS DOUBLE) / t.tot END) AS pb
  FROM c JOIN t USING (snap) GROUP BY c.bin
),
q AS (
  SELECT bin,
         CAST(round((coalesce(pa, 0.0001) - coalesce(pb, 0.0001))
                    * ln(coalesce(pa, 0.0001) / coalesce(pb, 0.0001))
                    * 1000000) AS BIGINT) AS psi_micro
  FROM p
)
SELECT CAST(sum(psi_micro) AS BIGINT) AS psi_total_micro,
       CAST(count(*) AS BIGINT) AS n_bins
FROM q
""",
)
def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between two snapshots of the value
    distribution (even/odd event ids standing in for week-N vs week-N+1),
    over the same fixed bins as agg_value_histogram: PSI = Σ (pₐ−p_b)·
    ln(pₐ/p_b) — the tabular-feature drift monitor next to
    vec_centroid_drift's embedding version (PSI > 0.2 conventionally
    triggers retraining). Each bin's term quantizes ONCE to integer
    micro-nats (shares are exact rationals, so both engines see identical
    doubles), making the total an exact BIGINT; empty bins floor at the
    standard 1e-4 smoothing.

    Scale shape: one narrow binning pass + two tiny aggs + a 22-row
    join; O(1) output."""
    ev = load(spark, sf_dir, "events")
    v2 = F.round("value", 2)
    bin_ = (
        F.when(v2 < 0, 0)
        .when(v2 >= 200, 21)
        .otherwise(F.floor(v2 / 10.0).cast("int") + 1)
    )
    b = ev.select(
        F.when(F.col("event_id") % 2 == 0, "ref").otherwise("cur").alias("snap"),
        bin_.alias("bin"),
    )
    c = b.groupBy("snap", "bin").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.groupBy("snap").agg(F.sum("n").cast("long").alias("tot"))
    p = (
        c.join(t, "snap")
        .groupBy("bin")
        .agg(
            F.max(
                F.when(F.col("snap") == "ref", F.col("n").cast("double") / F.col("tot"))
            ).alias("pa"),
            F.max(
                F.when(F.col("snap") == "cur", F.col("n").cast("double") / F.col("tot"))
            ).alias("pb"),
        )
    )
    pa = F.coalesce("pa", F.lit(0.0001))
    pb = F.coalesce("pb", F.lit(0.0001))
    q = p.select(
        F.round((pa - pb) * F.log(pa / pb) * 1000000, 0)
        .cast("long")
        .alias("psi_micro")
    )
    return q.agg(
        F.sum("psi_micro").cast("long").alias("psi_total_micro"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
