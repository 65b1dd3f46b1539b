"""Behavioral-analytics batch 6: association rules, RFM segmentation,
hysteresis alerting.

- ``market_basket_lift`` — frequent item-pair association rules over order
  baskets (support / confidence / lift), the classic co-purchase miner.
- ``rfm_segments`` — recency/frequency/monetary quartile scoring of the
  customer base, the standard lifecycle segmentation.
- ``window_hysteresis_episodes`` — two-threshold (Schmitt-trigger) alert
  episodes per user: an episode opens when value ≥ HI and stays open until
  value ≤ LO — the debounced alerting pattern monitoring systems use so a
  metric hovering at one threshold cannot flap.

Reference parity: the reference gates records on single thresholds
(filter.py) and tracks per-key state across runs (transcribe_council.py's
seen-set); these are the multi-threshold and stateful-episode forms of
those judgments, as distributed window algebra.

Scale shape notes inline per query; nothing is all-pairs — the basket
self-join is quadratic only inside one order's basket (bounded basket
size), and the hysteresis state is a per-user IGNORE NULLS carry-forward,
one window sort per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.operators.quantiles import (
    ntile_from_rank,
    ranged_rank_cumsum,
    with_global_rank,
)
from nocouncil_etl_spark.registry import query

MIN_PAIR_SUPPORT = 3  # absolute co-occurrence count floor
TOP_RULES = 50
HI, LO = 200.0, 20.0  # hysteresis enter/exit thresholds on events.value (HI ≈ p99 at every sf)


# --------------------------------------------------------------------------
# 1. market-basket association rules
# --------------------------------------------------------------------------


@query(
    "market_basket_lift",
    oracle=f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM basket),
item AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS item_cnt FROM basket GROUP BY 1
),
pair AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS pair_cnt
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_PAIR_SUPPORT}
)
SELECT part_a, part_b, pair_cnt, ia.item_cnt AS cnt_a, ib.item_cnt AS cnt_b,
       round(CAST(pair_cnt AS DOUBLE) / (SELECT n FROM n_orders), 6) AS support,
       round(CAST(pair_cnt AS DOUBLE) / ia.item_cnt, 6) AS confidence,
       round(CAST(pair_cnt AS DOUBLE) * (SELECT n FROM n_orders)
             / (CAST(ia.item_cnt AS DOUBLE) * ib.item_cnt), 6) AS lift
FROM pair
JOIN item ia ON ia.l_partkey = part_a
JOIN item ib ON ib.l_partkey = part_b
ORDER BY lift DESC, pair_cnt DESC, part_a, part_b
LIMIT {TOP_RULES}
""",
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: support/confidence/lift for
    co-purchased part pairs, top-{TOP_RULES} by lift with a full
    deterministic tie-break. The candidate stage is a self-equi-join on
    l_orderkey with part_a < part_b — quadratic ONLY inside one basket
    (TPC-H baskets are ≤7 items; real carts are bounded the same way), so
    the pair volume is Σ C(|basket|,2), linear in orders at any corpus
    size. Counts stay BIGINT; the three ratios are single double divisions.

    Scale shape (r11 opt, guide §2.3/§2.4): ONE shuffle of the (order,
    part) pairs into per-order sorted item arrays (collect_set is
    map-side combinable; basket arrays are ≤|basket| ints), pinned once;
    the a<b pair candidates are then generated ROW-LOCALLY from each
    sorted array — the old shape shuffled the distinct pair list twice
    more (both sides of a self-join) to meet rows that live in the same
    basket. Item counts and the order count read the same pinned frame.
    Pair hash-agg with map-side combine, broadcast-sized item-count
    joins, TakeOrdered — unchanged. Reference parity: keyword
    co-occurrence relevance (filter.py) lifted to the transactional
    setting."""
    li = load(spark, sf_dir, "lineitem")
    rules = association_rules(
        li, "l_orderkey", "l_partkey", MIN_PAIR_SUPPORT, TOP_RULES
    )
    return rules.withColumnsRenamed({"item_a": "part_a", "item_b": "part_b"})


def association_rules(
    df: DataFrame, basket_col: str, item_col: str, min_support: int, top: int
) -> DataFrame:
    """The association-rule kernel over (basket, item) rows → the top
    ``top`` (item_a, item_b, pair_cnt, cnt_a, cnt_b, support, confidence,
    lift) by (lift desc, pair_cnt desc, item_a, item_b), pairs with
    pair_cnt ≥ ``min_support``. Shape: market_basket_lift's docstring."""
    basket = (
        df.groupBy(basket_col)
        .agg(F.array_sort(F.collect_set(item_col)).alias("items"))
        .localCheckpoint(eager=True)
    )
    n_baskets = basket.count()
    item = basket.select(F.explode("items").alias("_it")).groupBy("_it").agg(
        F.count("*").cast("long").alias("cnt")
    )
    # all a<b pairs of the sorted basket, generated in-row: for item i,
    # pair it with every later item j>i — identical candidate multiset to
    # the basket self-join with item_a < item_b.
    # Bound assumption (r11 advice): this materializes ~C(|basket|,2)
    # structs in ONE row, so the rewrite requires bounded baskets — TPC-H
    # orders carry ≤7 lineitems and real carts are bounded the same way
    # (≤21 pair structs/row; HOF interpretation cost negligible, benched
    # −0.37 s vs the self-join). A corpus with unbounded hot baskets must
    # cap/chunk the per-basket item array first (the rec_item_cosine cap
    # pattern, breadth30.item_cosine_topk) before reusing this shape.
    pair_structs = F.flatten(
        F.transform(
            "items",
            lambda x, i: F.transform(
                F.slice(
                    "items", i + F.lit(2), F.size("items") - i - F.lit(1)
                ),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    pair = (
        basket.select(F.explode(pair_structs).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= min_support)
    )
    ia = item.select(F.col("_it").alias("item_a"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("_it").alias("item_b"), F.col("cnt").alias("cnt_b"))
    out = (
        pair.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .select(
            "item_a",
            "item_b",
            "pair_cnt",
            "cnt_a",
            "cnt_b",
            F.round(F.col("pair_cnt").cast("double") / F.lit(n_baskets), 6).alias(
                "support"
            ),
            F.round(F.col("pair_cnt").cast("double") / F.col("cnt_a"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("pair_cnt").cast("double")
                * F.lit(n_baskets)
                / (F.col("cnt_a").cast("double") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.desc("lift"), F.desc("pair_cnt"), "item_a", "item_b"
    ).limit(top)


# --------------------------------------------------------------------------
# 2. RFM segmentation
# --------------------------------------------------------------------------


@query(
    "rfm_segments",
    oracle="""
WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
cust AS (
  SELECT o_custkey,
         CAST(date_diff('day', max(o_orderdate), (SELECT mx FROM anchor)) AS BIGINT)
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY 1
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary_cents,
         ntile(4) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
         ntile(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
         ntile(4) OVER (ORDER BY monetary_cents, o_custkey) AS m_score
  FROM cust
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(monetary_cents) AS BIGINT) AS segment_cents,
       CAST(min(o_custkey) AS BIGINT) AS sample_custkey
FROM scored GROUP BY 1, 2, 3
""",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM lifecycle segmentation: per-customer recency (days since last
    order, anchored at the corpus max date so the query is deterministic),
    frequency, and monetary (exact integer cents), each quartile-scored
    with ntile(4) under a total order (metric, custkey) — ntile's
    assignment is positional, so the tie-break column is what makes the
    segment of a tied customer reproducible across engines and runs. Output
    is the 4×4×4 segment census, not per-customer rows.

    Scale shape: one orders hash-agg to per-customer rows (|customers| ≪
    |orders|), then a rank pass per metric over that reduced frame — two
    Fenwick passes (recency/frequency: histogram domains) + one ranged
    scan (monetary cents: near-unique), no global sorts — and one final
    hash-agg to ≤64 rows. The max-date anchor is a 1-row broadcast."""
    od = load(spark, sf_dir, "orders")
    anchor = od.agg(F.max("o_orderdate").alias("mx"))
    cust = od.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").cast("long").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    cust = cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff(F.col("mx"), F.col("last_order")).cast("long").alias(
            "recency_days"
        ),
        "frequency",
        "monetary_cents",
    )
    # r7: ntile without global sorts — a rank pass per metric + closed-form
    # ntile arithmetic. r9: recency/frequency are HISTOGRAM-shaped domains
    # (days, order counts) → Fenwick with_global_rank; monetary_cents is
    # NEAR-UNIQUE → the range-partitioned two-phase scan (the encoded
    # domain rule; the all-Fenwick form paid the O(levels) explode on the
    # cents domain for nothing).
    tot = cust.agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = with_global_rank(
        cust.withColumn("neg_rec", -F.col("recency_days")),
        "neg_rec",
        "o_custkey",
        "rr",
    )
    t = with_global_rank(t, "frequency", "o_custkey", "fr")
    t = ranged_rank_cumsum(t, "monetary_cents", "o_custkey", rank_col="mr")
    scored = t.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        ntile_from_rank("rr", "n", 4).alias("r_score"),
        ntile_from_rank("fr", "n", 4).alias("f_score"),
        ntile_from_rank("mr", "n", 4).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("segment_cents"),
        F.min("o_custkey").cast("long").alias("sample_custkey"),
    )


# --------------------------------------------------------------------------
# 3. hysteresis (Schmitt-trigger) alert episodes
# --------------------------------------------------------------------------


@query(
    "window_hysteresis_episodes",
    oracle=f"""
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN value >= {HI} THEN 1 WHEN value <= {LO} THEN 0 END AS trigger
  FROM events
),
state AS (
  SELECT user_id, ts, event_id, value,
         coalesce(last_value(trigger IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS active
  FROM marked
),
edges AS (
  SELECT user_id, ts, event_id, value, active,
         CASE WHEN active = 1 AND coalesce(lag(active) OVER (
           PARTITION BY user_id ORDER BY ts, event_id), 0) = 0
           THEN 1 ELSE 0 END AS opens
  FROM state
),
epi AS (
  SELECT user_id, ts, event_id, value, active,
         sum(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS episode_no
  FROM edges
)
SELECT user_id, CAST(episode_no AS BIGINT) AS episode_no,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
       CAST(epoch_us(max(ts)) AS BIGINT) AS end_us,
       round(max(value), 2) AS peak_value
FROM epi WHERE active = 1
GROUP BY user_id, episode_no
""",
)
def window_hysteresis_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold alert episodes per user: the alert state is the last
    non-null trigger (1 when value ≥ {HI}, 0 when value ≤ {LO}) carried
    forward — a Schmitt trigger, so values oscillating between the
    thresholds cannot flap the alert. Episode numbering is a running sum of
    0→1 edges (gaps-and-islands); output is one row per episode with span
    and peak. Differs from dedup_debounce (time-gap islands): membership
    here is VALUE-driven with memory, the monitoring-alert semantics.

    Scale shape: everything is per-user windows over one (user_id) shuffle
    sort — state is a carry-forward column, never a driver loop; the
    episode agg rides the same partitioning. At 100 TB user keys
    distribute; no global window exists."""
    ev = load(spark, sf_dir, "events")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("value") >= HI, 1)
        .when(F.col("value") <= LO, 0)
        .alias("trigger"),
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    state = marked.withColumn(
        "active",
        F.coalesce(F.last("trigger", ignorenulls=True).over(run), F.lit(0)),
    )
    edges = state.withColumn(
        "opens",
        F.when(
            (F.col("active") == 1)
            & (F.coalesce(F.lag("active").over(order), F.lit(0)) == 0),
            1,
        ).otherwise(0),
    )
    epi = edges.withColumn(
        "episode_no", F.sum("opens").over(run).cast("long")
    )
    return (
        epi.filter(F.col("active") == 1)
        .groupBy("user_id", "episode_no")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (F.unix_micros(F.min("ts"))).cast("long").alias("start_us"),
            (F.unix_micros(F.max("ts"))).cast("long").alias("end_us"),
            F.round(F.max("value"), 2).alias("peak_value"),
        )
    )


# --------------------------------------------------------------------------
# engagement stickiness (DAU / trailing-WAU)
# --------------------------------------------------------------------------


@query(
    "agg_stickiness_dau_wau",
    oracle="""
WITH user_days AS (
  SELECT DISTINCT user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
  FROM events
),
days AS (SELECT DISTINCT day FROM user_days),
dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM user_days GROUP BY day
),
wau AS (
  SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM days d JOIN user_days u
    ON u.day BETWEEN d.day - 6 AND d.day
  GROUP BY d.day
)
SELECT d.day AS day, a.dau, w.wau,
       round(a.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
FROM days d JOIN dau a ON a.day = d.day JOIN wau w ON w.day = d.day
""",
)
def agg_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness per day: DAU / trailing-7-day WAU (distinct
    users, both exact) — the product-analytics ratio that separates "many
    users occasionally" from "few users constantly" (1/7 ≈ everyone shows
    once a week; 1.0 = everyone active daily). The WAU window joins the
    deduped user-day table against the day spine with a BETWEEN band —
    exact distinct inside a sliding window without any approximate
    sketch.

    Scale shape: the stream collapses to DISTINCT (user, day) first (one
    hash-agg — the only data-sized stage); the banded join fans each
    user-day to ≤7 spine days before the distinct-count agg. At planetary
    scale the exact WAU distinct is the honest cost; the sketch variant
    swaps in HLL partials (sketch_hll_custom) with the same join shape."""
    ev = load(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).distinct()
    user_days.persist()
    days = user_days.select("day").distinct()
    dau = user_days.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    spine = days.select(F.col("day").alias("d_day"))
    wau = (
        spine.join(
            user_days,
            (F.col("day") >= F.col("d_day") - 6)
            & (F.col("day") <= F.col("d_day")),
        )
        .groupBy(F.col("d_day").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
    )
