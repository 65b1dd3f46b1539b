"""Final TPC-H breadth batch — the remaining 10 of the 22 query shapes
(Q2, Q9, Q11, Q12, Q15, Q16, Q17, Q19, Q20, Q21), adapted to the synthetic
schema: there is no partsupp table, so part-supplier economics derive from
lineitem (the (l_partkey, l_suppkey) pairs ARE the catalog); no
l_shipmode/l_commitdate/l_receiptdate, so lateness derives from
l_shipdate vs o_orderdate; no p_container, so p_size stands in.

What each preserves (the plan shape is the point):
- Q2   correlated scalar MIN subquery → group-and-join-back decorrelation
- Q9   multi-dim star join with a computed profit expression
- Q11  scalar global-total subquery as a broadcast cross join
- Q12  conditional classification counts (CASE inside SUM)
- Q15  scalar MAX subquery over an aggregated view
- Q16  NOT IN → anti join + count distinct
- Q17  per-key AVG correlated subquery → join back + threshold filter
- Q19  disjunctive multi-column predicate pushed into one join
- Q20  nested IN chains → aggregate-then-semi-join
- Q21  EXISTS + NOT EXISTS self-joins (semi + anti on the same fact)

Money sums fold DECIMAL(18,6)-quantized addends (functions.numeric) so every
rounded value and threshold comparison is combine-order-independent; integer
counts are CAST to BIGINT in the oracles (DuckDB sum(int) is HUGEINT — the
round-1/2 digest-flake class, guarded by tests/test_catalog_audit.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import ravg, ravg_sql, rsum, rsum_sql
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import query


@query(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
WITH cost AS (
  SELECT l_partkey, l_suppkey, {ravg_sql("l_extendedprice")} AS cost
  FROM lineitem GROUP BY 1, 2
),
mc AS (SELECT l_partkey, min(cost) AS min_cost FROM cost GROUP BY 1)
SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, c.cost
FROM cost c
JOIN mc ON c.l_partkey = mc.l_partkey AND c.cost = mc.min_cost
JOIN part p ON p.p_partkey = c.l_partkey
JOIN supplier s ON s.s_suppkey = c.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_size BETWEEN 10 AND 15
""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: cheapest supplier per part. The correlated MIN subquery is
    decorrelated as aggregate → join-back on (key, min) — ties keep all
    minimal suppliers, like the SQL. The min compares ROUNDED decimal
    averages, so equality is bit-stable on both engines."""
    li = load(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        ravg("l_extendedprice").alias("cost")
    )
    mc = cost.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    p = load(spark, sf_dir, "part").filter(F.col("p_size").between(10, 15))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        cost.join(mc, ["l_partkey"])
        .filter(F.col("cost") == F.col("min_cost"))
        .join(p, cost.l_partkey == p.p_partkey)
        .join(F.broadcast(s), cost.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("p_partkey", "p_name", "s_name", "n_name", "cost")
    )


@query(
    "tpch_q9_profit",
    oracle=f"""
SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS INT) AS o_year,
       {rsum_sql("l.l_extendedprice * (1 - l.l_discount) - 0.1 * p.p_retailprice * l.l_quantity")} AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY 1, 2
""",
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: product-line profit by supplier nation and year. supplycost
    has no table here, so it derives from p_retailprice (10%) — the star
    join + computed-measure aggregate is unchanged. part/supplier/nation
    broadcast; lineitem is the only big side."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(rsum(profit).alias("profit"))
    )


@query(
    "tpch_q11_important_parts",
    oracle=f"""
WITH v AS (
  SELECT l_partkey, {rsum_sql("l_extendedprice * l_quantity")} AS value
  FROM lineitem GROUP BY 1
),
t AS (SELECT CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total FROM v)
SELECT v.l_partkey AS p_partkey, v.value
FROM v, t
WHERE v.value > t.total * 0.0002
""",
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: parts whose inventory value exceeds a fraction of the
    GLOBAL total — the scalar subquery is a 1-row broadcast cross join, so
    the threshold never round-trips to the driver. Both the per-part values
    and their grand total fold decimals, so the > comparison sees identical
    doubles on both engines."""
    li = load(spark, sf_dir, "lineitem")
    v = li.groupBy("l_partkey").agg(
        rsum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value")
    )
    t = v.agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total")
    )
    return (
        v.crossJoin(F.broadcast(t))
        .filter(F.col("value") > F.col("total") * 0.0002)
        .select(F.col("l_partkey").alias("p_partkey"), "value")
    )


@query(
    "tpch_q12_ship_latency",
    oracle="""
SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 60
            THEN 'SLOW' ELSE 'FAST' END AS ship_class,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
""",
)
def tpch_q12_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: classify lines by shipping latency (no l_shipmode column —
    the class derives from shipdate-orderdate), count high/low priority
    orders per class via conditional sums in ONE aggregate pass."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .withColumn(
            "ship_class",
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60, "SLOW"
            ).otherwise("FAST"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey, {rsum_sql("l_extendedprice * (1 - l_discount)")} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: the revenue view + scalar MAX subquery. The max is a 1-row
    broadcast; equality compares rounded decimal sums (exact on both
    engines), keeping ties like the SQL."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        rsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q16_supplier_counts",
    oracle="""
SELECT p.p_brand, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 5, 9, 13, 17)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
""",
)
def tpch_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct supplier counts per part attribute group, with the
    NOT IN complaint-supplier exclusion as a broadcast anti join (negative
    account balance stands in for the comment filter)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13, 17)
    )
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q17_small_quantity",
    oracle=f"""
WITH pa AS (
  SELECT l_partkey, {ravg_sql("l_quantity")} AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT {rsum_sql("l.l_extendedprice")} AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#13'
JOIN pa ON pa.l_partkey = l.l_partkey
WHERE l.l_quantity < 0.2 * pa.avg_qty
""",
)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: small-quantity lines vs the per-part average — the
    correlated AVG subquery decorrelates into an aggregate joined back to
    the fact; the threshold multiplies a rounded decimal average, so the <
    comparison is engine-stable."""
    li = load(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        ravg("l_quantity").alias("avg_qty")
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == pa.pa_key)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            rsum("l_extendedprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q19_disjunctive",
    oracle=f"""
SELECT {rsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 20 AND l.l_quantity <= 30)
""",
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: three disjunctive brand/size/quantity blocks evaluated in
    one pass over a single broadcast join — the optimizer pushes the common
    join key and leaves the OR as a residual; no union of three scans."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q = F.col("l_quantity")
    blocks = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(blocks)
        .agg(
            rsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "tpch_q20_excess_shipments",
    oracle=f"""
WITH sh AS (
  SELECT l_partkey, l_suppkey, {rsum_sql("l_quantity")} AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
)
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (
  SELECT sh.l_suppkey FROM sh
  JOIN part p ON p.p_partkey = sh.l_partkey
  WHERE p.p_name LIKE '%blue%' AND sh.qty > 60
)
""",
)
def tpch_q20_excess_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers who moved excess volume of a part family — the
    nested IN chain becomes aggregate → filter → left-semi join; the
    aggregate shrinks the fact before any join touches the supplier dim."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    sh = li.groupBy("l_partkey", "l_suppkey").agg(rsum("l_quantity").alias("qty"))
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    excess = (
        sh.join(F.broadcast(p), sh.l_partkey == p.p_partkey)
        .filter(F.col("qty") > 60)
        .select("l_suppkey")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(excess, s.s_suppkey == excess.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


@query(
    "tpch_q21_waiting_orders",
    oracle="""
WITH late AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
)
SELECT s.s_name, CAST(count(DISTINCT b.l_orderkey) AS BIGINT) AS numwait
FROM late b
JOIN supplier s ON s.s_suppkey = b.l_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = b.l_orderkey AND l2.l_suppkey <> b.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late b2
    WHERE b2.l_orderkey = b.l_orderkey AND b2.l_suppkey <> b.l_suppkey
  )
GROUP BY 1
""",
)
def tpch_q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who alone held up a multi-supplier order —
    EXISTS (another supplier on the order) as a left-semi self-join and
    NOT EXISTS (another LATE supplier) as a left-anti self-join, both with
    non-equi residuals. Lateness = shipped >90 days after ordering (no
    receipt/commit dates in this schema); 'F' = finished orders."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = li.select(
        F.col("l_orderkey").alias("o2_key"), F.col("l_suppkey").alias("o2_supp")
    )
    late2 = late.select(
        F.col("l_orderkey").alias("b2_key"), F.col("l_suppkey").alias("b2_supp")
    )
    s = load(spark, sf_dir, "supplier")
    waiting = (
        late.join(
            other,
            (late.l_orderkey == other.o2_key) & (late.l_suppkey != other.o2_supp),
            "left_semi",
        )
        .join(
            late2,
            (F.col("l_orderkey") == late2.b2_key)
            & (F.col("l_suppkey") != late2.b2_supp),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
    )
