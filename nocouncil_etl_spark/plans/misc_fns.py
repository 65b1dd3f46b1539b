"""Breadth batch: regexp predicates, array ops, conditional aggregates,
string-function misc — rounding out the scalar/aggregate surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import hash60, ravg, ravg_sql, rsum
from nocouncil_etl_spark.io import load
from nocouncil_etl_spark.registry import query


@query(
    "fn_rlike_filter",
    oracle="""
SELECT doc_id
FROM documents
WHERE regexp_matches(text, 'join [a-z]+ window') OR regexp_matches(text, 'stream stream')
""",
)
def fn_rlike_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp predicate filter (rlike) — pattern-gated scans."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(
        F.col("text").rlike("join [a-z]+ window") | F.col("text").rlike("stream stream")
    ).select("doc_id")


@query(
    "fn_array_ops",
    oracle="""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       CAST(coalesce(list_position(w, 'spark'), 0) AS BIGINT) AS spark_pos,
       CAST(list_contains(w, 'query') AS VARCHAR) AS has_query,
       len(list_filter(w, x -> x <> 'the')) AS n_no_the,
       array_to_string(list_sort(list_distinct(w[1:6])), ',') AS head_sorted
FROM ws
""",
)
def fn_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: position / contains / remove / distinct-sort
    (both engines return 0 for a position miss)."""
    docs = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.array_position(w, "spark").alias("spark_pos"),
        F.array_contains(w, "query").cast("string").alias("has_query"),
        F.size(F.array_remove(w, "the")).alias("n_no_the"),
        F.array_join(F.array_sort(F.array_distinct(F.slice(w, 1, 6))), ",").alias(
            "head_sorted"
        ),
    )


@query(
    "agg_conditional_filter",
    oracle=f"""
SELECT event_type,
       count(*) FILTER (WHERE value > 100) AS n_big,
       coalesce(CAST(round(sum(CAST(value AS DECIMAL(18,6)))
                             FILTER (WHERE value <= 100), 2) AS DOUBLE),
                0) AS small_total,
       {ravg_sql("CASE WHEN user_id % 2 = 0 THEN value END")} AS even_user_avg
FROM events
GROUP BY event_type
""",
)
def agg_conditional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER clause / CASE-gated aggs); sums/avgs
    on the decimal-exact kernels (functions.numeric)."""
    ev = load(spark, sf_dir, "events")
    small = F.when(F.col("value") <= 100, F.col("value"))
    even = F.when(F.col("user_id") % 2 == 0, F.col("value"))
    return ev.groupBy("event_type").agg(
        F.count(F.when(F.col("value") > 100, 1)).alias("n_big"),
        F.coalesce(rsum(small), F.lit(0.0)).alias("small_total"),
        ravg(even).alias("even_user_avg"),
    )


@query(
    "fn_string_misc",
    oracle="""
SELECT doc_id,
       reverse(substring(text, 1, 10)) AS rev10,
       CAST(strpos(text, 'query') AS BIGINT) AS query_at,
       repeat(left(lang, 1), 3) AS lang_tag,
       rpad(lang, 5, '.') AS lang_padded,
       split_part(source, 'rc', 2) AS src_num
FROM documents
""",
)
def fn_string_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth: reverse/instr/repeat/left/rpad/split_part."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.reverse(F.substring("text", 1, 10)).alias("rev10"),
        F.instr(F.col("text"), "query").cast("bigint").alias("query_at"),
        F.repeat(F.left(F.col("lang"), F.lit(1)), 3).alias("lang_tag"),
        F.rpad(F.col("lang"), 5, ".").alias("lang_padded"),
        F.split_part(F.col("source"), F.lit("rc"), F.lit(2)).alias("src_num"),
    )


@query(
    "fn_date_arithmetic",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS quarter_out,
       last_day(o_orderdate) AS month_end,
       CAST(date_diff('day', o_orderdate, DATE '2024-01-01') AS INT)
         AS days_to_2024,
       CAST(isodow(o_orderdate) AS INT) AS iso_dow,
       CAST(date_part('quarter', o_orderdate) AS INT) AS qtr
FROM orders
""",
)
def fn_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-arithmetic surface (§2.4 depth): day/month interval adds,
    month-end snap, day differences, ISO weekday, quarter — the SLA/aging
    computations of any orders pipeline. Month arithmetic is the subtle
    one (adding 3 months to Nov 30 must clamp, not overflow) and both
    engines share the clamping rule; weekday goes through the ISO
    numbering because engines disagree on locale-relative dayofweek.

    Scale shape: narrow per-row expressions, zero shuffles."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_add("o_orderdate", 30).alias("due_date"),
        F.add_months("o_orderdate", 3).alias("quarter_out"),
        F.last_day("o_orderdate").alias("month_end"),
        F.datediff(F.lit("2024-01-01").cast("date"), "o_orderdate").alias(
            "days_to_2024"
        ),
        F.expr("CAST(CASE WHEN dayofweek(o_orderdate) = 1 THEN 7 "
               "ELSE dayofweek(o_orderdate) - 1 END AS INT)").alias("iso_dow"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
    )


@query(
    "fn_table_checksum",
    oracle="""
SELECT 'documents' AS tbl, count(*) AS n_rows,
       CAST(bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text),
                     1, 15))::BIGINT) AS BIGINT) AS content_xor
FROM documents
UNION ALL
SELECT 'orders', count(*),
       CAST(bit_xor(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                     || o_orderstatus || '|' || CAST(o_custkey AS VARCHAR)),
                     1, 15))::BIGINT) AS BIGINT)
FROM orders
UNION ALL
SELECT 'events', count(*),
       CAST(bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|'
                     || event_type), 1, 15))::BIGINT) AS BIGINT)
FROM events
""",
)
def fn_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent whole-table checksums: per table, row count +
    bit_xor of keyed row hashes — the O(1)-output primitive behind "are
    these two tables identical" checks after a migration, compaction, or
    replication (any changed, dropped, or duplicated row flips the xor;
    compare two checksum rows instead of two tables). The same discipline
    pipeline_sft_e2e uses per split, promoted to a reusable audit.

    Scale shape: one scan + map-side-combined xor/count per table;
    3 rows out."""

    def cks(name: str, df: DataFrame, key_expr) -> DataFrame:
        h = hash60(key_expr)
        return df.select(h.alias("h")).agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("content_xor"),
        ).select("tbl", "n_rows", "content_xor")

    docs = load(spark, sf_dir, "documents")
    orders = load(spark, sf_dir, "orders")
    events = load(spark, sf_dir, "events")
    return (
        cks(
            "documents", docs,
            F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text")),
        )
        .unionByName(
            cks(
                "orders", orders,
                F.concat(
                    F.col("o_orderkey").cast("string"), F.lit("|"),
                    F.col("o_orderstatus"), F.lit("|"),
                    F.col("o_custkey").cast("string"),
                ),
            )
        )
        .unionByName(
            cks(
                "events", events,
                F.concat(
                    F.col("event_id").cast("string"), F.lit("|"),
                    F.col("event_type"),
                ),
            )
        )
    )
