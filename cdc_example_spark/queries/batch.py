"""Q1–Q20: the batch-relational correctness contract (SURVEY.md §2.3).

Every query is written with the DataFrame API so Catalyst plans it
(pushdown, pruning, join selection, partial aggregation, AQE); the
paired oracle string is ANSI-ish SQL DuckDB runs on the same parquet.

Scale notes are attached per query where the plan shape matters at
100 TB (broadcast vs shuffle, partial aggs, TakeOrderedAndProject).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_example_spark.operators.percentiles import grouped_exact_percentiles_bucketed
from cdc_example_spark.queries.registry import query
from cdc_example_spark.queries.util import day_str, dec2, hour_str, shuffled_order, small_result_order
from cdc_example_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# Q1 — TPC-H-Q1-style pricing summary: filter → hash agg → sort.
# Scale: partial+final agg over 2 grouping keys (6 groups) — shuffle is
# 6 rows per map task regardless of input size; scan-bound at 100 TB.
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(ROUND(CAST(SUM(l_quantity) AS DECIMAL(28,10)), 2) AS DOUBLE)                        AS sum_qty,
  CAST(ROUND(CAST(SUM(l_extendedprice) AS DECIMAL(28,10)), 2) AS DOUBLE)                   AS sum_base_price,
  CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DECIMAL(28,10)), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(CAST(AVG(l_quantity) AS DECIMAL(28,10)), 2) AS DOUBLE)                        AS avg_qty,
  CAST(ROUND(CAST(AVG(l_extendedprice) AS DECIMAL(28,10)), 2) AS DOUBLE)                   AS avg_price,
  CAST(ROUND(CAST(AVG(l_discount) AS DECIMAL(28,10)), 2) AS DOUBLE)                        AS avg_disc,
  COUNT(*)                                                                AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q01_pricing_summary", oracle=_Q1_ORACLE)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + multi-aggregate hash agg + sort over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec2(F.sum("l_quantity")).alias("sum_qty"),
            dec2(F.sum("l_extendedprice")).alias("sum_base_price"),
            dec2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            dec2(F.avg("l_quantity")).alias("avg_qty"),
            dec2(F.avg("l_extendedprice")).alias("avg_price"),
            dec2(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .transform(small_result_order, "l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q2 — TPC-H-Q6-style revenue: range filters → scalar agg.
# Scale: all three predicates push to the parquet scan; single-row result.
# ---------------------------------------------------------------------------

_Q2_ORACLE = """
SELECT
  CAST(ROUND(CAST(SUM(l_extendedprice * l_discount) AS DECIMAL(28,10)), 2) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 25
"""


@query("q02_forecast_revenue", oracle=_Q2_ORACLE)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range + BETWEEN + comparison filters feeding a scalar aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            dec2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q3 — TPC-H-Q3-style: 3-way join + agg + top-k.
# Scale: customer filter first (pushed down), then shuffle joins on the
# order key; final TakeOrderedAndProject keeps only 10 rows per partition.
# ---------------------------------------------------------------------------

_Q3_ORACLE = """
SELECT
  o.o_orderkey,
  strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
  CAST(ROUND(CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(28,10)), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, order_date
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
"""


@query("q03_shipping_priority", oracle=_Q3_ORACLE)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem, revenue per order, top-10.

    Build-side discipline: LINEITEM is the fact and must be the streamed
    probe side of every join. Left to size stats alone, Catalyst
    broadcast lineitem itself at sf0.1 (40 MB < the 64 MB threshold) —
    a 600k-entry hash build per run, and exactly the plan that breaks
    at 100 TB where lineitem no longer fits; re-confirmed in r4 (the
    unhinted plan still picks BuildLeft=lineitem, 0.39 s vs 0.23 s).
    Broadcasting the filtered customer set into orders and that join
    result into lineitem wins at every measurable scale — r4 A/B at the
    60 M-row shard: forced 3.1–3.6 s vs unhinted SMJ 3.5–8.7 s vs an
    aggregate-before-join rewrite 3.8–8.2 s (pre-aggregating the
    UNFILTERED fact wastes 5× the groups). Cluster boundary, stated
    honestly: order_dim scales with orders (~20% of them), so on a real
    100 TB cluster the outer broadcast stops fitting the executor
    budget — there you drop the OUTER hint only (keep broadcast(cust))
    and AQE picks the SMJ this A/B measured as the runner-up; the
    never-acceptable plan in every regime is building the fact.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    order_dim = F.broadcast(
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "o_orderdate")
    )
    return (
        li.join(order_dim, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderkey", day_str(F.col("o_orderdate")).alias("order_date"))
        .agg(dec2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q4 — broadcast dim joins: region ⋈ nation ⋈ customer rollups.
# Scale: region (5 rows) and nation (25 rows) are broadcast — zero
# shuffle on the fact side; only the final 5-group agg shuffles.
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT
  r.r_name,
  COUNT(*) AS num_customers,
  CAST(ROUND(CAST(AVG(c.c_acctbal) AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_acctbal,
  CAST(ROUND(CAST(SUM(c.c_acctbal) AS DECIMAL(28,10)), 2) AS DOUBLE) AS sum_acctbal
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
GROUP BY r.r_name
ORDER BY r.r_name
"""


@query("q04_customers_per_region", oracle=_Q4_ORACLE)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two explicit broadcast joins feeding a small-key aggregation."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("num_customers"),
            dec2(F.avg("c_acctbal")).alias("avg_acctbal"),
            dec2(F.sum("c_acctbal")).alias("sum_acctbal"),
        )
        .transform(small_result_order, "r_name")
    )


# ---------------------------------------------------------------------------
# Q5 — customers with zero orders. Spark runs LEFT ANTI (no payload
# columns shuffled for the non-matching side); the oracle states the
# classic LEFT JOIN ... IS NULL formulation — equivalence is the check.
# ---------------------------------------------------------------------------

_Q5_ORACLE = """
SELECT c.c_custkey, c.c_name
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
WHERE o.o_orderkey IS NULL
ORDER BY c.c_custkey
"""


@query("q05_customers_without_orders", oracle=_Q5_ORACLE)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (oracle: LEFT OUTER + IS NULL) — same rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q6 — LEFT SEMI + HAVING: nations by number of big-spender customers.
# ---------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT c.c_nationkey, COUNT(*) AS num_customers
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000
)
GROUP BY c.c_nationkey
HAVING COUNT(*) > 1
ORDER BY c.c_nationkey
"""


@query("q06_semi_join_having", oracle=_Q6_ORACLE)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS) then grouped HAVING filter."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("num_customers"))
        .filter(F.col("num_customers") > 1)
        .transform(small_result_order, "c_nationkey")
    )


# ---------------------------------------------------------------------------
# Q7 — ROLLUP with GROUPING markers over customer ⋈ nation.
# ---------------------------------------------------------------------------

_Q7_ORACLE = """
SELECT
  n.n_name,
  c.c_mktsegment,
  CAST(GROUPING(n.n_name) AS INTEGER)       AS g_nation,
  CAST(GROUPING(c.c_mktsegment) AS INTEGER) AS g_segment,
  COUNT(*) AS num_customers,
  CAST(ROUND(CAST(SUM(c.c_acctbal) AS DECIMAL(28,10)), 2) AS DOUBLE) AS sum_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
ORDER BY g_nation, g_segment, n.n_name NULLS FIRST, c.c_mktsegment NULLS FIRST
"""


@query("q07_rollup_nation_segment", oracle=_Q7_ORACLE)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(n_name, c_mktsegment) with GROUPING() markers."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.grouping("c_mktsegment").cast("int").alias("g_segment"),
            F.count(F.lit(1)).alias("num_customers"),
            dec2(F.sum("c_acctbal")).alias("sum_acctbal"),
        )
        .transform(
            small_result_order,
            "g_nation",
            "g_segment",
            F.col("n_name").asc_nulls_first(),
            F.col("c_mktsegment").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Q8 — CUBE over order status × priority.
# ---------------------------------------------------------------------------

_Q8_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  CAST(GROUPING(o_orderstatus) AS INTEGER)   AS g_status,
  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
  COUNT(*) AS num_orders,
  CAST(ROUND(CAST(SUM(o_totalprice) AS DECIMAL(28,10)), 2) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY g_status, g_priority, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@query("q08_cube_status_priority", oracle=_Q8_ORACLE)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(o_orderstatus, o_orderpriority) with GROUPING() markers."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("num_orders"),
            dec2(F.sum("o_totalprice")).alias("total_price"),
        )
        .transform(
            small_result_order,
            "g_status",
            "g_priority",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Q9 — ranking window: top-3 customers by acctbal per nation.
# Scale: single shuffle on the partition key; rank pushdown via
# WindowGroupLimit (Spark 3.5+) stops each partition at 3 rows.
# ---------------------------------------------------------------------------

_Q9_ORACLE = """
SELECT c_nationkey, c_custkey,
       CAST(ROUND(CAST(c_acctbal AS DECIMAL(28,10)), 2) AS DOUBLE) AS acctbal,
       rn
FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
)
WHERE rn <= 3
ORDER BY c_nationkey, rn
"""


@query("q09_top3_per_nation", oracle=_Q9_ORACLE)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number() ranking window, filtered to top-3 per partition."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        cust.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "c_nationkey",
            "c_custkey",
            dec2(F.col("c_acctbal")).alias("acctbal"),
            F.col("rn").cast("long").alias("rn"),
        )
        .transform(small_result_order, "c_nationkey", "rn")
    )


# ---------------------------------------------------------------------------
# Q10 — lag/lead analytics: per-customer order-to-order deltas.
# ---------------------------------------------------------------------------

_Q10_ORACLE = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       date_diff('day',
                 CAST(lag(o_orderdate) OVER w AS DATE),
                 CAST(o_orderdate AS DATE))                      AS gap_days,
       CAST(ROUND(CAST(o_totalprice - lag(o_totalprice) OVER w AS DECIMAL(28,10)), 2) AS DOUBLE)                                    AS price_delta,
       strftime(lead(o_orderdate) OVER w, '%Y-%m-%d')            AS next_order_date
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


@query("q10_order_gaps", oracle=_Q10_ORACLE)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag()/lead() over per-customer order history."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            day_str(F.col("o_orderdate")).alias("order_date"),
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag("o_orderdate").over(w).cast("date"),
            ).alias("gap_days"),
            dec2(F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("price_delta"),
            day_str(F.lead("o_orderdate").over(w)).alias("next_order_date"),
            F.col("o_orderdate"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
        .drop("o_orderdate")
    )


# ---------------------------------------------------------------------------
# Q11 — running frame: cumulative spend per customer.
# Frame order is total (date, orderkey), so the sequential double sum is
# bitwise-identical on both engines.
# ---------------------------------------------------------------------------

_Q11_ORACLE = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(ROUND(CAST(SUM(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(28,10)), 2) AS DOUBLE) AS cum_spend
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


@query("q11_cumulative_spend", oracle=_Q11_ORACLE)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM() OVER (... ROWS UNBOUNDED PRECEDING) running total."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            day_str(F.col("o_orderdate")).alias("order_date"),
            dec2(F.sum("o_totalprice").over(w)).alias("cum_spend"),
            F.col("o_orderdate"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
        .drop("o_orderdate")
    )


# ---------------------------------------------------------------------------
# Q12 — global top-k (TakeOrderedAndProject: no full sort at scale).
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(28,10)), 2) AS DOUBLE) AS extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 20
"""


@query("q12_top20_lineitems", oracle=_Q12_ORACLE)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY ... LIMIT k — Catalyst lowers to per-partition top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(20)
        .select(
            "l_orderkey",
            "l_linenumber",
            dec2(F.col("l_extendedprice")).alias("extendedprice"),
        )
    )


# ---------------------------------------------------------------------------
# Q13 — set operations on custkey sets.
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
WITH allc AS (SELECT c_custkey AS k FROM customer),
     ordering AS (SELECT DISTINCT o_custkey AS k FROM orders)
SELECT 'except' AS tag, COUNT(*) AS cnt
  FROM (SELECT k FROM allc EXCEPT SELECT k FROM ordering)
UNION ALL
SELECT 'intersect', COUNT(*)
  FROM (SELECT k FROM allc INTERSECT SELECT k FROM ordering)
UNION ALL
SELECT 'union_all', COUNT(*)
  FROM (SELECT k FROM allc UNION ALL SELECT k FROM ordering)
UNION ALL
SELECT 'union_distinct', COUNT(*)
  FROM (SELECT k FROM allc UNION SELECT k FROM ordering)
ORDER BY tag
"""


@query("q13_set_ops", oracle=_Q13_ORACLE)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT / UNION ALL / UNION DISTINCT cardinalities.

    Fused single-pass form (r3→r4: 0.38 s → one shuffle): the round-3
    shape built four independent subplans (subtract/intersect/union ×2),
    each re-aggregating the same two inputs — six shuffles executed
    serially. All four distinct-semantics cardinalities are derivable
    from ONE per-key presence profile: union both key streams with a
    side tag, aggregate once per key (map-side partial), then fold the
    tiny per-key frame into the four counts and ``stack`` them back to
    tagged rows. Same contract (the oracle still runs the genuine
    EXCEPT/INTERSECT/UNION operators on DuckDB, and
    tests/test_queries_oracle.py pins the native subtract/intersect
    DataFrame operators to these counts); at 100 TB this is one
    key-shuffle over the union instead of four joins.
    """
    allc = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.lit(0).alias("side")
    )
    ordering = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), F.lit(1).alias("side")
    )
    per_key = (
        allc.unionAll(ordering)
        .groupBy("k")
        .agg(
            F.count(F.when(F.col("side") == 0, 1)).alias("n_c"),
            F.count(F.when(F.col("side") == 1, 1)).alias("n_o"),
        )
    )
    in_c, in_o = F.col("n_c") > 0, F.col("n_o") > 0
    totals = per_key.agg(
        F.count(F.when(in_c & ~in_o, 1)).alias("n_except"),
        F.count(F.when(in_c & in_o, 1)).alias("n_intersect"),
        # UNION ALL = customer bag + DISTINCT order-key bag (the round-1
        # declared shape: the ordering side is deduped before the union)
        (F.sum("n_c") + F.count(F.when(in_o, 1))).alias("n_union_all"),
        F.count(F.lit(1)).alias("n_union_distinct"),
    )
    return totals.select(
        F.expr(
            "stack(4, 'except', n_except, 'intersect', n_intersect, "
            "'union_all', n_union_all, 'union_distinct', n_union_distinct) "
            "AS (tag, cnt)"
        )
    ).transform(small_result_order, "tag")


# ---------------------------------------------------------------------------
# Q14 — exact COUNT(DISTINCT), global row via ROLLUP.
# Scale: rollup + two distinct columns + a plain count through ONE
# aggregate stacks Catalyst's Expand twice (rollup ×2 grouping sets,
# RewriteDistinctAggregates ×3 aggregate groups — 6× the input through
# a double shuffle): measured 6.1 s on the 6M-row scaling shard
# (scripts/bench_scaling.py k=10) vs 0.7 s for this shape. Structure:
# dedupe (flag, tag, value) ONCE (map-side partial distinct), derive
# both rollup levels from that small distinct set — the total level
# re-dedupes (tag, value) only, input already ~|distinct| — and join
# the plain counts computed Expand-free on the raw rows. For 100 TB an
# approx_count_distinct variant is registered in llm.py benches.
# ---------------------------------------------------------------------------

_Q14_ORACLE = """
SELECT l_returnflag,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       COUNT(DISTINCT l_partkey) AS nd_part,
       COUNT(DISTINCT l_suppkey) AS nd_supp,
       COUNT(*) AS cnt
FROM lineitem
GROUP BY ROLLUP (l_returnflag)
ORDER BY g_flag, l_returnflag NULLS FIRST
"""


@query("q14_count_distinct", oracle=_Q14_ORACLE)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per flag + grand total (ROLLUP), Expand-free."""
    li = load_table(spark, sf_dir, "lineitem")
    # NULL discipline (ADVICE r3): COUNT(DISTINCT col) excludes NULLs,
    # but the tagged count below counts every surviving (t, v) row — a
    # NULL key must drop BEFORE the distinct or it registers as one
    # extra "value". TPC-H keys are NOT NULL; the filter keeps the
    # rewrite generally equivalent (q38's count('v') already was).
    #
    # (t, v) packs into ONE long (tag in bit 61) before the distinct:
    # the exchange then carries (flag, int64) instead of (flag, int32,
    # int64) rows, and the hash/compare path runs on a single word —
    # measured 11.7 → 6.0 s on the 60 M-row shard (the distinct shuffle
    # is this query's entire cost; r5 closed the k=100 residual after
    # measuring collect_set restructure / width sweep / re-compression
    # all ≥ current — see BASELINE.md r5; the scale answer is q38's
    # HLL). Precondition: keys are non-negative
    # and < 2^61, which any surrogate-key scheme satisfies; tag is
    # recovered by shiftright AFTER the dedupe (|distinct| rows, free).
    dis = (
        li.select(
            "l_returnflag", F.posexplode(F.array("l_partkey", "l_suppkey")).alias("t", "v")
        )
        .filter(F.col("v").isNotNull())
        .select(
            "l_returnflag",
            (F.shiftleft(F.col("t").cast("long"), 61) + F.col("v")).alias("tv"),
        )
        .distinct()
    )
    dis_t = dis.select("l_returnflag", F.shiftright("tv", 61).cast("int").alias("t"))
    cnts = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt"))

    def level(nd_rows: DataFrame, cnt_rows: DataFrame, keys: list[str]) -> DataFrame:
        # union the distinct-value rows (tags 0/1) with the plain-count
        # rows (tag 2) and fold both in ONE aggregate — join-free, so no
        # BNLJ/cartesian ever appears in the assembly of the total level
        u = nd_rows.select(*keys, "t", F.lit(None).cast("long").alias("c")).unionByName(
            cnt_rows.select(*keys, F.lit(2).alias("t"), F.col("cnt").alias("c"))
        )
        return u.groupBy(*keys).agg(
            F.count(F.when(F.col("t") == 0, 1)).alias("nd_part"),
            F.count(F.when(F.col("t") == 1, 1)).alias("nd_supp"),
            F.max(F.when(F.col("t") == 2, F.col("c"))).alias("cnt"),
        )

    null_flag = F.lit(None).cast(li.schema["l_returnflag"].dataType).alias("l_returnflag")
    per_flag = level(dis_t, cnts, ["l_returnflag"]).select(
        "l_returnflag", F.lit(0).alias("g_flag"), "nd_part", "nd_supp", "cnt"
    )
    total = level(
        dis.select("tv").distinct().select(
            null_flag, F.shiftright("tv", 61).cast("int").alias("t")
        ),
        cnts.agg(F.sum("cnt").alias("cnt")).select(null_flag, "cnt"),
        ["l_returnflag"],
    ).select("l_returnflag", F.lit(1).alias("g_flag"), "nd_part", "nd_supp", "cnt")
    return per_flag.unionByName(total).transform(
        small_result_order, "g_flag", F.col("l_returnflag").asc_nulls_first()
    )


# ---------------------------------------------------------------------------
# Q15 — scalar string functions over part.
# ---------------------------------------------------------------------------

_Q15_ORACLE = """
SELECT p_partkey,
       UPPER(p_name)                                   AS name_upper,
       SUBSTR(p_name, 1, 8)                            AS name_pfx,
       CONCAT(p_brand, '#', p_type)                    AS brand_type,
       LENGTH(p_name)                                  AS name_len,
       TRIM(p_name)                                    AS name_trim,
       regexp_extract(p_brand, '#?([0-9]+)$', 1)       AS brand_num,
       LENGTH(p_name) - LENGTH(REPLACE(p_name, ' ', '')) + 1 AS n_words
FROM part
WHERE p_name LIKE '%widget%'
ORDER BY p_partkey
"""


@query("q15_string_functions", oracle=_Q15_ORACLE)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/substr/concat/length/trim/regexp_extract/LIKE/word-count."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%widget%"))
        .select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.substring("p_name", 1, 8).alias("name_pfx"),
            F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
            F.length("p_name").cast("long").alias("name_len"),
            F.trim(F.col("p_name")).alias("name_trim"),
            F.regexp_extract(F.col("p_brand"), r"#?([0-9]+)$", 1).alias("brand_num"),
            (F.length("p_name") - F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit(""))) + 1).cast("long").alias("n_words"),
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Q16 — date bucketing + join: orders per year × month for one segment.
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT CAST(YEAR(o.o_orderdate) AS INTEGER)  AS order_year,
       CAST(MONTH(o.o_orderdate) AS INTEGER) AS order_month,
       strftime(date_trunc('month', o.o_orderdate), '%Y-%m-%d') AS month_start,
       COUNT(*) AS num_orders,
       CAST(ROUND(CAST(SUM(o.o_totalprice) AS DECIMAL(28,10)), 2) AS DOUBLE) AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'MACHINERY'
GROUP BY order_year, order_month, month_start
ORDER BY order_year, order_month
"""


@query("q16_orders_by_month", oracle=_Q16_ORACLE)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year()/month()/date_trunc bucketing after a segment-filtered join."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "MACHINERY")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            day_str(F.date_trunc("month", F.col("o_orderdate"))).alias("month_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("num_orders"),
            dec2(F.sum("o_totalprice")).alias("total_price"),
        )
        .transform(small_result_order, "order_year", "order_month")
    )


# ---------------------------------------------------------------------------
# Q17 — CASE / COALESCE / math banding.
# ---------------------------------------------------------------------------

_Q17_ORACLE = """
SELECT
  CASE WHEN o_totalprice < 50000  THEN 'low'
       WHEN o_totalprice < 150000 THEN 'mid'
       WHEN o_totalprice < 300000 THEN 'high'
       ELSE 'jumbo' END                                   AS band,
  CAST(FLOOR(o_totalprice / 100000) AS BIGINT)            AS bucket_100k,
  COUNT(*)                                                AS num_orders,
  CAST(ROUND(CAST(AVG(ABS(o_totalprice - 150000)) AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_abs_dev,
  CAST(ROUND(CAST(MAX(LEAST(o_totalprice, 400000)) AS DECIMAL(28,10)), 2) AS DOUBLE) AS max_capped,
  CAST(ROUND(CAST(MIN(GREATEST(o_totalprice, 2000)) AS DECIMAL(28,10)), 2) AS DOUBLE) AS min_floored,
  CAST(ROUND(CAST(SUM(COALESCE(NULLIF(o_totalprice, 0), 0)) AS DECIMAL(28,10)), 2) AS DOUBLE) AS total,
  CAST(ROUND(CAST(AVG(MOD(CAST(o_orderkey AS BIGINT), 7)) AS DECIMAL(28,10)), 2) AS DOUBLE)   AS avg_mod7,
  CAST(ROUND(CAST(SUM(POWER(o_totalprice / 100000, 2)) AS DECIMAL(28,10)), 2) AS DOUBLE)      AS sum_sq_lakh
FROM orders
GROUP BY band, bucket_100k
ORDER BY band, bucket_100k
"""


@query("q17_case_math_bands", oracle=_Q17_ORACLE)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN banding + floor/abs/least/greatest/coalesce/mod/power."""
    orders = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .when(F.col("o_totalprice") < 300000, "high")
        .otherwise("jumbo")
    )
    return (
        orders.groupBy(
            band.alias("band"),
            F.floor(F.col("o_totalprice") / 100000).cast("bigint").alias("bucket_100k"),
        )
        .agg(
            F.count(F.lit(1)).alias("num_orders"),
            dec2(F.avg(F.abs(F.col("o_totalprice") - 150000))).alias("avg_abs_dev"),
            dec2(F.max(F.least(F.col("o_totalprice"), F.lit(400000)))).alias("max_capped"),
            dec2(F.min(F.greatest(F.col("o_totalprice"), F.lit(2000)))).alias("min_floored"),
            dec2(F.sum(F.coalesce(F.nullif(F.col("o_totalprice"), F.lit(0)), F.lit(0)))).alias("total"),
            dec2(F.avg(F.col("o_orderkey").cast("bigint") % 7)).alias("avg_mod7"),
            dec2(F.sum(F.pow(F.col("o_totalprice") / 100000, F.lit(2)))).alias("sum_sq_lakh"),
        )
        .transform(small_result_order, "band", "bucket_100k")
    )


# ---------------------------------------------------------------------------
# Q18 — batch tumbling window: events per hour × type.
# The Spark side uses F.window() (the streaming-native construct); the
# oracle expresses the same bucket as date_trunc('hour'). Equality of
# the two formulations is exactly the batch/stream parity we need for S5.
# ---------------------------------------------------------------------------

_Q18_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       COUNT(*) AS num_events,
       CAST(ROUND(CAST(AVG(value) AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_value,
       CAST(ROUND(CAST(SUM(value) AS DECIMAL(28,10)), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY hour_start, event_type
ORDER BY hour_start, event_type
"""


@query("q18_hourly_event_windows", oracle=_Q18_ORACLE)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling F.window('1 hour') aggregation (oracle: date_trunc)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            dec2(F.avg("value")).alias("avg_value"),
            dec2(F.sum("value")).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "num_events",
            "avg_value",
            "sum_value",
        )
        .transform(small_result_order, "hour_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Q19 — batch sessionization: 30-minute-gap sessions via lag + running sum.
# The streaming twin (S6, session_window) must agree on session counts.
# Gap comparisons use epoch microseconds on both engines (events.ts is
# ns on disk; µs is the shared precision).
# ---------------------------------------------------------------------------

_Q19_ORACLE = """
WITH t AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
), f AS (
  SELECT user_id, ts, event_id,
         CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM t
), s AS (
  SELECT user_id, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_seq
  FROM f
), g AS (
  SELECT user_id, sess_seq,
         COUNT(*) AS n_events,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS dur_s
  FROM s GROUP BY user_id, sess_seq
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(ROUND(CAST(AVG(n_events) AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_events,
       CAST(ROUND(CAST(AVG(dur_s) AS DECIMAL(28,10)), 2) AS DOUBLE)    AS avg_dur_s,
       CAST(ROUND(CAST(MAX(dur_s) AS DECIMAL(28,10)), 2) AS DOUBLE)    AS max_dur_s
FROM g
GROUP BY user_id
ORDER BY user_id
"""


@query("q19_sessionization", oracle=_Q19_ORACLE)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: lag → new-session flag → running sum."""
    ev = load_table(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w_order))
    sess = (
        ev.withColumn("gap_us", gap_us)
        .withColumn(
            "is_new",
            F.when(F.col("gap_us").isNull() | (F.col("gap_us") > 1_800_000_000), 1).otherwise(0),
        )
        .withColumn("sess_seq", F.sum("is_new").over(w_run))
        .groupBy("user_id", "sess_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1_000_000.0).alias("dur_s"),
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            dec2(F.avg("n_events")).alias("avg_events"),
            dec2(F.avg("dur_s")).alias("avg_dur_s"),
            dec2(F.max("dur_s")).alias("max_dur_s"),
        )
        # shuffled_order: range sampling re-ran the lag/running-sum
        # window chain (r14 -425 ms; queries/util.py note)
        .transform(shuffled_order, "user_id")
    )


# ---------------------------------------------------------------------------
# Q20 — JSON extraction over events.props.
# ---------------------------------------------------------------------------

_Q20_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       event_type,
       COUNT(*) AS num_events,
       CAST(ROUND(CAST(SUM(value) AS DECIMAL(28,10)), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY k_bucket, event_type
ORDER BY k_bucket, event_type
"""


@query("q20_json_buckets", oracle=_Q20_ORACLE)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object(props, '$.k') → int bucket → grouped counts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.get_json_object(F.col("props"), "$.k").cast("int") % 10).alias("k_bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            dec2(F.sum("value")).alias("sum_value"),
        )
        .transform(small_result_order, "k_bucket", "event_type")
    )


# ---------------------------------------------------------------------------
# Q37 — the full ranking/analytic window family (SURVEY.md §2.2 "Window"
# rows): row_number / rank / dense_rank / ntile + first/last frame
# analytics in one pass. Ties are real (acctbal is banded to $1000) so
# rank vs dense_rank actually diverge; row_number/ntile/first/last use
# the total order (band DESC, custkey) so every output is deterministic.
# Scale: both windows share the c_nationkey partitioning, so Catalyst
# plans ONE exchange + two sorts — no per-function shuffle.
# ---------------------------------------------------------------------------

_Q37_ORACLE = """
WITH r AS (
  SELECT c_nationkey, c_custkey,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
         ROW_NUMBER() OVER w2 AS rn,
         RANK() OVER w1 AS rnk,
         DENSE_RANK() OVER w1 AS drnk,
         NTILE(4) OVER w2 AS quartile,
         FIRST_VALUE(c_custkey) OVER w2 AS richest_cust,
         LAST_VALUE(c_custkey) OVER (
           PARTITION BY c_nationkey
           ORDER BY CAST(FLOOR(c_acctbal / 1000) AS BIGINT) DESC, c_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest_cust
  FROM customer
  WINDOW
    w1 AS (PARTITION BY c_nationkey
           ORDER BY CAST(FLOOR(c_acctbal / 1000) AS BIGINT) DESC),
    w2 AS (PARTITION BY c_nationkey
           ORDER BY CAST(FLOOR(c_acctbal / 1000) AS BIGINT) DESC, c_custkey)
)
SELECT c_nationkey, c_custkey, bal_band, rn, rnk, drnk, quartile,
       richest_cust, poorest_cust
FROM r
WHERE rn <= 5
ORDER BY c_nationkey, rn
"""


@query("q37_ranking_family", oracle=_Q37_ORACLE)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank/ntile/first/last over one partitioning."""
    cust = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("long")
    w1 = Window.partitionBy("c_nationkey").orderBy(F.col("bal_band").desc())
    w2 = Window.partitionBy("c_nationkey").orderBy(
        F.col("bal_band").desc(), F.col("c_custkey")
    )
    w2_full = w2.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        cust.select("c_nationkey", "c_custkey", band.alias("bal_band"))
        .select(
            "c_nationkey",
            "c_custkey",
            "bal_band",
            F.row_number().over(w2).cast("long").alias("rn"),
            F.rank().over(w1).cast("long").alias("rnk"),
            F.dense_rank().over(w1).cast("long").alias("drnk"),
            F.ntile(4).over(w2).cast("long").alias("quartile"),
            F.first("c_custkey").over(w2).alias("richest_cust"),
            F.last("c_custkey").over(w2_full).alias("poorest_cust"),
        )
        .filter(F.col("rn") <= 5)
        .transform(small_result_order, "c_nationkey", "rn")
    )


# ---------------------------------------------------------------------------
# Q38 — approximate COUNT(DISTINCT) (HyperLogLog++) next to the exact
# counts it approximates. HLL estimates are engine-specific, so the raw
# approximate values can't be hash-checked against DuckDB; instead the
# hashed output carries the exact counts plus a Spark-computed boolean
# per sketch asserting the error contract |approx − exact| ≤ 3·rsd·exact
# (rsd = 0.05, Spark's default). The oracle states the exact counts and
# TRUE — so a sketch regression that breaks the bound flips the hash.
# The raw approx values keep their own 3σ assertion in
# tests/test_queries_oracle.py::test_q38_hll_error_bound.
# Scale: this is THE cardinality operator at 100 TB — fixed-size
# sketches merge tree-wise instead of shuffling every distinct value
# like Q14's exact variant.
# ---------------------------------------------------------------------------

_Q38_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(DISTINCT l_suppkey) AS exact_supps,
       TRUE AS parts_within_3sigma,
       TRUE AS supps_within_3sigma
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

_HLL_RSD = 0.05


def _within_3sigma(approx, exact):
    return F.abs(approx - exact) <= 3 * _HLL_RSD * exact


@query("q38_approx_distinct", oracle=_Q38_ORACLE)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct error contract vs exact, per returnflag.

    Shape history, all interleaved-A/B-measured at sf0.1: two exact
    distincts over DIFFERENT columns in one aggregate trigger
    RewriteDistinctAggregates' Expand (3× the rows through a double
    shuffle) — 1.14 s. Mixing countDistinct with the HLL in ONE
    aggregate ALSO triggers the Expand rewrite (distinct + non-distinct
    aggregate mix), which is why the round-2 union-tag form still paid
    0.80 s. Current form: ONE scan posexplodes (partkey, suppkey) into
    tagged rows, an explicit ``distinct()`` deduplicates (map-side
    partial + 1 shuffle), and THEN one plain aggregate computes
    ``count(v)`` (= exact distinct, input is already distinct) and the
    HLL — which is duplicate-insensitive, so sketching the distinct set
    yields the identical estimate as sketching the raw stream. No
    Expand anywhere, 0.37 s median. At 100 TB the same shape holds:
    the partial distinct collapses each map task's duplicates before
    the only shuffle, and the sketch stays mergeable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dis = li.select(
        "l_returnflag", F.posexplode(F.array("l_partkey", "l_suppkey")).alias("t", "v")
    ).distinct()
    per = dis.groupBy("l_returnflag", "t").agg(
        F.count("v").alias("ex"),
        F.approx_count_distinct("v", rsd=_HLL_RSD).alias("ap"),
    )

    def side(tag: int, col: str) -> Column:
        return F.max(F.when(F.col("t") == tag, F.col(col)))

    return (
        per.groupBy("l_returnflag")
        .agg(
            side(0, "ex").alias("exact_parts"),
            side(1, "ex").alias("exact_supps"),
            _within_3sigma(side(0, "ap"), side(0, "ex")).alias("parts_within_3sigma"),
            _within_3sigma(side(1, "ap"), side(1, "ex")).alias("supps_within_3sigma"),
        )
        .transform(small_result_order, "l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q40 — GROUPING SETS proper (ROLLUP/CUBE cover only their fixed
# lattices; arbitrary set lists are the general form). grouping_id()
# disambiguates which keys are aggregated away, exactly as in Q7/Q8.
# Scale: one expand + one partial+final agg — same cost model as CUBE.
# ---------------------------------------------------------------------------

_Q40_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
       COUNT(*) AS n_orders,
       CAST(ROUND(CAST(SUM(o_totalprice) AS DECIMAL(28,10)), 2) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@query("q40_grouping_sets", oracle=_Q40_ORACLE)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((status), (priority), ()) with grouping_id markers."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dec2(F.sum("o_totalprice")).alias("sum_price"),
        )
        .transform(
            small_result_order,
            "gid",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Q41 — exact percentiles (median / p95, linear interpolation).
# The plan is the distributed-exact operator
# (operators/percentiles.grouped_exact_percentiles_bucketed: exact
# equi-width bucket brackets + in-bracket histogram refinement). No
# group's value stream leaves the executors, so the same plan survives
# groups beyond task memory — the 100 TB-correct shape for exact
# percentiles. Linear interpolation matches DuckDB's quantile_cont
# exactly, so the 2-decimal rounded values hash-match.
# The alternatives cost more at sf0.1 or scale worse: Spark's JVM
# `percentile` aggregate keeps a value→count OpenHashMap per group
# (1.19 s); Arrow + np.percentile in applyInPandas ships every group's
# values through Arrow (0.55 s at sf0.1, ~20 s at the 60 M-row scaling
# shard). approx_percentile is the cheap-sketch tier, asserted within
# ±1% of exact in tests.
# ---------------------------------------------------------------------------

_Q41_ORACLE = """
SELECT l_returnflag,
       CAST(ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(28,10)), 2) AS DOUBLE) AS median_price,
       CAST(ROUND(CAST(quantile_cont(l_extendedprice, 0.95) AS DECIMAL(28,10)), 2) AS DOUBLE) AS p95_price,
       CAST(ROUND(CAST(quantile_cont(l_quantity, 0.5) AS DECIMAL(28,10)), 2) AS DOUBLE) AS median_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q41_percentiles", oracle=_Q41_ORACLE)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (median, p95), distributed.

    No applyInPandas / full-value transfer anywhere in this plan: exact
    bucket counts bracket each quantile, and one more scan refines on a
    tiny in-bracket histogram (see operators/percentiles.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Exact bucket brackets, not a sketch: the min/max and
    # bucket-count passes take 1.3 s warm at the 60 M shard, where a
    # GK sketch's ObjectHashAggregate pays a per-row insert cost
    # (2.9–7.0 s), and the bucket cumsum IS the exact below-bracket
    # count, so no separate counting scan runs. TPC-H measures are
    # near-uniform, the case in which the bucket histogram stays tiny;
    # exactness does not depend on the distribution (pinned against
    # np.percentile, adversarial distributions included, in
    # tests/test_percentiles.py).
    per = grouped_exact_percentiles_bucketed(
        li.select("l_returnflag", "l_extendedprice", "l_quantity"),
        "l_returnflag",
        [("l_extendedprice", [0.5, 0.95]), ("l_quantity", [0.5])],
        n_buckets=2048,
    )
    return per.select(
        "l_returnflag",
        dec2(F.col("l_extendedprice_p50")).alias("median_price"),
        dec2(F.col("l_extendedprice_p95")).alias("p95_price"),
        dec2(F.col("l_quantity_p50")).alias("median_qty"),
    ).transform(small_result_order, "l_returnflag")


# ---------------------------------------------------------------------------
# Q42 — statistical aggregates: stddev/variance (sample), Pearson
# correlation, sample covariance. The profiling pass every dataset gets
# before training. Floating-point sum order differs between engines;
# the 2-decimal rounding absorbs it (1-ulp differences sit ~1e-10
# relative, far inside the rounding bucket).
# ---------------------------------------------------------------------------

_Q42_ORACLE = """
SELECT l_returnflag,
       CAST(ROUND(CAST(stddev_samp(l_quantity) AS DECIMAL(28,10)), 2) AS DOUBLE) AS sd_qty,
       CAST(ROUND(CAST(var_samp(l_quantity) AS DECIMAL(28,10)), 2) AS DOUBLE) AS var_qty,
       CAST(ROUND(CAST(corr(l_quantity, l_extendedprice) AS DECIMAL(28,10)), 2) AS DOUBLE) AS corr_qty_price,
       CAST(ROUND(CAST(covar_samp(l_discount, l_extendedprice) AS DECIMAL(28,10)), 2) AS DOUBLE) AS cov_disc_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q42_stats_profile", oracle=_Q42_ORACLE)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/var/corr/covar profiling aggregates per returnflag."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            dec2(F.stddev_samp("l_quantity")).alias("sd_qty"),
            dec2(F.var_samp("l_quantity")).alias("var_qty"),
            dec2(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
            dec2(F.covar_samp("l_discount", "l_extendedprice")).alias("cov_disc_price"),
        )
        .transform(small_result_order, "l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q43 — deterministic train/val/test split: Knuth multiplicative hash of
# the stable row key, pure int64 arithmetic, so the SAME rows land in the
# SAME split on any engine, any partitioning, any day — the property a
# training pipeline needs from a split (random() gives none of it).
# 80/10/10 by bucket ranges; counts per (lang, split) are hash-checked.
# Scale: embarrassingly parallel row-local expression; no shuffle before
# the count agg.
# ---------------------------------------------------------------------------

_Q43_ORACLE = """
WITH s AS (
  SELECT lang,
         ((doc_id % 1000003) * 2654435761 + (doc_id // 1000003) * 40503) % 1000 AS b
  FROM documents
), t AS (
  SELECT lang,
         CASE WHEN b < 800 THEN 'train'
              WHEN b < 900 THEN 'val'
              ELSE 'test' END AS split
  FROM s
)
SELECT lang, split, COUNT(*) AS n_docs
FROM t
GROUP BY lang, split
ORDER BY lang, split
"""


@query("q43_train_test_split", oracle=_Q43_ORACLE)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split via multiplicative hashing of doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    # Overflow-safe for any NON-NEGATIVE int64 doc_id (Spark 4 ANSI mode
    # makes int64 overflow an error, and DuckDB always did): the low
    # part stays ≤ 1e6·2654435761 ≈ 2.7e15 and the high part
    # ≤ 9.2e12·40503 ≈ 3.7e17, so the sum is far inside int64 while
    # every bit of doc_id still reaches the bucket. (Negative keys are
    # out of contract: Spark DIV truncates, DuckDB // floors.)
    lo = (F.col("doc_id") % F.lit(1000003)) * F.lit(2654435761)
    hi = F.expr("doc_id DIV 1000003") * F.lit(40503)
    bucket = (lo + hi) % F.lit(1000)
    split = (
        F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .transform(small_result_order, "lang", "split")
    )


# ---------------------------------------------------------------------------
# Q44 — pivot: long → wide event counts, one column per event_type.
# Spark's pivot with an EXPLICIT value list compiles to conditional
# aggregation (one pass, no per-value scans) and keeps the output schema
# static — required at 100 TB, where a value-discovery pre-pass over the
# fact table would double the job, and required for the oracle (the SQL
# spells the same conditional aggs).
# ---------------------------------------------------------------------------

_Q44_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY day
ORDER BY day
"""


@query("q44_pivot_event_counts", oracle=_Q44_ORACLE)
def q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot events long→wide: per-day count per event_type column."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(day_str(F.date_trunc("day", F.col("ts"))).alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "error", "purchase", "signup", "view"])
        .transform(small_result_order, "day")
    )


# ---------------------------------------------------------------------------
# Q45 — the subquery family through the engine's SQL surface: EXISTS
# (correlated), NOT IN, and a correlated scalar subquery, in one query.
# Catalyst de-correlates these into semi/anti/aggregate-joins
# (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery) — the
# same physical shapes Q5/Q6 build explicitly with the DataFrame API;
# this query pins the SQL→plan path. The IDENTICAL text runs on DuckDB
# (no engine-specific functions), so the oracle is the query itself.
# NOT IN is safe here because o_custkey is non-nullable; a nullable
# column would make NOT IN three-valued and is the documented caveat.
# ---------------------------------------------------------------------------

_Q45_SQL = """
SELECT c_custkey, c_nationkey,
       CAST(ROUND(CAST(c_acctbal AS DECIMAL(28,10)), 2) AS DOUBLE) AS acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
  AND c.c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
  AND c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                     WHERE c2.c_nationkey = c.c_nationkey)
ORDER BY c_custkey
"""


@query("q45_subqueries", oracle=_Q45_SQL)
def q45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT IN + correlated scalar subquery (shared SQL text)."""
    from cdc_example_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q45_SQL)


# ---------------------------------------------------------------------------
# Q46 — RANGE window frame (value-based, not row-based): for each order,
# aggregate over every order of the same customer within $5,000 below
# its price. The frame key is integer cents so both engines bound the
# frame identically (RANGE over DOUBLE is type-picky in Spark and
# ulp-sensitive everywhere). Aggregates inside a value-frame are
# order-insensitive, so ties in the order key don't break determinism.
# Scale: one shuffle on o_custkey; the running frame is computed in a
# single sorted pass per partition.
# ---------------------------------------------------------------------------

_Q46_ORACLE = """
WITH o AS (
  SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), r AS (
  SELECT o_custkey,
         COUNT(*) OVER (PARTITION BY o_custkey ORDER BY cents
                        RANGE BETWEEN 500000 PRECEDING AND CURRENT ROW) AS n_band,
         SUM(cents) OVER (PARTITION BY o_custkey ORDER BY cents
                          RANGE BETWEEN 500000 PRECEDING AND CURRENT ROW) AS cents_band
  FROM o
)
SELECT o_custkey, MAX(n_band) AS max_band_orders,
       CAST(ROUND(CAST(MAX(cents_band) / 100.0 AS DECIMAL(28,10)), 2) AS DOUBLE) AS max_band_total
FROM r
GROUP BY o_custkey
ORDER BY o_custkey
"""


@query("q46_range_frame", oracle=_Q46_ORACLE)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE BETWEEN value-frame: orders within $5,000 below each order."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("cents")
        .rangeBetween(-500000, Window.currentRow)
    )
    return (
        orders.select("o_custkey", cents.alias("cents"))
        .select(
            "o_custkey",
            F.count(F.lit(1)).over(w).alias("n_band"),
            F.sum("cents").over(w).alias("cents_band"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max("n_band").alias("max_band_orders"),
            dec2(F.max("cents_band") / 100.0).alias("max_band_total"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Q48 — AS-OF JOIN: for each click event, the user's most recent error
# event at or before it (inclusive). Spark has no asof operator; the
# union-merge encoding (operators/asof.py) does it with one shuffle and
# ZERO join nodes — the oracle uses DuckDB's native ASOF LEFT JOIN, so
# the hash check is a true cross-engine semantics check of the
# encoding, nulls (users with no prior error) included.
# ---------------------------------------------------------------------------

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"

_Q48_ORACLE = f"""
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), errs AS (
  SELECT user_id, ts, event_id AS err_id, ts AS err_ts, value AS err_value
  FROM events WHERE event_type = 'error'
)
SELECT c.user_id, c.event_id,
       strftime(c.ts, '{_TS_FMT_DUCK}') AS click_ts,
       e.err_id,
       strftime(e.err_ts, '{_TS_FMT_DUCK}') AS err_ts,
       CAST(ROUND(CAST(e.err_value AS DECIMAL(28,10)), 2) AS DOUBLE) AS err_value
FROM clicks c ASOF LEFT JOIN errs e ON c.user_id = e.user_id AND c.ts >= e.ts
ORDER BY c.user_id, c.event_id
"""


@query("q48_asof_join", oracle=_Q48_ORACLE)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most recent same-user error at or before each click (as-of join)."""
    from cdc_example_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    errs = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
        F.col("value").alias("err_value"),
    )
    joined = asof_join(
        clicks, errs, on=["user_id"], left_ts="ts", right_ts="ts", tiebreak="err_id"
    )
    return joined.select(
        "user_id",
        "event_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("click_ts"),
        "err_id",
        F.date_format("err_ts", _TS_FMT_SPARK).alias("err_ts"),
        dec2(F.col("err_value")).alias("err_value"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Q49 — changelog time travel: per-user state as of a fixed instant —
# the batch twin of the CDC sink's last-write-wins MERGE (the snapshot
# a consumer would read "as of T"). One partial-aggregating max_by per
# key; no window sort over historical versions.
# ---------------------------------------------------------------------------

_Q49_AS_OF = "2024-02-15 00:00:00"

_Q49_ORACLE = f"""
WITH v AS (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '{_Q49_AS_OF}'
)
SELECT user_id, event_id,
       strftime(ts, '{_TS_FMT_DUCK}') AS state_ts,
       event_type,
       CAST(ROUND(CAST(value AS DECIMAL(28,10)), 2) AS DOUBLE) AS value
FROM v WHERE rn = 1
ORDER BY user_id
"""


@query("q49_snapshot_at", oracle=_Q49_ORACLE)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time snapshot of each user's latest event (time travel)."""
    from cdc_example_spark.operators.asof import snapshot_at

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    snap = snapshot_at(ev, keys=["user_id"], ts_col="ts", as_of=_Q49_AS_OF, tiebreak="event_id")
    return snap.select(
        "user_id",
        "event_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("state_ts"),
        "event_type",
        dec2(F.col("value")).alias("value"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Q50 — range (interval) join: clicks within one hour AFTER each error,
# per user, as a bucketed equi-join (operators/rangejoin.py) — the raw
# inequality join would plan the BroadcastNestedLoopJoin that
# plans/audit.py bans. Aggregated per error event; errors with no
# follow-up clicks count 0 via the left join.
# ---------------------------------------------------------------------------

_Q50_ORACLE = """
WITH errs AS (
  SELECT user_id, event_id AS err_id, ts AS err_ts FROM events WHERE event_type = 'error'
), clicks AS (
  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
)
SELECT e.user_id, e.err_id,
       CAST(COUNT(c.click_ts) AS BIGINT) AS n_clicks_1h
FROM errs e LEFT JOIN clicks c
  ON e.user_id = c.user_id
 AND c.click_ts >= e.err_ts
 AND c.click_ts <= e.err_ts + INTERVAL 1 HOUR
GROUP BY e.user_id, e.err_id
ORDER BY e.user_id, e.err_id
"""


@query("q50_range_join", oracle=_Q50_ORACLE)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks within 1h after each error (bucketed interval join)."""
    from cdc_example_spark.operators.rangejoin import range_join

    hour_us = 3_600_000_000
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("click_us")
    )
    errs = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        F.unix_micros("ts").alias("err_us"),
        (F.unix_micros("ts") + hour_us).alias("err_hi_us"),
    )
    joined = range_join(
        clicks,
        errs,
        on=["user_id"],
        left_point="click_us",
        right_lo="err_us",
        right_hi="err_hi_us",
        bucket_width=hour_us,
    )
    counts = joined.groupBy("user_id", "err_id").agg(
        F.count(F.lit(1)).alias("n_clicks_1h")
    )
    return (
        errs.select("user_id", "err_id")
        .join(counts, ["user_id", "err_id"], "left")
        .select("user_id", "err_id", F.coalesce("n_clicks_1h", F.lit(0)).alias("n_clicks_1h"))
        .orderBy("user_id", "err_id")
    )


# ---------------------------------------------------------------------------
# Q59 — FULL OUTER join (the one outer-join shape Q5's left/anti pair
# doesn't exercise): per-nation rich-customer counts vs cheap-supplier
# counts, with both sides filtered so each has nations the other lacks
# — the null-filled rows on BOTH sides are the point. COALESCE
# completes the key; the side CASE classifies matched/unmatched.
# Scale: two partial-agg'd 25-row sides; the outer join itself is a
# dim-sized hash join, never fact-sized.
# ---------------------------------------------------------------------------

_Q59_ORACLE = """
WITH c AS (
  SELECT c_nationkey AS nk, COUNT(*) AS n_rich_customers
  FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey
), s AS (
  SELECT s_nationkey AS nk, COUNT(*) AS n_cheap_suppliers
  FROM supplier WHERE s_acctbal < 1000 GROUP BY s_nationkey
)
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       CAST(COALESCE(c.n_rich_customers, 0) AS BIGINT) AS n_rich_customers,
       CAST(COALESCE(s.n_cheap_suppliers, 0) AS BIGINT) AS n_cheap_suppliers,
       CASE WHEN c.nk IS NULL THEN 'supplier_only'
            WHEN s.nk IS NULL THEN 'customer_only'
            ELSE 'both' END AS side
FROM c FULL OUTER JOIN s ON c.nk = s.nk
ORDER BY nationkey
"""


@query("q59_full_outer_join", oracle=_Q59_ORACLE)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of per-nation customer vs supplier counts."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_rich_customers"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_cheap_suppliers"))
    )
    side = (
        F.when(F.col("c_nk").isNull(), "supplier_only")
        .when(F.col("s_nk").isNull(), "customer_only")
        .otherwise("both")
    )
    return (
        cust.join(supp, cust.c_nk == supp.s_nk, "full_outer")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            F.coalesce("n_rich_customers", F.lit(0)).alias("n_rich_customers"),
            F.coalesce("n_cheap_suppliers", F.lit(0)).alias("n_cheap_suppliers"),
            side.alias("side"),
        )
        .transform(small_result_order, "nationkey")
    )


# ---------------------------------------------------------------------------
# Q60 — bag-semantics set ops (INTERSECT ALL / EXCEPT ALL), the
# multiplicity-preserving twins Q13's distinct variants don't cover:
# EXCEPT ALL subtracts per-occurrence, INTERSECT ALL keeps
# min(multiplicity). Exercised over nation keys of orders placed by
# high- vs low-balance customers (both bags carry real duplicates).
# Scale: Catalyst plans both as aggregate+join on counted keys — the
# bags never materialize row-per-duplicate through a shuffle.
# ---------------------------------------------------------------------------

_Q60_ORACLE = """
WITH rich AS (
  SELECT c_nationkey AS k FROM customer JOIN orders ON o_custkey = c_custkey
  WHERE c_acctbal > 5000
), poor AS (
  SELECT c_nationkey AS k FROM customer JOIN orders ON o_custkey = c_custkey
  WHERE c_acctbal < 0
)
SELECT 'except_all' AS tag, COUNT(*) AS cnt
  FROM (SELECT k FROM rich EXCEPT ALL SELECT k FROM poor)
UNION ALL
SELECT 'intersect_all', COUNT(*)
  FROM (SELECT k FROM rich INTERSECT ALL SELECT k FROM poor)
ORDER BY tag
"""


@query("q60_set_ops_all", oracle=_Q60_ORACLE)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL multiplicity accounting."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = cust.join(orders, orders.o_custkey == cust.c_custkey)
    rich = joined.filter(F.col("c_acctbal") > 5000).select(F.col("c_nationkey").alias("k"))
    poor = joined.filter(F.col("c_acctbal") < 0).select(F.col("c_nationkey").alias("k"))
    counts = [
        rich.exceptAll(poor).agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit("except_all").alias("tag"), "cnt"
        ),
        rich.intersectAll(poor).agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit("intersect_all").alias("tag"), "cnt"
        ),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out.transform(small_result_order, "tag")


# ---------------------------------------------------------------------------
# Q61 — skew-resistant salted equi-join (operators/skew.salted_join),
# the one §2.2 join that had no driver-checked oracle row (VERDICT r2
# item 6). Events (the skewed fact: every user_id is a hot key relative
# to the 150-customer dim) join the customer dim through an explicit
# salt: the fact side fans out over salt_factor reducers, the dim is
# replicated once per salt value. The result is identical to the plain
# join for ANY salt draw — which is exactly what the DuckDB oracle
# states. Scale: at 100 TB this is the shape for a big-and-skewed fact
# against a too-big-to-broadcast dim; the salt bounds every reducer's
# share of a hot key at 1/salt_factor.
# ---------------------------------------------------------------------------

_Q61_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(ROUND(CAST(SUM(e.value) AS DECIMAL(28,10)), 2) AS DOUBLE) AS total_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
WHERE e.event_type IN ('click', 'purchase')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("q61_salted_skew_join", oracle=_Q61_ORACLE)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join: events fact × customer dim, salt_factor=8."""
    from cdc_example_spark.operators.skew import salted_join

    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(F.col("user_id").alias("k"), F.col("user_id"), F.col("value"))
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    return (
        salted_join(events, dim, on=["k"], salt_factor=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dec2(F.sum("value")).alias("total_value"),
        )
        .transform(small_result_order, "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Q63 — RIGHT OUTER join, exercised from the fact side (VERDICT r3 item
# 4: §2.2 claimed left/right outer on Q5, but Q5 only ever ran
# left/left-anti). orders RIGHT JOIN customer keeps every customer —
# zero-order customers surface with n_orders = 0 — which is exactly the
# asymmetry a right join adds over Q5's shapes. Scale: semantically
# dim-preserving ⋈ fact; Catalyst is free to run it as the mirrored
# LEFT join with sides swapped (same plan cost either way), and the
# grouped agg shuffles only (custkey, segment) partial rows.
# ---------------------------------------------------------------------------

_Q63_ORACLE = """
SELECT c.c_custkey,
       c.c_mktsegment,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(ROUND(CAST(COALESCE(SUM(o.o_totalprice), 0) AS DECIMAL(28,10)), 2) AS DOUBLE) AS total_spend
FROM orders o
RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_mktsegment
ORDER BY c.c_custkey
"""


@query("q63_right_outer_join", oracle=_Q63_ORACLE)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join: per-customer order rollup keeping order-less
    customers (COUNT over the null-extended side counts 0)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right_outer")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dec2(F.coalesce(F.sum("o_totalprice"), F.lit(0.0))).alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q64 — bucketed-lake co-located join (VERDICT r3 item 8: bucketing was
# pytest-only). The query reads orders/customer back through
# sources/lake.write_bucketed tables (32 buckets on the custkey), so
# the join AND the per-custkey aggregate run with ZERO shuffle
# exchanges — the only Exchange in the whole plan is the final ORDER BY
# (tests/test_plan_audit.py pins exactly that). This is the write-once-
# shuffle-never layout that amortizes the single biggest recurring cost
# at 100 TB: re-shuffling the same fact table on the same key for every
# join. The bucketed copies are built once per (session, dataset) into
# a scratch dir — the offline lake-prep step, not part of the measured
# query — and the oracle states the bucketing-invariance contract: the
# result equals the plain join.
# ---------------------------------------------------------------------------

_Q64_ORACLE = """
SELECT c.c_custkey,
       c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(CAST(SUM(o.o_totalprice) AS DECIMAL(28,10)), 2) AS DOUBLE) AS total_spend
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_mktsegment
ORDER BY c.c_custkey
"""

# ---------------------------------------------------------------------------
# Q65 — distribution window functions: percent_rank / cume_dist /
# nth_value, the remaining members of the ranking-window family Q37
# doesn't exercise. Computed per nation over customer balances; all
# three share ONE window spec, so Catalyst plans a single sort+exchange
# for the whole family (same sharing contract the q37 plan audit pins).
# Scale: one key-partitioned shuffle + in-partition sort — the standard
# window cost model; nth_value needs no extra frame pass.
# ---------------------------------------------------------------------------

_Q65_ORACLE = """
SELECT c_custkey,
       c_nationkey,
       CAST(ROUND(CAST(percent_rank() OVER w AS DECIMAL(28,10)), 2) AS DOUBLE) AS pct_rank,
       CAST(ROUND(CAST(cume_dist() OVER w AS DECIMAL(28,10)), 2) AS DOUBLE) AS cume,
       CAST(ROUND(CAST(nth_value(c_acctbal, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS DECIMAL(28,10)), 2) AS DOUBLE) AS third_bal
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_custkey
"""


@query("q65_window_distribution", oracle=_Q65_ORACLE)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / nth_value over one shared window."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_custkey",
        "c_nationkey",
        dec2(F.percent_rank().over(w)).alias("pct_rank"),
        dec2(F.cume_dist().over(w)).alias("cume"),
        dec2(F.nth_value("c_acctbal", 3).over(w_full)).alias("third_bal"),
    ).orderBy("c_custkey")


#: session → {normalized sf_dir → (orders_table, customer_table)}; the
#: bucketed copies outlive the call but die with the session (weak key).
_Q64_TABLES: "weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[str, str]]]" = (
    weakref.WeakKeyDictionary()
)


def _q64_bucketed_tables(spark: SparkSession, sf_dir: str) -> "tuple[str, str]":
    from cdc_example_spark.sources.lake import write_bucketed

    per_session = _Q64_TABLES.setdefault(spark, {})
    key = os.path.normpath(sf_dir)
    if key not in per_session:
        import time as _time

        from cdc_example_spark.queries.registry import record_session_build

        tag = hashlib.sha1(key.encode()).hexdigest()[:8]
        base = tempfile.mkdtemp(prefix=f"cdc_lake_{tag}_")
        names = (f"orders_bkt_{tag}", f"customer_bkt_{tag}")
        t0 = _time.perf_counter()
        write_bucketed(
            load_table(spark, sf_dir, "orders", cache=False),
            names[0],
            os.path.join(base, "orders"),
            "o_custkey",
            32,
        )
        write_bucketed(
            load_table(spark, sf_dir, "customer", cache=False),
            names[1],
            os.path.join(base, "customer"),
            "c_custkey",
            32,
        )
        record_session_build("bucketed_lake_write", _time.perf_counter() - t0)
        per_session[key] = names
    return per_session[key]


@query("q64_bucketed_colocated_join", oracle=_Q64_ORACLE)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-exchange join + agg over same-spec bucketed tables.

    ``hint("merge")`` keeps the join sort-merge: a broadcast would be
    locally fine but has no exchange to elide — the point is the
    bucket-co-location proof. The per-custkey aggregate rides the same
    partitioning (HashPartitioning(custkey, 32) satisfies the grouping
    distribution), so partial == final agg with no shuffle between.
    """
    from cdc_example_spark.sources.lake import read_bucketed

    ot, ct = _q64_bucketed_tables(spark, sf_dir)
    orders = read_bucketed(spark, ot).hint("merge")
    cust = read_bucketed(spark, ct).hint("merge")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec2(F.sum("o_totalprice")).alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q71 — event funnel (signup → click → purchase, strict temporal order):
# the sequence-matching analytics staple. Spark side is the
# sequence-native shape: ONE shuffle builds each user's time-ordered
# event list (sort_array over collect_list of packed structs), then a
# single codegen F.aggregate fold walks it carrying (t1, t2, t3) —
# earliest signup, earliest click after t1, earliest purchase after t2.
# The oracle reaches the same semantics through a 3-level min-join
# chain — different algorithm, same answer, which is exactly what a
# cross-engine hash check should pin. Scale: one exchange on user_id,
# fold state is 3 timestamps per user; the join-chain alternative
# shuffles the events table three times.
# ---------------------------------------------------------------------------

_Q71_ORACLE = """
WITH s AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), c AS (
  SELECT s.user_id, s.t1, MIN(e.ts) AS t2
  FROM s JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'click' AND e.ts > s.t1
  GROUP BY s.user_id, s.t1
), p AS (
  SELECT c.user_id, c.t1, MIN(e.ts) AS t3
  FROM c JOIN events e
    ON e.user_id = c.user_id AND e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY c.user_id, c.t1
)
SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_signup,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_after,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_after,
       CAST(ROUND(CAST((SELECT AVG(date_diff('microsecond', t1, t3)) / 3600e6 FROM p)
            AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_hours_to_purchase
"""


@query("q71_event_funnel", oracle=_Q71_ORACLE)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel counts + mean signup→purchase latency."""
    ev = load_table(spark, sf_dir, "events")
    # pack (ts_micros, type_code) into one sortable struct; the fold
    # needs only these two fields, so nothing else crosses the shuffle
    code = (
        F.when(F.col("event_type") == "signup", 0)
        .when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "purchase", 2)
    )
    seqs = (
        ev.select("user_id", F.unix_micros("ts").alias("t"), code.alias("c"))
        .filter(F.col("c").isNotNull())
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct("t", "c"))).alias("evs"))
    )
    # fold: acc = (t1, t2, t3) as nullable longs
    zero = F.struct(
        F.lit(None).cast("long").alias("t1"),
        F.lit(None).cast("long").alias("t2"),
        F.lit(None).cast("long").alias("t3"),
    )

    def step(acc, e):
        upd_t1 = acc["t1"].isNull() & (e["c"] == 0)
        upd_t2 = acc["t2"].isNull() & (e["c"] == 1) & acc["t1"].isNotNull() & (e["t"] > acc["t1"])
        upd_t3 = acc["t3"].isNull() & (e["c"] == 2) & acc["t2"].isNotNull() & (e["t"] > acc["t2"])
        return F.struct(
            F.when(upd_t1, e["t"]).otherwise(acc["t1"]).alias("t1"),
            F.when(upd_t2, e["t"]).otherwise(acc["t2"]).alias("t2"),
            F.when(upd_t3, e["t"]).otherwise(acc["t3"]).alias("t3"),
        )

    folded = seqs.select(F.aggregate("evs", zero, step).alias("f"))
    return folded.agg(
        F.count(F.col("f.t1")).alias("n_signup"),
        F.count(F.col("f.t2")).alias("n_click_after"),
        F.count(F.col("f.t3")).alias("n_purchase_after"),
        dec2(F.avg((F.col("f.t3") - F.col("f.t1")) / F.lit(3600e6))).alias(
            "avg_hours_to_purchase"
        ),
    )


# ---------------------------------------------------------------------------
# q72 — cohort retention: users grouped by first-seen week, activity
# tracked as distinct (user, week) pairs, reported per (cohort_week,
# week_offset). The classic growth-analytics matrix. Spark: one agg for
# first-seen, one distinct for activity, an equi-join on user_id (both
# sides already hash-partitioned on it — no extra exchange), final
# count per cell. Scale: everything keys on user_id until the final
# group-cardinality agg; no broadcast of anything user-sized.
# ---------------------------------------------------------------------------

_Q72_ORACLE = """
WITH f AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cw FROM events GROUP BY user_id
), a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events
)
SELECT STRFTIME(f.cw, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('week', f.cw, a.aw) AS BIGINT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_active
FROM f JOIN a ON a.user_id = f.user_id
GROUP BY f.cw, week_offset
ORDER BY cohort_week, week_offset
"""


@query("q72_cohort_retention", oracle=_Q72_ORACLE)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-user counts per (first-seen cohort week, week offset)."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cw"))
    active = ev.select("user_id", wk.alias("aw")).distinct()
    return (
        first.join(active, "user_id")
        .groupBy(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            # week offsets between week-truncated timestamps are whole
            # 7-day spans, so integer day arithmetic is exact
            (F.datediff(F.col("aw"), F.col("cw")) / 7).cast("long").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .transform(small_result_order, "cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# q74 — ntile decile profile of customer spend: the remaining ranking
# window function the q09/q37/q65 family didn't cover, exercised as the
# RFM-style bucketing everyone builds with it. One shuffle for the
# per-customer agg, one window exchange for the global decile split
# (inherent to a GLOBAL ntile: the spec has no partition key; the
# per-decile rollup after it is partial-aggregated).
# ---------------------------------------------------------------------------

_Q74_ORACLE = """
WITH spend AS (
  SELECT o_custkey, SUM(o_totalprice) AS total FROM orders GROUP BY o_custkey
), tiled AS (
  SELECT o_custkey, total,
         NTILE(10) OVER (ORDER BY total DESC, o_custkey) AS decile
  FROM spend
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(ROUND(CAST(MIN(total) AS DECIMAL(28,10)), 2) AS DOUBLE) AS min_spend,
       CAST(ROUND(CAST(MAX(total) AS DECIMAL(28,10)), 2) AS DOUBLE) AS max_spend,
       CAST(ROUND(CAST(SUM(total) AS DECIMAL(28,10)), 2) AS DOUBLE) AS decile_spend
FROM tiled GROUP BY decile ORDER BY decile
"""


@query("q74_ntile_deciles", oracle=_Q74_ORACLE)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(10) spend deciles with per-decile min/max/sum."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("total"))
    w = Window.orderBy(F.col("total").desc(), F.col("o_custkey"))
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec2(F.min("total")).alias("min_spend"),
            dec2(F.max("total")).alias("max_spend"),
            dec2(F.sum("total")).alias("decile_spend"),
        )
        .transform(small_result_order, "decile")
    )


# ---------------------------------------------------------------------------
# q77 — trailing-window anomaly detection: per (event_type, hour) event
# counts z-scored against the same stream's previous 24 hours (ROWS
# BETWEEN 24 PRECEDING AND 1 PRECEDING — the baseline excludes the
# scored hour, the standard leave-current-out monitor). Rows with
# fewer than 12 trailing hours are suppressed (cold-start noise, and
# the filter is exact-integer so both engines cut identically). Scale:
# one (type, hour) partial agg, one window exchange keyed by type —
# per-type streams window independently; nothing global.
# ---------------------------------------------------------------------------

_Q77_ORACLE = """
WITH hc AS (
  SELECT event_type,
         STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), z AS (
  SELECT event_type, hour, cnt,
         COUNT(*)      OVER w AS n_prev,
         AVG(cnt)      OVER w AS mean_prev,
         STDDEV_SAMP(cnt) OVER w AS sd_prev
  FROM hc
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, CAST(cnt AS BIGINT) AS cnt,
       CAST(ROUND(CAST((cnt - mean_prev) / sd_prev AS DECIMAL(28,10)), 2) AS DOUBLE) AS zscore,
       ABS((cnt - mean_prev) / sd_prev) > 2 AS is_anomaly
FROM z
WHERE n_prev >= 12 AND sd_prev > 0 AND ABS((cnt - mean_prev) / sd_prev) > 1.5
ORDER BY event_type, hour
"""


@query("q77_hourly_anomalies", oracle=_Q77_ORACLE)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose event count z-scores > 1.5 vs their trailing 24 h."""
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type", hour_str(F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    z = (F.col("cnt") - F.avg("cnt").over(w)) / F.stddev_samp("cnt").over(w)
    out = hc.select(
        "event_type",
        "hour",
        "cnt",
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.stddev_samp("cnt").over(w).alias("sd_prev"),
        z.alias("z"),
    )
    return (
        out.filter(
            (F.col("n_prev") >= 12) & (F.col("sd_prev") > 0) & (F.abs("z") > 1.5)
        )
        .select(
            "event_type",
            "hour",
            "cnt",
            dec2(F.col("z")).alias("zscore"),
            (F.abs("z") > 2).alias("is_anomaly"),
        )
        .transform(small_result_order, "event_type", "hour")
    )


# ---------------------------------------------------------------------------
# q78 — resample + gap interpolation: regularize each event_type's
# stream onto a full hourly spine (sequence from its first to its last
# hour) and linearly interpolate the missing hours from the nearest
# observed neighbors — the time-series regularization every monitoring
# / feature pipeline runs before a model sees the data. Spark surface
# exercised: `F.sequence` spine generation off a group-cardinality agg,
# IGNORE-NULLS `last`/`first` window fills in both directions, and
# exact integer hour arithmetic so the interpolation weights replay
# identically in SQL. Scale: spine size = hours×types (calendar-bounded,
# not data-bounded); the only data-sized ops are the hourly pre-agg and
# one window exchange per direction on the type key.
# ---------------------------------------------------------------------------

_Q78_ORACLE = """
WITH hc AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT event_type, UNNEST(generate_series(MIN(h), MAX(h), INTERVAL 1 HOUR)) AS h
  FROM hc GROUP BY event_type
), j AS (
  SELECT s.event_type, s.h, hc.cnt FROM spine s
  LEFT JOIN hc ON hc.event_type = s.event_type AND hc.h = s.h
), f AS (
  SELECT event_type, h, cnt,
         last_value(cnt IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN cnt IS NOT NULL THEN h END IGNORE NULLS) OVER wb AS ph,
         first_value(cnt IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN cnt IS NOT NULL THEN h END IGNORE NULLS) OVER wf AS nh
  FROM j
  WINDOW wb AS (PARTITION BY event_type ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY event_type ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS hour,
       cnt IS NULL AS was_missing,
       CAST(ROUND(CAST(
         CASE
           WHEN cnt IS NOT NULL THEN CAST(cnt AS DOUBLE)
           WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
           WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
           ELSE pv + (nv - pv)
                * (date_diff('hour', ph, h) * 1.0 / date_diff('hour', ph, nh))
         END AS DECIMAL(28,10)), 2) AS DOUBLE) AS cnt_filled
FROM f
ORDER BY event_type, hour
"""


@query("q78_resample_interpolate", oracle=_Q78_ORACLE)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly spine per event_type with linear interpolation of gaps."""
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    spine = (
        hc.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    j = spine.join(hc, ["event_type", "h"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("cnt").isNotNull(), F.col("h"))
    f = j.select(
        "event_type",
        "h",
        "cnt",
        F.last("cnt", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(wb).alias("ph"),
        F.first("cnt", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(wf).alias("nh"),
    )
    hours_between = lambda a, b: (  # noqa: E731 — exact integer hours
        (F.unix_timestamp(b) - F.unix_timestamp(a)) / 3600
    ).cast("long")
    filled = (
        F.when(F.col("cnt").isNotNull(), F.col("cnt").cast("double"))
        .when(F.col("pv").isNull(), F.col("nv").cast("double"))
        .when(F.col("nv").isNull(), F.col("pv").cast("double"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                hours_between(F.col("ph"), F.col("h"))
                * F.lit(1.0)
                / hours_between(F.col("ph"), F.col("nh"))
            )
        )
    )
    return (
        f.select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("cnt").isNull().alias("was_missing"),
            dec2(filled).alias("cnt_filled"),
        )
        .transform(small_result_order, "event_type", "hour")
    )


# ---------------------------------------------------------------------------
# q79 — PageRank over the customer→supplier procurement graph, 5
# power iterations unrolled (operators/graph.pagerank). Influence
# scoring over a derived relationship graph is the canonical
# beyond-SQL iterative workload; the FIXED unroll keeps it a
# deterministic dataflow, so the oracle is the identically-unrolled
# chain of CTEs (generated, one level per iteration). Ordering rides
# the ROUNDED rank (q69's trick) so cross-engine ulp drift in the
# 5-deep float chain can't reorder near-ties.
# ---------------------------------------------------------------------------


def _q79_oracle(iters: int = 5, damping: float = 0.85) -> str:
    levels = []
    prev = "r0"
    for t in range(1, iters + 1):
        levels.append(
            f"""r{t} AS (
  SELECT n.id,
         {1.0 - damping} + {damping} * COALESCE(SUM(r.pr / o.deg), 0) AS pr
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.id
  LEFT JOIN {prev} r ON r.id = e.src
  LEFT JOIN outdeg o ON o.src = e.src
  GROUP BY n.id
)"""
        )
        prev = f"r{t}"
    joined = ",\n".join(levels)
    return f"""
WITH edges AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), nodes AS (
  SELECT src AS id FROM edges UNION SELECT dst FROM edges
), outdeg AS (
  SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src
), r0 AS (
  SELECT id, 1.0 AS pr FROM nodes
),
{joined}
SELECT id AS node_id,
       CAST(ROUND(CAST(pr AS DECIMAL(28,10)), 2) AS DOUBLE) AS pagerank
FROM {prev}
ORDER BY pagerank DESC, node_id
LIMIT 20
"""


@query("q79_pagerank", oracle=_q79_oracle())
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank nodes of the distinct customer→supplier graph."""
    from cdc_example_spark.operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    ranks = pagerank(edges, iters=5)
    return (
        ranks.select(
            F.col("id").alias("node_id"), dec2(F.col("pr")).alias("pagerank")
        )
        .orderBy(F.col("pagerank").desc(), "node_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q92 — SCD2 dimension history from the event changelog: the classic
# CDC-downstream materialization the reference's last-write-wins map
# deliberately discards (its keyed state keeps only the CURRENT row per
# id — src/main/resources/static/index.html:202-216; history is
# dropped at apply time, operators/keyed_state.py keeps the same
# contract). SCD2 retains it: per business key (user_id), collapse
# consecutive runs of the tracked attribute (event_type) into
# versions, then derive [valid_from, valid_to) intervals with a lead()
# — the type-2 slowly-changing-dimension build every warehouse runs on
# top of a Debezium feed. Two window passes over the SAME
# (user_id)-partitioning — Catalyst plans ONE Exchange reused by both
# sorts, so at 100 TB the build costs a single shuffle of the
# changelog, which is the floor for any per-key ordering. Run
# collapsing uses lag() != current (deterministic: ties broken by
# event_id, unique), never a self-join. Output is the bounded
# (attribute x currency) version summary; durations compare in exact
# integer microseconds before the one dec2 at the end.
# ---------------------------------------------------------------------------

_Q92_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), versions AS (
  SELECT user_id, event_type, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM ordered
  WHERE prev IS NULL OR prev <> event_type
)
SELECT event_type,
       (valid_to IS NULL) AS is_current,
       CAST(COUNT(*) AS BIGINT) AS n_versions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(ROUND(CAST(AVG((epoch_us(valid_to) - epoch_us(valid_from)) / 1000000.0)
                       AS DECIMAL(28,10)), 2) AS DOUBLE) AS avg_version_sec,
       strftime(MIN(valid_from), '%Y-%m-%d %H:%M:%S') AS first_valid_from
FROM versions
GROUP BY event_type, is_current
ORDER BY event_type, is_current
"""


@query("q92_scd2_history", oracle=_Q92_ORACLE)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 version summary: run-collapsed event_type versions per user
    with lead()-derived validity intervals, grouped by (attribute,
    currency)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            "event_id",
            # second window over the SAME partitioning/ordering: the
            # run-collapse filter is row-local, so Catalyst reuses the
            # one user_id exchange for this sort too
            F.lead("ts")
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("valid_to"),
        )
    )
    return (
        versions.groupBy(
            "event_type", F.col("valid_to").isNull().alias("is_current")
        )
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.countDistinct("user_id").alias("n_users"),
            dec2(
                F.avg(
                    (F.unix_micros("valid_to") - F.unix_micros("valid_from"))
                    / 1000000.0
                )
            ).alias("avg_version_sec"),
            F.date_format(F.min("valid_from"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_valid_from"
            ),
        )
        .transform(small_result_order, "event_type", "is_current")
    )
