"""Core relational operator surface (SURVEY.md §2.4).

The reference has no relational layer (its one predicate is the NoData
mask, ufunc/_base.py:51-75); this module is the [extension] surface
mandated by BASELINE.json, expressed purely with DataFrame built-ins so
Catalyst keeps pushdown/pruning/codegen.

Scale notes (100 TB design point), per query below:
- dim joins (region/nation/supplier/part/customer) are planned by
  size: a dim under the session's broadcast threshold is broadcast (no
  shuffle of the fact side), a larger one (customer at scale) is a
  shuffle join;
- fact-fact joins (orders x lineitem) are shuffle joins on the join key;
  AQE handles skew. At 100 TB the right move is bucketing both tables
  by orderkey at write time — the plan here is bucketing-compatible
  (plain equi-join, no expression on the key);
- aggregates are hash aggregates with map-side partial aggregation
  (automatic); DECIMAL sums keep them order-independent and exact.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table


def dec(c: str | Column, prec: int = 18, scale: int = 2) -> Column:
    """Cast to decimal so sums are exact and order-independent."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({prec},{scale})")


def dsum(col: Column, alias: str) -> Column:
    return F.sum(col).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# q01 — pricing summary (TPC-H Q1 analog): scan -> filter -> hash agg
# ---------------------------------------------------------------------------

@query(
    "q01_pricing_summary",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) * CAST(1 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship: scan→filter→hash-agg with exact decimal sums; the Spark "
        "dual of the reference's masked-reduction dataflow (SURVEY.md M0).",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    ep, disc, tax, qty = dec("l_extendedprice"), dec("l_discount"), dec("l_tax"), dec("l_quantity")
    one_minus_disc = dec(F.lit(1.0) - F.col("l_discount"))
    one_plus_tax = dec(F.lit(1.0) + F.col("l_tax"))
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(qty, "sum_qty"),
            dsum(ep, "sum_base_price"),
            dsum(ep * one_minus_disc, "sum_disc_price"),
            dsum(ep * one_minus_disc * one_plus_tax, "sum_charge"),
            (F.sum(qty).cast("double") / cnt).alias("avg_qty"),
            (F.sum(ep).cast("double") / cnt).alias("avg_price"),
            (F.sum(disc).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q02 — projection + filter pushdown (row-level, no aggregation)
# ---------------------------------------------------------------------------

@query(
    "q02_filter_project",
    oracle="""
    SELECT
        l_orderkey,
        l_linenumber,
        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Projection+filter; both predicates and the 5-column ReadSchema must "
        "reach the parquet scan (PushedFilters).",
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (dec("l_extendedprice") * dec(F.lit(1.0) - F.col("l_discount"))).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q03 — shipping priority (TPC-H Q3 analog): fact-fact shuffle join + top-k
# ---------------------------------------------------------------------------

@query(
    "q03_top_revenue_orders",
    oracle="""
    SELECT
        l.l_orderkey AS o_orderkey,
        o.o_orderdate,
        CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="customer ⋈ orders ⋈ lineitem join, hash agg, "
        "top-10 with unique tie-break (TakeOrderedAndProject).",
)
def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    ep, disc = dec("l_extendedprice"), dec(F.lit(1.0) - F.col("l_discount"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy(li.l_orderkey.alias("o_orderkey"), "o_orderdate")
        .agg(dsum(ep * disc, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q04 — semi-join + agg (TPC-H Q4 analog)
# ---------------------------------------------------------------------------

@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    """,
    doc="LEFT SEMI join (EXISTS) then hash agg; semi-join avoids "
        "materializing the multiplicity of lineitem.",
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q05 — multi-way join across four dims (TPC-H Q5 analog)
# ---------------------------------------------------------------------------

@query(
    "q05_local_supplier_volume",
    oracle="""
    SELECT
        n.n_name,
        CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    doc="6-table join: one fact-fact shuffle join (orders⋈lineitem), "
        "four dim joins; region filter prunes before the join.",
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    ep, disc = dec("l_extendedprice"), dec(F.lit(1.0) - F.col("l_discount"))
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(ep * disc, "revenue"))
    )


# ---------------------------------------------------------------------------
# q06 — single-value filter+sum (TPC-H Q6)
# ---------------------------------------------------------------------------

@query(
    "q06_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Pure scan+filter+global-sum; everything pushes to the scan.",
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(dec("l_extendedprice") * dec("l_discount"), "revenue"))
    )


# ---------------------------------------------------------------------------
# q07 — dim snowflake join
# ---------------------------------------------------------------------------

@query(
    "q07_customers_per_region",
    oracle="""
    SELECT
        r.r_name,
        COUNT(*) AS n_customers,
        CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="Snowflake dim joins (nation, region are tiny at every sf).",
)
def q07_customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(dec("c_acctbal"), "total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q08/q09 — semi / anti joins (row-level results)
# ---------------------------------------------------------------------------

@query(
    "q08_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
    doc="LEFT SEMI join; at scale this shuffles only distinct keys.",
)
def q08_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q09_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders
        WHERE o_orderstatus = 'F' AND o_custkey IS NOT NULL
    )
    """,
    doc="LEFT ANTI join (NOT EXISTS): customers with no finished orders.",
)
def q09_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# q10 — returned-item revenue per customer, top 20 (TPC-H Q10 analog)
# ---------------------------------------------------------------------------

@query(
    "q10_returned_item_revenue",
    oracle="""
    SELECT
        c.c_custkey,
        c.c_name,
        n.n_name,
        CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="Join + agg + deterministic top-20.",
)
def q10_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = read_table(spark, sf_dir, "nation")
    ep, disc = dec("l_extendedprice"), dec(F.lit(1.0) - F.col("l_discount"))
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(ep * disc, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q11 — distinct aggregation
# ---------------------------------------------------------------------------

@query(
    "q11_distinct_segments_per_nation",
    oracle="""
    SELECT
        c_nationkey,
        CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
        COUNT(*) AS n_customers
    FROM customer
    GROUP BY c_nationkey
    """,
    doc="Exact COUNT DISTINCT (expand+two-phase agg in Spark).",
)
def q11_distinct_segments_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count_distinct("c_mktsegment").alias("n_segments"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@query(
    "q39_stat_aggregates",
    oracle="""
    SELECT
        o_orderstatus,
        ROUND(MEDIAN(o_totalprice), 4) AS median_price,
        ROUND(QUANTILE_CONT(o_totalprice, 0.25), 4) AS p25_price,
        ROUND(QUANTILE_CONT(o_totalprice, 0.75), 4) AS p75_price,
        ROUND(STDDEV_SAMP(o_totalprice), 2) AS std_price,
        ROUND(CORR(o_totalprice, o_custkey), 6) AS price_cust_corr
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Ordered-set + moment aggregates: exact interpolated median/"
        "quantiles, sample stddev, correlation. Rounded on both sides "
        "(moment aggregates accumulate in engine-specific order).",
)
def q39_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.median("o_totalprice"), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75_price"),
        F.round(F.stddev_samp("o_totalprice"), 2).alias("std_price"),
        F.round(F.corr("o_totalprice", "o_custkey"), 6).alias("price_cust_corr"),
    )


@query(
    "q36_sort_merge_join",
    oracle="""
    SELECT
        o.o_orderstatus,
        COUNT(*) AS n_items,
        CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    """,
    doc="Fact-fact join pinned to SORT-MERGE via the MERGE hint — the "
        "strategy this join takes at 100 TB where neither side fits a "
        "broadcast (at test scale AQE would otherwise demote it). The "
        "equi-join key is bucketing-compatible: writing both tables "
        "bucketed by orderkey removes the shuffle entirely.",
)
def q36_sort_merge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(dec("l_extendedprice"), "total_price"),
        )
    )


@query(
    "q37_ranking_functions",
    oracle="""
    SELECT
        o_custkey,
        o_orderkey,
        CAST(RANK() OVER w AS INTEGER) AS price_rank,
        CAST(DENSE_RANK() OVER w AS INTEGER) AS price_dense_rank,
        CAST(NTILE(4) OVER w AS INTEGER) AS price_quartile,
        ROUND(PERCENT_RANK() OVER w, 6) AS price_pct_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Ranking-window family: rank / dense_rank / ntile / "
        "percent_rank over a deterministic ordering.",
)
def q37_ranking_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
    )


@query(
    "q32_approx_count_distinct",
    doc="HyperLogLog++ approximate distinct counts per nation (the "
        "scale path for cardinality: one pass, fixed memory, no "
        "expand). Rows-only: HLL sketches differ across engines by "
        "design; the exact dual is q11.",
)
def q32_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# q12/q13/q14 — rollup / cube / grouping sets
# ---------------------------------------------------------------------------

@query(
    "q12_rollup_order_status",
    oracle="""
    SELECT
        o_orderpriority,
        o_orderstatus,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    doc="ROLLUP hierarchy totals: per (priority, status), per priority, grand total — one shuffle, grouping-id expansion.",
)
def q12_rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(dec("o_totalprice"), "total_price"),
    )


@query(
    "q13_cube_returnflag_status",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        COUNT(*) AS n_items,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over two dims: all four grouping-set combinations from a single scan via grouping-id expansion.",
)
def q13_cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(dec("l_quantity"), "total_qty"),
    )


@query(
    "q14_grouping_sets",
    oracle="""
    SELECT
        c_nationkey,
        c_mktsegment,
        COUNT(*) AS n_customers
    FROM customer
    GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment))
    """,
    doc="Explicit GROUPING SETS with GROUPING() disambiguation of NULL group keys vs NULL data.",
)
def q14_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment))
        """
    )


# ---------------------------------------------------------------------------
# q15/q16 — window functions
# ---------------------------------------------------------------------------

@query(
    "q15_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT
            o_custkey, o_orderkey, o_totalprice,
            ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
    doc="Ranking window: top-3 per group via row_number (shuffle on "
        "partition key only; no global sort).",
)
def q15_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "q16_running_totals",
    oracle="""
    SELECT
        o_custkey,
        o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        LAG(o_totalprice) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        LEAD(o_totalprice) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
    FROM orders
    """,
    doc="Frame window (running decimal sum) + lag/lead.",
)
def q16_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = read_table(spark, sf_dir, "orders")
    order_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(frame_w).cast("double").alias("running_total"),
        F.lag("o_totalprice").over(order_w).alias("prev_price"),
        F.lead("o_totalprice").over(order_w).alias("next_price"),
    )


# ---------------------------------------------------------------------------
# q17 — global top-k (TakeOrderedAndProject)
# ---------------------------------------------------------------------------

@query(
    "q17_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15
    """,
    doc="Global top-k; Catalyst rewrites sort+limit to TakeOrderedAndProject "
        "(per-partition heap + driver merge, no full sort).",
)
def q17_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# q18 — set operations
# ---------------------------------------------------------------------------

@query(
    "q18_set_ops",
    oracle="""
    SELECT 'both' AS op, n_nationkey FROM (
        SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
        INTERSECT
        SELECT DISTINCT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'customer_only' AS op, n_nationkey FROM (
        SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
        EXCEPT
        SELECT DISTINCT s_nationkey FROM supplier
    )
    """,
    doc="INTERSECT / EXCEPT / UNION ALL in one result.",
)
def q18_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey")).distinct()
    s = read_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey")).distinct()
    both = c.intersect(s).select(F.lit("both").alias("op"), "n_nationkey")
    only = c.exceptAll(s).select(F.lit("customer_only").alias("op"), "n_nationkey")
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# q19 — scalar subquery / above-average (decorrelated as join)
# ---------------------------------------------------------------------------

@query(
    "q19_orders_above_customer_avg",
    oracle="""
    WITH cust_avg AS (
        SELECT
            o_custkey,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        FROM orders GROUP BY o_custkey
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    JOIN cust_avg a ON o.o_custkey = a.o_custkey
    WHERE o.o_totalprice > a.avg_price * 1.5
    """,
    doc="Correlated 'above own average' predicate, decorrelated into a "
        "self-agg join (what Catalyst's subquery decorrelation produces).",
)
def q19_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    avg = o.groupBy("o_custkey").agg(
        (F.sum(dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias("avg_price")
    ).withColumnRenamed("o_custkey", "a_custkey")
    return (
        o.join(avg, o.o_custkey == avg.a_custkey)
        .filter(F.col("o_totalprice") > F.col("avg_price") * 1.5)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# q20 — range (non-equi) join
# ---------------------------------------------------------------------------

@query(
    "q20_price_band_join",
    oracle="""
    SELECT b.band_name, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM part p
    JOIN (
        SELECT 'low' AS band_name, 0.0 AS lo, 950.0 AS hi
        UNION ALL SELECT 'mid', 950.0, 980.0
        UNION ALL SELECT 'high', 980.0, 100000.0
    ) b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band_name
    """,
    doc="Theta/range join against a tiny band table (BNLJ).",
)
def q20_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(pd.DataFrame(
        [("low", 0.0, 950.0), ("mid", 950.0, 980.0), ("high", 980.0, 100000.0)],
        columns=["band_name", "lo", "hi"],
    ))
    return (
        p.join(bands, (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi))
        .groupBy("band_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum(dec("p_retailprice"), "total_price"),
        )
    )


@query(
    "q83_full_outer_join",
    oracle="""
    WITH big AS (
        SELECT c_custkey FROM customer WHERE c_acctbal > 6000
    ), recent AS (
        SELECT o_custkey, COUNT(*) AS n_recent
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        GROUP BY o_custkey
    )
    SELECT
        COALESCE(b.c_custkey, r.o_custkey) AS custkey,
        (b.c_custkey IS NOT NULL) AS is_high_balance,
        COALESCE(r.n_recent, 0) AS n_recent
    FROM big b
    FULL OUTER JOIN recent r ON b.c_custkey = r.o_custkey
    """,
    doc="FULL OUTER join with both null sides populated (high-balance "
        "customers without recent orders, recently-active customers "
        "below the balance cut): the one join shape the rest of the "
        "registry lacks. Shuffled SMJ (full outer cannot broadcast "
        "or build single-sided); COALESCE key reconstruction.",
)
def q83_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    big = c.filter(F.col("c_acctbal") > 6000).select("c_custkey")
    recent = (
        o.filter(F.col("o_orderdate") >= "2000-01-01")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_recent"))
    )
    return big.join(recent, big.c_custkey == recent.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_custkey").isNotNull().alias("is_high_balance"),
        F.coalesce("n_recent", F.lit(0)).alias("n_recent"),
    )
