"""Execution-surface extensions: vectorized grouped-agg UDAF,
value-range window frames, Python UDTF driven through SQL LATERAL.

Each exercises a DISTINCT executor path the rest of the registry does
not: Arrow-batched grouped aggregation (SQL_GROUPED_AGG_PANDAS_UDF),
RangeFrame (value-based window bounds, deterministic under duplicate
order keys where row frames are not), and the Python user-defined
table function channel (one input row -> N output rows, evaluated in
a lateral join position).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table, register_temp_views


@query(
    "q76_grouped_agg_pandas_udaf",
    oracle="""
    SELECT lang,
           CAST(MEDIAN(n_chars) AS DOUBLE) AS median_chars,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang
    """,
    doc="Vectorized grouped-agg UDAF (SQL_GROUPED_AGG_PANDAS_UDF): "
        "per-language median document length via Arrow-batched pandas "
        "aggregations (Spark disallows mixing pandas and JVM "
        "aggregates in one agg, so the count is a pandas UDAF too). "
        "Median of integers is exact in both engines (.5 "
        "interpolation is representable), so the oracle hash-matches "
        "— UDAF results are not approximations.",
)
def q76_grouped_agg_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the UDAFs live in _pandas_udafs.py (no `from __future__ import
    # annotations` there), so pandas_udf infers GROUPED_AGG from the
    # real pd.Series hints instead of the deprecated PandasUDFType enum
    from sklearn_raster_spark.operators._pandas_udafs import count_udaf, median_chars_udaf

    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        median_chars_udaf("n_chars").alias("median_chars"),
        count_udaf("n_chars").alias("n_docs"),
    )


TRAILING_DAYS = 90


@query(
    "q77_range_interval_window",
    oracle=f"""
    SELECT o_orderkey,
           o_custkey,
           COUNT(*) OVER w AS trailing_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28, 10))) OVER w AS DOUBLE)
               AS trailing_spend
    FROM orders
    WINDOW w AS (
        PARTITION BY o_custkey ORDER BY o_orderdate
        RANGE BETWEEN INTERVAL {TRAILING_DAYS} DAYS PRECEDING AND CURRENT ROW
    )
    """,
    doc="Value-range window frame: per-customer trailing-90-day order "
        "count and spend. RANGE frames bound by VALUE distance (epoch "
        "seconds in Spark, INTERVAL in DuckDB — same peer sets), so "
        "results are deterministic even when order dates tie — the "
        "property ROWS frames lack. Decimal sum keeps the float "
        "addition order-independent across engines.",
)
def q77_range_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-TRAILING_DAYS * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("trailing_n"),
        F.sum(F.col("o_totalprice").cast("decimal(28,10)"))
        .over(w)
        .cast("double")
        .alias("trailing_spend"),
    )


@query(
    "q78_udtf_lateral_trigrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS pos,
           ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS trigram
    FROM toks, UNNEST(RANGE(1, LEN(ws) - 1)) AS t(i)
    """,
    doc="Python UDTF in a SQL LATERAL position: one document row fans "
        "out to one row per word trigram (pos, trigram). Exercises the "
        "user-defined TABLE function channel — N output rows per input "
        "row from Python, joined laterally — distinct from scalar "
        "UDFs (q40) and grouped-map kernels (q59). The oracle "
        "replicates the fan-out with UNNEST(RANGE(...)).",
)
def q78_udtf_lateral_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, trigram: string", useArrow=True)
    class Trigrams:
        def eval(self, doc_id: int, text: str):
            if text is None:
                # NULL doc -> no trigrams, matching the oracle where
                # STRING_SPLIT(NULL) makes RANGE(...) NULL and the
                # lateral UNNEST emits zero rows (random-instance fuzz)
                return
            ws = text.split(" ")
            for i in range(len(ws) - 2):
                yield i + 1, " ".join(ws[i : i + 3])

    spark.udtf.register("trigrams_udtf", Trigrams)
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.trigram
        FROM documents d, LATERAL trigrams_udtf(d.doc_id, d.text) t
        """
    )


@query(
    "q79_zorder_layout",
    oracle=None,  # set below: the oracle is generated from the same formula
    doc="Z-order (Morton) clustering key over the engine's (y, x) "
        "coordinate grid (plans/zorder.py): bit-interleaved JVM "
        "arithmetic, no UDF. The oracle evaluates the IDENTICAL "
        "generated formula in DuckDB, so a hash match proves the "
        "interleave bit-for-bit. At rest, repartitionByRange on this "
        "key + a sorted write is what makes 2-D window predicates "
        "prune files at scan time (pytest asserts the locality).",
)
def q79_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.plans.zorder import zvalue

    emb = read_table(spark, sf_dir, "embeddings")
    grid = emb.select(
        "vec_id",
        (F.col("vec_id") / 50).cast("long").alias("y"),
        F.pmod(F.col("vec_id"), F.lit(50)).cast("long").alias("x"),
    )
    return (
        grid.select("vec_id", "y", "x", zvalue(F.col("y"), F.col("x")).alias("z"))
        .filter(F.col("z") < 4096)  # the first 64x64 Z-block
    )


def _q79_oracle() -> str:
    from sklearn_raster_spark.plans.zorder import zvalue_sql

    formula = zvalue_sql("y", "x")
    return f"""
    WITH grid AS (
        SELECT vec_id,
               CAST(vec_id // 50 AS BIGINT) AS y,
               CAST(vec_id % 50 AS BIGINT) AS x
        FROM embeddings
    )
    SELECT vec_id, y, x, ({formula}) AS z
    FROM grid
    WHERE ({formula}) < 4096
    """


# patch the registered oracle with the generated SQL (kept out of the
# decorator so the Spark and DuckDB sides share one formula builder)
from sklearn_raster_spark.plans.registry import REGISTRY as _REG
from dataclasses import replace as _replace

_REG["q79_zorder_layout"] = _replace(_REG["q79_zorder_layout"], oracle=_q79_oracle())


@query(
    "q133_skyline_parts",
    oracle="""
    WITH cells AS (
        SELECT p_retailprice AS price, p_size AS psize, COUNT(*) AS n_parts
        FROM part GROUP BY 1, 2
    )
    SELECT price, psize, n_parts
    FROM cells a
    WHERE NOT EXISTS (
        SELECT 1 FROM cells b
        WHERE b.price <= a.price AND b.psize >= a.psize
          AND (b.price < a.price OR b.psize > a.psize)
    )
    """,
    doc="Skyline (Pareto-frontier) query: parts not dominated on "
        "(price low, size high) — the multi-objective filter behind "
        "'best trade-off' selection (quality-vs-length data filtering "
        "uses the identical shape). Scale design: dominance is "
        "decided on DISTINCT (price, size) CELLS, not rows — the "
        "aggregate-then-refine trick bounds the dominance step by the "
        "VALUE DOMAIN (|prices| x |sizes|), independent of row count; "
        "and on the 2-D cells no quadratic test runs at all: keep the "
        "max size per price, then one cumulative-max window over "
        "ascending price marks exactly the non-dominated staircase "
        "(a cell survives iff its size strictly exceeds every "
        "cheaper price's max). Two tiny windows replace the oracle's "
        "NOT EXISTS self-join; identical result, hash-graded.",
)
def q133_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    cells = part.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("psize")
    ).agg(F.count(F.lit(1)).alias("n_parts"))
    # per-price champion: only the max size at each price can survive
    w_price = Window.partitionBy("price")
    champs = cells.withColumn("pmax", F.max("psize").over(w_price)).filter(
        F.col("psize") == F.col("pmax")
    )
    # staircase: survives iff strictly larger than every cheaper
    # price's champion (equal size at lower price dominates via the
    # strict-price clause; equal price, larger size was removed above)
    w_stair = (
        Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        champs.withColumn("prev_max", F.max("psize").over(w_stair))
        .filter(F.col("prev_max").isNull() | (F.col("psize") > F.col("prev_max")))
        .select("price", "psize", "n_parts")
    )


@query(
    "q134_data_quality_checks",
    oracle="""
    SELECT 'orders' AS tbl, 'unique_key' AS chk,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders', 'fk_customer',
           CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem', 'fk_orders',
           CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem', 'non_negative_qty',
           CAST(COUNT(*) FILTER (WHERE l_quantity < 0) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'discount_in_range',
           CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders', 'status_in_domain',
           CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'customer', 'no_null_name',
           CAST(COUNT(*) FILTER (WHERE c_name IS NULL) AS BIGINT)
    FROM customer
    """,
    doc="Data-quality constraint suite (deequ/dbt-test shape): "
        "uniqueness, referential integrity, range, domain and "
        "null-rate checks emitted as one (table, check, violations) "
        "status table — the validation gate a pipeline runs before "
        "promoting a batch. Plan shape: each table is scanned ONCE "
        "per check family with the checks fused into conditional "
        "aggregates (count_if), referential checks are broadcast "
        "left joins counting orphans, and the per-check one-row "
        "results union into the report. At 100 TB every check stays "
        "a partial-aggregable scan — no check materializes violating "
        "rows (that is the debug query you run AFTER the gate trips).",
)
def q134_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    lineitem = read_table(spark, sf_dir, "lineitem")

    uniq = orders.agg(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("n_violations")
    ).select(F.lit("orders").alias("tbl"), F.lit("unique_key").alias("chk"), "n_violations")
    fk_cust = (
        orders.join(customer.select("c_custkey"), orders.o_custkey == F.col("c_custkey"), "left")
        .agg(F.count_if(F.col("c_custkey").isNull()).alias("n_violations"))
        .select(F.lit("orders").alias("tbl"), F.lit("fk_customer").alias("chk"), "n_violations")
    )
    fk_orders = (
        lineitem.join(
            orders.select("o_orderkey"), lineitem.l_orderkey == F.col("o_orderkey"), "left"
        )
        .agg(F.count_if(F.col("o_orderkey").isNull()).alias("n_violations"))
        .select(F.lit("lineitem").alias("tbl"), F.lit("fk_orders").alias("chk"), "n_violations")
    )
    # range + domain checks fuse into ONE lineitem scan / ONE orders scan
    li_checks = lineitem.agg(
        F.count_if(F.col("l_quantity") < 0).alias("neg_qty"),
        F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias("bad_disc"),
    )
    li_stack = li_checks.select(
        F.expr(
            "stack(2, 'non_negative_qty', neg_qty, 'discount_in_range', bad_disc)"
        ).alias("chk", "n_violations")
    ).select(F.lit("lineitem").alias("tbl"), "chk", "n_violations")
    status = orders.agg(
        F.count_if(~F.col("o_orderstatus").isin("F", "O", "P")).alias("n_violations")
    ).select(F.lit("orders").alias("tbl"), F.lit("status_in_domain").alias("chk"), "n_violations")
    null_name = customer.agg(
        F.count_if(F.col("c_name").isNull()).alias("n_violations")
    ).select(F.lit("customer").alias("tbl"), F.lit("no_null_name").alias("chk"), "n_violations")
    return (
        uniq.unionByName(fk_cust)
        .unionByName(fk_orders)
        .unionByName(li_stack)
        .unionByName(status)
        .unionByName(null_name)
    )
