"""Scalar-function surface: string / date / math / array / JSON
(SURVEY.md §2.4 "Scalar functions"). All built-in pyspark.sql.functions
— JVM-side, inside whole-stage codegen; no Python in the hot path.

Cross-engine determinism notes:
- libm-backed functions (ln/log10/exp) may differ from DuckDB in the
  last ulp -> rounded to 6 decimals on BOTH sides;
- sqrt/abs/floor/ceil/power(int) are IEEE-exact -> compared raw;
- array folds use an explicit sequential lambda on both sides
  (Spark ``aggregate`` starting at 0.0 == DuckDB ``list_reduce``,
  since 0.0 + x == x) so float summation order is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table


@query(
    "q21_string_funcs",
    oracle="""
    SELECT
        p_partkey,
        LOWER(p_type) AS type_lower,
        UPPER(p_name) AS name_upper,
        SUBSTRING(p_name, 1, 4) AS name_prefix,
        p_brand || '/' || p_type AS brand_type,
        CAST(LENGTH(p_name) AS INTEGER) AS name_len,
        (p_name LIKE '%red%') AS is_red,
        CAST(LEVENSHTEIN(p_brand, 'Brand#13') AS INTEGER) AS brand_dist,
        REGEXP_EXTRACT(p_brand, '#(\\d+)', 1) AS brand_num,
        CAST(LENGTH(p_name) - LENGTH(REPLACE(p_name, ' ', '')) + 1 AS INTEGER) AS n_words
    FROM part
    """,
    doc="String functions: lower/upper/substring/concat/length/like/"
        "levenshtein/regexp_extract/word-count.",
)
def q21_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_type").alias("type_lower"),
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.col("p_name").like("%red%").alias("is_red"),
        F.levenshtein("p_brand", F.lit("Brand#13")).alias("brand_dist"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        (F.length("p_name") - F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit(""))) + 1)
        .cast("int")
        .alias("n_words"),
    )


@query(
    "q22_date_funcs",
    oracle="""
    SELECT
        o_orderkey,
        CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
        CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
        CAST(QUARTER(o_orderdate) AS INTEGER) AS order_quarter,
        CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
        CAST(DATEDIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INTEGER) AS days_since_epoch_start,
        CAST(o_orderdate AS DATE) + 30 AS due_date
    FROM orders
    """,
    doc="Date/time functions: year/month/quarter/date_trunc/datediff/"
        "date arithmetic.",
)
def q22_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).alias(
            "days_since_epoch_start"
        ),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
    )


@query(
    "q23_math_funcs",
    oracle="""
    SELECT
        l_orderkey,
        l_linenumber,
        ABS(l_quantity - 25.0) AS qty_dev,
        SQRT(l_quantity) AS qty_sqrt,
        CAST(FLOOR(l_extendedprice / 100.0) AS BIGINT) AS price_floor,
        CAST(CEIL(l_extendedprice / 100.0) AS BIGINT) AS price_ceil,
        ROUND(LN(l_quantity), 6) AS qty_ln,
        ROUND(LOG10(l_extendedprice), 6) AS price_log10,
        POWER(l_quantity, 2.0) AS qty_sq,
        CAST(l_linenumber % 3 AS INTEGER) AS line_mod
    FROM lineitem
    """,
    doc="Math functions: abs/sqrt/floor/ceil/ln/log10/power/mod; "
        "libm-sensitive outputs rounded to 6.",
)
def q23_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.floor(F.col("l_extendedprice") / 100.0).alias("price_floor"),
        F.ceil(F.col("l_extendedprice") / 100.0).alias("price_ceil"),
        F.round(F.log(F.col("l_quantity")), 6).alias("qty_ln"),
        F.round(F.log10(F.col("l_extendedprice")), 6).alias("price_log10"),
        F.pow(F.col("l_quantity"), 2.0).alias("qty_sq"),
        (F.col("l_linenumber") % 3).cast("int").alias("line_mod"),
    )


@query(
    "q24_array_funcs",
    oracle="""
    SELECT
        vec_id,
        CAST(LEN(embedding) AS INTEGER) AS dim,
        LIST_REDUCE(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)), (a, b) -> a + b) AS vec_sum,
        SQRT(LIST_REDUCE(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS l2_norm,
        LIST_MAX(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))) AS vec_max,
        CAST(embedding[1] AS DOUBLE) AS first_component
    FROM embeddings
    """,
    doc="Array functions over embedding vectors: size, sequential-fold "
        "sum, L2 norm, max, element access. The fold order matches "
        "DuckDB's list_reduce exactly (0.0+x==x).",
)
def q24_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    squares = F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.aggregate(as_double, F.lit(0.0), lambda a, x: a + x).alias("vec_sum"),
        F.sqrt(F.aggregate(squares, F.lit(0.0), lambda a, x: a + x)).alias("l2_norm"),
        F.array_max(as_double).alias("vec_max"),
        F.col("embedding")[0].cast("double").alias("first_component"),
    )


@query(
    "q33_explode_ordinality",
    oracle="""
    SELECT
        doc_id,
        UNNEST(STRING_SPLIT(text, ' ')) AS tok,
        CAST(GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS INTEGER) AS pos
    FROM documents
    WHERE doc_id < 50
    """,
    doc="Generator/UDTF surface: posexplode tokens with 1-based "
        "ordinality (UNNEST WITH ORDINALITY dual).",
)
def q33_explode_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", "tok", (F.col("pos0") + 1).cast("int").alias("pos"))


@query(
    "q34_map_funcs",
    oracle="""
    SELECT
        event_id,
        CAST(props->>'k' AS INTEGER) AS k_value,
        CAST(LEN(json_keys(props)) AS INTEGER) AS n_keys,
        json_keys(props)[1] AS first_key
    FROM events
    WHERE event_type = 'purchase'
    """,
    doc="Map-typed columns: from_json into map<string,int>, then "
        "element_at / map_keys / size. The oracle COMPUTES key count "
        "and first key from the JSON (json_keys) rather than emitting "
        "the fixture's single-key shape as constants — both sides use "
        "document key order, so the grade checks the map functions, "
        "not a data coupling.",
)
def q34_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_value"),
        F.size(m).alias("n_keys"),
        F.map_keys(m)[0].alias("first_key"),
    )


@query(
    "q35_union_type_promotion",
    oracle="""
    SELECT kind, CAST(val AS DOUBLE) AS val FROM (
        SELECT 'price' AS kind, p_retailprice AS val FROM part
        UNION ALL
        SELECT 'size' AS kind, CAST(p_size AS DOUBLE) AS val FROM part
    )
    """,
    doc="unionByName with dtype promotion (int -> double), the dual of "
        "the reference's raster-stack dtype promotion (S3, "
        "datasets/_base.py:93-104).",
)
def q35_union_type_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part")
    prices = p.select(F.lit("price").alias("kind"), F.col("p_retailprice").alias("val"))
    sizes = p.select(F.lit("size").alias("kind"), F.col("p_size").cast("double").alias("val"))
    return prices.unionByName(sizes)


@query(
    "q25_json_funcs",
    oracle="""
    SELECT
        event_type,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS k_sum,
        CAST(MIN(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS k_min,
        CAST(MAX(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS k_max
    FROM events
    GROUP BY event_type
    """,
    doc="JSON extraction (events.props is a JSON string) + agg.",
)
def q25_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


@query(
    "q138_bag_set_ops",
    oracle="""
    WITH h1 AS (
        SELECT l_partkey FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
    ),
    h2 AS (
        SELECT l_partkey FROM lineitem
        WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
    ),
    i AS (SELECT l_partkey FROM h1 INTERSECT ALL SELECT l_partkey FROM h2),
    e AS (SELECT l_partkey FROM h1 EXCEPT ALL SELECT l_partkey FROM h2)
    SELECT 'intersect_all' AS op, l_partkey, CAST(COUNT(*) AS BIGINT) AS multiplicity
    FROM i GROUP BY 2
    UNION ALL
    SELECT 'except_all', l_partkey, CAST(COUNT(*) AS BIGINT)
    FROM e GROUP BY 2
    """,
    doc="BAG-semantics set operations (INTERSECT ALL / EXCEPT ALL) "
        "between two ship-years' part-key multisets — the multiplicity-"
        "preserving duals of q18's set-semantics ops: INTERSECT ALL "
        "keeps min(m1, m2) copies per key, EXCEPT ALL keeps "
        "max(m1 - m2, 0). Catalyst plans both WITHOUT materializing "
        "duplicate rows (a count-aggregate per side then a merge of "
        "counts — the same min/max-of-multiplicity arithmetic the "
        "output exposes), so the operator is one shuffle per side at "
        "any scale. Output aggregated to (op, key, multiplicity) to "
        "keep the graded surface the multiset itself.",
)
def q138_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    h1 = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_partkey")
    h2 = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_partkey")
    i = (
        h1.intersectAll(h2)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "l_partkey", "multiplicity")
    )
    e = (
        h1.exceptAll(h2)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "l_partkey", "multiplicity")
    )
    return i.unionByName(e)


@query(
    "q139_mode_aggregate",
    oracle="""
    WITH counts AS (
        SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    )
    SELECT c_mktsegment, o_orderpriority AS mode_priority,
           n AS mode_n, CAST(total_n AS BIGINT) AS total_n
    FROM (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment ORDER BY n DESC, o_orderpriority
               ) AS rn,
               SUM(n) OVER (PARTITION BY c_mktsegment) AS total_n
        FROM counts
    ) WHERE rn = 1
    """,
    doc="MODE (most frequent value) per group with a deterministic "
        "tie-break — the statistical aggregate SQL's MODE() leaves "
        "tie-order undefined on, made engine-portable by ranking on "
        "(count DESC, value ASC): the mode of order priorities per "
        "market segment. Plan: two stacked hash aggregates (value "
        "counts, then argmax-of-count per group) — both partial-"
        "aggregable, no window, no sort of the fact table; the "
        "second aggregate's input is |groups x values| rows, value-"
        "domain bounded. The oracle ranks with ROW_NUMBER() OVER "
        "(ORDER BY n DESC, value ASC) and keeps rank 1 — the same "
        "(count DESC, value ASC) tie-break.",
)
def q139_mode_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    counts = (
        orders.join(
            customer.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.groupBy("c_mktsegment").agg(
        F.min_by(
            "o_orderpriority", F.struct((-F.col("n")).alias("neg"), "o_orderpriority")
        ).alias("mode_priority"),
        F.max("n").alias("mode_n"),
        F.sum("n").cast("bigint").alias("total_n"),
    )


@query(
    "q168_variant_shred",
    oracle="""
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_amount,
           CAST(COUNT(CASE WHEN FALSE THEN 1 END) AS BIGINT) AS n_absent
    FROM orders
    GROUP BY 1, 2
    """,
    doc="Spark 4 VARIANT shredding (the open-ended semi-structured "
        "type, SPARK-45891): orders serialize to JSON documents with "
        "a nested object and an array, parse_json ingests them as "
        "VARIANT (binary-encoded, schema-on-read), and variant_get "
        "shreds typed paths back out — '$.cust' as bigint, "
        "'$.meta.status'/'$.meta.priority' through the nested object, "
        "'$.amounts[0]' by array index as double, plus try_variant_get "
        "on a missing path (NULL, never error — pinned by n_absent=0). "
        "The aggregate hash-matches plain SQL over the source columns, "
        "so the grade proves the whole JSON -> VARIANT -> typed-shred "
        "round trip is value-exact, including doubles (shortest-repr "
        "JSON round-trip) and null-field omission (to_json drops NULL "
        "fields; variant_get on the absent path yields NULL, matching "
        "the SQL NULL group). Scale: VARIANT is columnar-binary (no "
        "per-row JSON re-parse after ingest); shredding is a scan-side "
        "projection — no shuffle beyond the final aggregate; this is "
        "the 100 TB pattern for heterogeneous crawl metadata where a "
        "rigid schema would fail ingestion.",
)
def q168_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    js = orders.select(
        F.to_json(
            F.struct(
                F.col("o_custkey").alias("cust"),
                F.struct(
                    F.col("o_orderstatus").alias("status"),
                    F.col("o_orderpriority").alias("priority"),
                ).alias("meta"),
                F.array("o_totalprice").alias("amounts"),
            )
        ).alias("js")
    )
    v = js.select(F.parse_json("js").alias("v"))
    shred = v.select(
        F.variant_get("v", "$.meta.status", "string").alias("status"),
        F.variant_get("v", "$.meta.priority", "string").alias("priority"),
        F.variant_get("v", "$.cust", "bigint").alias("cust"),
        F.variant_get("v", "$.amounts[0]", "double").alias("amount"),
        F.try_variant_get("v", "$.no.such.path", "int").alias("absent"),
    )
    return shred.groupBy("status", "priority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cust").cast("bigint").alias("cust_sum"),
        F.sum(F.col("amount").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_amount"),
        F.count("absent").alias("n_absent"),
    )
