"""Analytic aggregate surface: argmax/argmin aggregates, exact
interpolated percentiles, and fixed-width histogram binning.

These cover three aggregate families the rest of the registry does not
exercise: value-at-extremum (``max_by``/``min_by``), exact ordered-set
percentiles with linear interpolation (``percentile`` — the exact dual
of q32's approximate HLL counting), and scalar binning as a group key
(the OLAP histogram pattern).

Determinism notes (the reason each oracle hash-matches):
- ``max_by``/``min_by`` are keyed on the UNIQUE ``o_orderkey``, so no
  extremum ties exist and the picked row is well-defined in any engine;
- ``percentile`` fractions are limited to {0.25, 0.5, 0.75} over
  integral-valued doubles, where both engines' interpolation formulas
  (``lo + (hi-lo)*f`` vs ``(1-f)*lo + f*hi``) are exact in binary
  floating point — no last-ULP divergence;
- the histogram bucket is ``floor(x / 50000.0)`` in pure double
  arithmetic, which is IEEE-identical across engines (scalar double
  ops are bit-reproducible; only aggregation ORDER is not, and the
  per-bucket sums go through DECIMAL as everywhere else).

Scale notes (100 TB design point): all three are single hash
aggregates with map-side partial aggregation over a handful of groups;
``percentile`` is the one exception — exact percentiles buffer each
group's values, so at extreme cardinality per group the right tool is
``percentile_approx`` (t-digest-like sketch, mergeable, bounded
memory); the exact form here is the correctness anchor for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table


@query(
    "q85_argmax_aggregates",
    oracle="""
    SELECT
        o_orderpriority,
        ARG_MAX(o_totalprice, o_orderkey) AS latest_order_price,
        ARG_MIN(o_totalprice, o_orderkey) AS earliest_order_price,
        CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
        COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Value-at-extremum aggregates: per priority class, the price "
        "of the highest- and lowest-numbered order (max_by/min_by "
        "keyed on the unique o_orderkey, so the extremum is tie-free "
        "and deterministic), alongside a plain max. One hash "
        "aggregate, map-side combinable: max_by's partial state is "
        "just (key, value) pairs merged by key comparison.",
)
def q85_argmax_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_totalprice", "o_orderkey").alias("latest_order_price"),
            F.min_by("o_totalprice", "o_orderkey").alias("earliest_order_price"),
            F.max(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("max_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "q86_exact_percentiles",
    oracle="""
    SELECT
        l_returnflag,
        QUANTILE_CONT(l_quantity, 0.25) AS qty_p25,
        QUANTILE_CONT(l_quantity, 0.50) AS qty_p50,
        QUANTILE_CONT(l_quantity, 0.75) AS qty_p75,
        COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact ordered-set percentiles (quartiles of quantity per "
        "return flag) with linear interpolation — the exact "
        "correctness anchor for percentile_approx at scale. Fractions "
        "{.25,.5,.75} over integral doubles interpolate exactly in "
        "binary FP, so Spark and DuckDB agree bitwise despite "
        "different interpolation formulas.",
)
def q86_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.25)).alias("qty_p25"),
            F.percentile("l_quantity", F.lit(0.50)).alias("qty_p50"),
            F.percentile("l_quantity", F.lit(0.75)).alias("qty_p75"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q92_approx_percentiles",
    doc="Sketch percentiles (approx_percentile, KLL-like mergeable "
        "summary with bounded memory) over the SAME grouping as the "
        "exact q86 — the scale path: exact `percentile` buffers every "
        "group value (unbounded state per group at 100 TB), the sketch "
        "is map-side mergeable with state O(accuracy). Rows-only "
        "(sketch internals aren't SQL-reproducible); the accuracy "
        "contract |rank(approx) - target_rank| <= n/accuracy is pinned "
        "against the exact anchor in tests/test_analytics.py.",
)
def q92_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_quantity", F.lit(0.25), F.lit(APPROX_ACCURACY)).alias("qty_p25"),
            F.percentile_approx("l_quantity", F.lit(0.50), F.lit(APPROX_ACCURACY)).alias("qty_p50"),
            F.percentile_approx("l_quantity", F.lit(0.75), F.lit(APPROX_ACCURACY)).alias("qty_p75"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# rank-error bound: |rank(returned) - floor(p*n)| <= n / accuracy
APPROX_ACCURACY = 10_000


@query(
    "q97_regression_aggregates",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6) AS slope,
           ROUND((sy - ((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)) * sx) / n, 6) AS intercept,
           ROUND((n * sxy - sx * sy) / NULLIF(SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 0), 6) AS corr
    FROM m
    """,
    doc="Regression/correlation aggregates (slope, intercept, Pearson "
        "r of price on quantity per return flag) computed from EXACT "
        "DECIMAL moment sums (Sx, Sy, Sxy, Sxx, Syy) — NOT the "
        "engines' corr/regr_slope built-ins, whose double summation is "
        "order-dependent and cross-engine nondeterministic. The moment "
        "sums are order-independent decimals; the closed-form double "
        "arithmetic on top is scalar IEEE, bit-identical across "
        "engines. One hash aggregate, fully map-side combinable — the "
        "same plan shape corr() itself uses, with deterministic "
        "partials instead.",
)
def q97_regression_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # NULLIF the denominators: a degenerate group (constant x, or one
    # row) zeroes them, and Spark's non-ANSI division yields NULL while
    # DuckDB's IEEE float division yields inf/NaN — pinning BOTH
    # engines to NULL keeps the hash stable under any data distribution
    den_x = F.nullif((n * sxx - sx * sx).cast("double"), F.lit(0.0))
    slope = (n * sxy - sx * sy) / den_x
    corr_den = F.nullif(
        F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), F.lit(0.0)
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round((n * sxy - sx * sy) / corr_den, 6).alias("corr"),
    )


@query(
    "q98_bitwise_aggregates",
    oracle="""
    SELECT o_orderpriority,
           BIT_OR(o_orderkey) AS key_or,
           BIT_AND(o_orderkey) AS key_and,
           BIT_XOR(o_orderkey) AS key_xor,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Bitwise aggregates (bit_or/bit_and/bit_xor): commutative, "
        "associative integer reductions — the cheapest possible "
        "mergeable state (one word per group), map-side combinable, "
        "order-independent by construction. The building block for "
        "bitmap-index style presence masks (e.g. which shard bits saw "
        "a key) at scale.",
)
def q98_bitwise_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.bit_or("o_orderkey").alias("key_or"),
            F.bit_and("o_orderkey").alias("key_and"),
            F.bit_xor("o_orderkey").alias("key_xor"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "q88_order_gaps_islands",
    oracle="""
    WITH om AS (
        SELECT DISTINCT
            o_custkey,
            EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) AS m
        FROM orders
    ),
    g AS (
        SELECT o_custkey, m,
               m - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
        FROM om
    )
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(MIN(m) AS BIGINT) AS start_month,
           CAST(MAX(m) AS BIGINT) AS end_month,
           COUNT(*) AS n_months
    FROM g
    GROUP BY o_custkey, grp
    """,
    doc="Gaps-and-islands: maximal runs of consecutive active months "
        "per customer, via the classic month_index - row_number "
        "grouping trick (all-integer arithmetic, so no FP hazards). "
        "The retention/streak primitive for activity analysis. One "
        "shuffle on o_custkey serves both the window sort and the "
        "island aggregate (same partitioning reused across stages).",
)
def q88_order_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    month_idx = (F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")).cast("bigint")
    om = orders.select("o_custkey", month_idx.alias("m")).distinct()
    w = Window.partitionBy("o_custkey").orderBy("m")
    islands = om.withColumn("grp", F.col("m") - F.row_number().over(w))
    return (
        islands.groupBy("o_custkey", "grp")
        .agg(
            F.min("m").alias("start_month"),
            F.max("m").alias("end_month"),
            F.count(F.lit(1)).alias("n_months"),
        )
        .drop("grp")
    )


@query(
    "q89_conditional_aggregates",
    oracle="""
    SELECT
        o_orderpriority,
        COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             FILTER (WHERE o_totalprice > 200000), 0) AS DOUBLE) AS high_value_revenue,
        COUNT(*) AS n_total
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Conditional aggregation (SQL FILTER clause): several "
        "differently-predicated aggregates from ONE scan — the "
        "segmented-metrics pattern that otherwise costs one scan per "
        "segment. Spark expresses FILTER as count_if / sum(CASE "
        "WHEN); both engines fold it into a single hash aggregate "
        "with map-side partials. Revenue goes through DECIMAL for "
        "order-independent sums.",
)
def q89_conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
            F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
            F.coalesce(
                F.sum(F.when(F.col("o_totalprice") > 200000, price_dec)),
                F.lit(0).cast("decimal(18,2)"),
            )
            .cast("double")
            .alias("high_value_revenue"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )


@query(
    "q90_null_safe_join",
    oracle="""
    WITH lhs AS (
        SELECT o_orderpriority,
               NULLIF(o_orderstatus, 'P') AS status_key,
               COUNT(*) AS n_all
        FROM orders
        GROUP BY 1, 2
    ),
    rhs AS (
        SELECT o_orderpriority,
               NULLIF(o_orderstatus, 'P') AS status_key,
               COUNT(*) AS n_high
        FROM orders
        WHERE o_totalprice > 150000
        GROUP BY 1, 2
    )
    SELECT lhs.o_orderpriority,
           lhs.status_key,
           lhs.n_all,
           COALESCE(rhs.n_high, 0) AS n_high
    FROM lhs
    LEFT JOIN rhs
      ON lhs.o_orderpriority = rhs.o_orderpriority
     AND lhs.status_key IS NOT DISTINCT FROM rhs.status_key
    """,
    doc="Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the "
        "NULLIF turns one order status into genuine NULL join keys on "
        "BOTH sides, which plain equality would silently drop — the "
        "semantics that distinguish this from q03-style equi-joins. "
        "Both sides pre-aggregate to a handful of rows before the "
        "join, so at scale this is two map-side-combined aggregates "
        "and a broadcast join of tiny summaries.",
)
def q90_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    status_key = F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_key")
    lhs = orders.groupBy("o_orderpriority", status_key).agg(
        F.count(F.lit(1)).alias("n_all")
    )
    rhs = (
        orders.filter(F.col("o_totalprice") > 150000)
        .groupBy("o_orderpriority", status_key)
        .agg(F.count(F.lit(1)).alias("n_high"))
    )
    joined = lhs.alias("l").join(
        rhs.alias("r"),
        (F.col("l.o_orderpriority") == F.col("r.o_orderpriority"))
        & F.col("l.status_key").eqNullSafe(F.col("r.status_key")),
        "left",
    )
    return joined.select(
        F.col("l.o_orderpriority").alias("o_orderpriority"),
        F.col("l.status_key").alias("status_key"),
        F.col("l.n_all").alias("n_all"),
        F.coalesce(F.col("r.n_high"), F.lit(0)).alias("n_high"),
    )


@query(
    "q91_ordered_string_agg",
    oracle="""
    SELECT r.r_name,
           STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS nations_csv,
           COUNT(*) AS n_nations
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="Ordered string aggregation (LISTAGG/STRING_AGG dual): "
        "collect_list -> array_sort -> array_join gives a "
        "deterministic CSV regardless of row arrival order — the "
        "explicit sort is what makes a collect-based aggregate "
        "hash-stable across partitionings (bare collect_list is "
        "order-nondeterministic and would not oracle-match).",
)
def q91_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations_csv"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@query(
    "q87_price_histogram",
    oracle="""
    SELECT
        CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS price_bucket,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_revenue,
        MIN(o_totalprice) AS bucket_min,
        MAX(o_totalprice) AS bucket_max
    FROM orders
    GROUP BY 1
    """,
    doc="Fixed-width histogram: bucket key is floor(price/50000.0) in "
        "pure double arithmetic (bit-identical across engines — "
        "scalar IEEE ops are reproducible; only aggregation order is "
        "not, and the revenue sum goes through DECIMAL). The "
        "standard OLAP binning pattern: one narrow scan, one hash "
        "aggregate over ~tens of buckets, fully map-side combinable.",
)
def q87_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("bigint")
    return (
        orders.groupBy(bucket.alias("price_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("bucket_revenue"),
            F.min("o_totalprice").alias("bucket_min"),
            F.max("o_totalprice").alias("bucket_max"),
        )
    )


@query(
    "q103_chi_square_contingency",
    oracle="""
    WITH cells AS (
        SELECT lang, source, COUNT(*) AS n
        FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_total FROM cells),
    rows_t AS (SELECT lang, CAST(SUM(n) AS DOUBLE) AS row_tot FROM cells GROUP BY lang),
    cols_t AS (SELECT source, CAST(SUM(n) AS DOUBLE) AS col_tot FROM cells GROUP BY source)
    SELECT c.lang, c.source,
           CAST(c.n AS BIGINT) AS n_obs,
           ROUND(r.row_tot * co.col_tot / t.n_total, 6) AS n_expected,
           ROUND(
               (c.n - r.row_tot * co.col_tot / t.n_total)
               * (c.n - r.row_tot * co.col_tot / t.n_total)
               / (r.row_tot * co.col_tot / t.n_total), 6) AS chi2_contrib
    FROM cells c
    JOIN rows_t r ON c.lang = r.lang
    JOIN cols_t co ON c.source = co.source
    CROSS JOIN tot t
    """,
    doc="Chi-square contingency analysis (lang x source): per-cell "
        "observed vs expected counts and chi-squared contributions — "
        "the independence/drift test a data pipeline runs to catch a "
        "source whose language mix shifted. Closed-form count "
        "arithmetic only (no transcendentals, the q96 determinism "
        "rule), emitted PER CELL so no cross-cell float summation "
        "order exists to diverge; consumers sum the (exactly "
        "6-dp-rounded) contributions through DECIMAL for the global "
        "statistic. Plan: one hash aggregate over cells, two tiny "
        "re-aggregations joined back broadcast, one scalar total.",
)
def q103_chi_square_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").cast("double").alias("n_total"))
    rows_t = cells.groupBy("lang").agg(F.sum("n").cast("double").alias("row_tot"))
    cols_t = cells.groupBy("source").agg(F.sum("n").cast("double").alias("col_tot"))
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n_total")
    return (
        cells.join(rows_t, "lang")
        .join(cols_t, "source")
        .crossJoin(tot)
        .select(
            "lang",
            "source",
            F.col("n").cast("bigint").alias("n_obs"),
            F.round(exp, 6).alias("n_expected"),
            F.round((F.col("n") - exp) * (F.col("n") - exp) / exp, 6).alias(
                "chi2_contrib"
            ),
        )
    )


@query(
    "q110_outlier_flags",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               COUNT(value) AS n,
               -- DECIMAL(18,2): the square stays inside the 38-digit
               -- cap, exact in both engines (see engine comment)
               SUM(CAST(value AS DECIMAL(18, 2))) AS s1,
               SUM(CAST(value AS DECIMAL(18, 2)) * CAST(value AS DECIMAL(18, 2))) AS s2
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type
    ), z AS (
        SELECT e.event_id, e.event_type, e.value,
               -- double-first variance arithmetic (see engine comment)
               -- GREATEST(.., 0): double-first n*s2 - s1*s1 can go
               -- slightly negative for zero-variance / single-row
               -- groups; DuckDB's SQRT hard-errors on negatives while
               -- Spark returns NaN. Clamp so degenerate groups fall
               -- back to exactly 0 and NULLIF restores the NULL zscore.
               (e.value - CAST(s.s1 AS DOUBLE) / s.n)
                   / NULLIF(SQRT(GREATEST(CAST(s.n AS DOUBLE) * CAST(s.s2 AS DOUBLE)
                                  - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE), 0)
                                 / (CAST(s.n AS DOUBLE) * s.n)), 0)
                   AS zscore
        FROM events e JOIN stats s ON e.event_type = s.event_type
        WHERE e.value IS NOT NULL
    )
    SELECT event_id, event_type, value, zscore,
           (ABS(zscore) > 3.0) AS is_outlier
    FROM z
    """,
    doc="Per-group z-score outlier flagging — the drift/anomaly gate a "
        "data pipeline runs per batch. Group mean/std come from exact "
        "DECIMAL moment sums (n, sum, sum-of-squares) so the statistics "
        "are order-independent and bit-identical across engines; the "
        "per-row z is then scalar IEEE arithmetic (sqrt is correctly "
        "rounded by IEEE 754, so both engines agree bitwise). Plan: "
        "one scan + tiny per-type aggregate broadcast back onto the "
        "stream of rows — no window, no per-row state; constant-width "
        "mergeable partials at any scale. Degenerate groups (zero "
        "variance) yield NULL z via NULLIF on both sides (round-3 "
        "ADVICE.md divergence class).",
)
def q110_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # DECIMAL(18,2): v*v is then DECIMAL(37,4) — WITHIN the 38-digit
    # cap, so every squared term is exact in both engines. The old
    # (28,10) square needed precision 57 and each engine rounded the
    # overflowing product at a different scale, leaking a
    # data-dependent 1-ulp zscore divergence (random-instance fuzz);
    # event values are 2dp by contract, so (18,2) is lossless.
    vdec = F.col("value").cast("decimal(18,2)")
    stats = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(vdec).alias("s1"),
        F.sum(vdec * vdec).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    # cast the EXACT decimal sums to double BEFORE the variance
    # arithmetic: n*s2 and s1*s1 overflow DECIMAL(38) precision, and
    # the two engines round the overflowing product at different
    # scales — a data-dependent 1-ulp zscore divergence (random-
    # instance fuzz). Double-first makes every op an identical IEEE
    # primitive on identical inputs; the oracle casts in the same
    # order.
    # greatest(.., 0): the double-first n*s2 - s1*s1 can round to a
    # tiny NEGATIVE for zero-variance / single-row groups (exact-
    # decimal subtraction gave exactly 0). Without the clamp Spark's
    # sqrt returns NaN (and NaN > 3 is TRUE in Spark, flagging every
    # row) while DuckDB's SQRT hard-errors Out of Range. Clamping to 0
    # restores the documented degenerate-group contract: std == 0 ->
    # NULLIF -> NULL zscore, is_outlier NULL.
    std = F.sqrt(
        F.greatest(
            F.col("n").cast("double") * F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double"),
            F.lit(0.0),
        )
        / (F.col("n").cast("double") * F.col("n"))
    )
    z = (F.col("value") - mean) / F.nullif(std, F.lit(0.0))
    return (
        ev.join(stats, "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            z.alias("zscore"),
            (F.abs(z) > 3.0).alias("is_outlier"),
        )
    )


@query(
    "q111_quantile_binning",
    oracle="""
    WITH cuts AS (
        SELECT QUANTILE_CONT(l_quantity, 0.25) AS c1,
               QUANTILE_CONT(l_quantity, 0.50) AS c2,
               QUANTILE_CONT(l_quantity, 0.75) AS c3
        FROM lineitem
    ), binned AS (
        SELECT CASE WHEN l_quantity < c1 THEN 0
                    WHEN l_quantity < c2 THEN 1
                    WHEN l_quantity < c3 THEN 2
                    ELSE 3 END AS bin,
               l_quantity, l_extendedprice
        FROM lineitem, cuts
    )
    SELECT bin,
           COUNT(*) AS n_items,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28, 10))) AS DOUBLE) AS sum_price
    FROM binned
    GROUP BY bin
    """,
    doc="Exact-quantile feature discretization (the QuantileDiscretizer "
        "preprocessing op, but with exact cut points): global quartiles "
        "of l_quantity become bin boundaries, every row is bucketed by "
        "broadcast CASE comparison, and per-bin stats verify the "
        "assignment. Determinism leans on the q86 anchor: quantity is "
        "an integral-valued double, so .25-grid interpolation is exact "
        "in binary FP and both engines compute identical cut points; "
        "cut points falling strictly between adjacent data values can "
        "never flip a comparison. Plan: one pass for the 3-value cut "
        "table (driver-collected equivalent of a broadcast), then one "
        "scan-parallel binning pass — the sketch dual "
        "(approx_percentile cuts) is the swap-in at 100 TB, with this "
        "as its test-scale anchor, mirroring the q86/q92 pair.",
)
def q111_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    cuts = li.agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("c1"),
        F.percentile("l_quantity", F.lit(0.50)).alias("c2"),
        F.percentile("l_quantity", F.lit(0.75)).alias("c3"),
    )
    binned = li.crossJoin(cuts).select(
        F.when(F.col("l_quantity") < F.col("c1"), 0)
        .when(F.col("l_quantity") < F.col("c2"), 1)
        .when(F.col("l_quantity") < F.col("c3"), 2)
        .otherwise(3)
        .alias("bin"),
        "l_quantity",
        "l_extendedprice",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,10)"))
        .cast("double")
        .alias("sum_price"),
    )
