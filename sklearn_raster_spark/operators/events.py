"""Event-time windowed operators over the ``events`` table — the batch
duals of the Structured Streaming surface (SURVEY.md §2.4 "Streaming";
the streaming wiring itself lives in sklearn_raster_spark/streaming/).

The reference is batch-only; this is [extension] surface. Every
operator here runs identically under ``readStream`` (same window /
session_window / dedup expressions), which is why the batch oracle is a
fair correctness check for the streaming semantics.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sklearn_raster_spark.operators.relational import dec, dsum
from sklearn_raster_spark.plans.registry import query
from sklearn_raster_spark.sources import read_table


@query(
    "q26_tumbling_window",
    oracle="""
    SELECT
        DATE_TRUNC('hour', ts) AS window_start,
        event_type,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour event-time window aggregation (streaming dual: "
        "groupBy(window(ts,'1 hour')) with a watermark).",
)
def q26_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(dec("value", 18, 4), "total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
    )


@query(
    "q27_sliding_window",
    oracle="""
    WITH expanded AS (
        SELECT DATE_TRUNC('hour', ts)
               + CASE WHEN MINUTE(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
               AS slot_start, value FROM events
        UNION ALL
        SELECT DATE_TRUNC('hour', ts)
               + CASE WHEN MINUTE(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
               - INTERVAL 30 MINUTE AS slot_start, value FROM events
    )
    SELECT
        slot_start AS window_start,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM expanded
    GROUP BY 1
    """,
    doc="Sliding window (1 h length, 30 min slide): each event lands in "
        "two windows. Oracle expands each event into its two slots.",
)
def q27_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(dec("value", 18, 4), "total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@query(
    "q28_session_window",
    oracle="""
    WITH flagged AS (
        SELECT
            user_id, ts, value,
            CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL 30 MINUTE
                 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT
        user_id,
        MIN(ts) AS session_start,
        MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
    doc="Session windows with a 30-minute inactivity gap "
        "(F.session_window; streaming dual is identical). Session end = "
        "last event + gap, matching Spark's semantics.",
)
def q28_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(dec("value", 18, 4), "total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "q29_dedup_keep_first",
    oracle="""
    SELECT user_id, event_type, event_id, ts
    FROM (
        SELECT user_id, event_type, event_id, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
    doc="Keep-first dedup per (user_id, event_type) — the batch dual of "
        "dropDuplicatesWithinWatermark.",
)
def q29_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


@query(
    "q30_event_pivot",
    oracle="""
    SELECT
        user_id,
        COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
        COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
        COUNT(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY user_id
    """,
    doc="Pivot event counts per user (explicit value list so the plan "
        "needs no discovery pass — required for large-scale pivots too).",
)
def q30_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


@query(
    "q80_dynamic_session_window",
    oracle="""
    WITH ev AS (
        SELECT user_id, ts, EPOCH_US(ts) AS ts_us,
               CASE WHEN event_type = 'purchase' THEN 3600000000
                    ELSE 1800000000 END AS gap_us
        FROM events
    ), flagged AS (
        SELECT user_id, ts, ts_us, gap_us,
               CASE WHEN MAX(ts_us + gap_us) OVER (
                        PARTITION BY user_id ORDER BY ts_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                 OR ts_us > MAX(ts_us + gap_us) OVER (
                        PARTITION BY user_id ORDER BY ts_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
               THEN 1 ELSE 0 END AS new_session
        FROM ev
    ), numbered AS (
        SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING
        ) AS session_no
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAKE_TIMESTAMP(MAX(ts_us + gap_us)) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    """,
    doc="DYNAMIC-gap session windows: each event extends its session "
        "by an event-type-dependent gap (purchases keep sessions alive "
        "60 min, everything else 30) — F.session_window with a Column "
        "gap. Merge rule: windows [ts, ts+gap) union while they "
        "overlap, so session end = running max of per-event ends; the "
        "oracle reconstructs exactly that with a cumulative-max window "
        "in microseconds (no float time arithmetic). Boundary rule: an "
        "event landing EXACTLY at the previous session end MERGES "
        "(Spark session_window semantics, verified empirically), so "
        "the oracle's new-session test is strict '>', matching q28's "
        "fixed-gap rule — pinned by a boundary-fixture pytest.",
)
def q80_dynamic_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", "1 hour").otherwise("30 minutes")
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q94_gap_fill_ffill",
    oracle="""
    WITH agg AS (
        SELECT user_id, DATE_TRUNC('hour', ts) AS h, COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(18,4))) AS tot
        FROM events WHERE user_id < 20 GROUP BY 1, 2
    ),
    b AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM agg GROUP BY 1),
    hours AS (
        SELECT user_id, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        FROM b
    ),
    j AS (
        SELECT hours.user_id, hours.h, COALESCE(agg.n, 0) AS n_events, agg.tot
        FROM hours LEFT JOIN agg ON hours.user_id = agg.user_id AND hours.h = agg.h
    )
    SELECT user_id, h AS hour, CAST(n_events AS BIGINT) AS n_events,
           CAST(LAST_VALUE(tot IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS filled_total
    FROM j
    """,
    doc="Time-series gap-fill + forward-fill (resample-to-hourly): "
        "aggregate per (user, hour), densify missing hours with an "
        "exploded sequence() between each user's bounds, then "
        "forward-fill the last observed hourly total via "
        "last(ignorenulls) over an unbounded-preceding frame — the "
        "regularization step every training pipeline over irregular "
        "event data needs. Scale shape: one hash aggregate, a narrow "
        "per-user explode (no shuffle — sequence bounds ride with the "
        "row), and ONE window shuffle on user_id; hours before a "
        "user's first observation stay NULL on both engines.",
)
def q94_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    agg = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value", 18, 4)).alias("tot"),
        )
    )
    bounds = agg.groupBy("user_id").agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    hours = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    j = hours.join(agg, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.col("h").alias("hour"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.last("tot", ignorenulls=True).over(w).cast("double").alias("filled_total"),
    )


@query(
    "q95_event_funnel",
    oracle="""
    WITH c AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'click' GROUP BY 1
    ),
    v AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'view' AND e.ts > c.t1
          AND e.ts <= c.t1 + INTERVAL 2 HOUR
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts > v.t2
          AND e.ts <= v.t2 + INTERVAL 2 HOUR
        GROUP BY 1
    )
    SELECT c.user_id, c.t1 AS first_click, v.t2 AS first_view, p.t3 AS first_purchase
    FROM c
    LEFT JOIN v ON c.user_id = v.user_id
    LEFT JOIN p ON c.user_id = p.user_id
    """,
    doc="Ordered-sequence funnel (click -> view within 2h -> purchase "
        "within 2h of the view): per-user stage timestamps, NULL where "
        "the stage was never reached — the conversion-analysis pattern. "
        "Each stage is a hash aggregate on user_id followed by an "
        "equi-join reusing the SAME user_id partitioning (no extra "
        "shuffle under AQE); stage timestamps are MINs, so results are "
        "order-deterministic. Non-degenerate on the testdata: "
        "150 clickers -> 9 viewers -> 1 purchaser at sf0.01.",
)
def q95_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .alias("e")
        .join(c.alias("c"), "user_id")
        .filter(
            (F.col("e.ts") > F.col("c.t1"))
            & (F.col("e.ts") <= F.col("c.t1") + F.expr("INTERVAL 2 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("e.ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .alias("e")
        .join(v.alias("v"), "user_id")
        .filter(
            (F.col("e.ts") > F.col("v.t2"))
            & (F.col("e.ts") <= F.col("v.t2") + F.expr("INTERVAL 2 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("e.ts").alias("t3"))
    )
    return (
        c.join(v, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("t1").alias("first_click"),
            F.col("t2").alias("first_view"),
            F.col("t3").alias("first_purchase"),
        )
    )


@query(
    "q113_scd2_intervals",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
        SELECT user_id, event_type, ts, event_id,
               -- IS DISTINCT FROM: null-safe run boundary (see engine
               -- comment). Quirk shared by BOTH engines: a stream that
               -- STARTS with NULL-type rows numbers that first run 0
               -- (absent lag is indistinguishable from a NULL type) —
               -- deterministic and identical on both sides
               SUM(CASE WHEN prev_type IS DISTINCT FROM event_type
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        FROM ordered
    ), intervals AS (
        SELECT user_id, event_type,
               CAST(run_id AS INTEGER) AS version,
               MIN(ts) AS valid_from,
               COUNT(*) AS n_events
        FROM runs
        GROUP BY user_id, event_type, run_id
    )
    SELECT user_id, event_type, version, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
           CAST(n_events AS BIGINT) AS n_events,
           (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL)
               AS is_current
    FROM intervals
    """,
    doc="Slowly-changing-dimension type-2 history build: collapse each "
        "user's event stream into validity intervals per run of equal "
        "event_type (valid_from = run start, valid_to = next run's "
        "start, open-ended current row flagged) — the change-data-"
        "capture -> dimension-history materialization every warehouse "
        "ingest runs. Plan: ONE shuffle on user_id feeds the change-"
        "flag window, the run aggregate and the interval-linking lead "
        "window (all three are partitioned by the same key, so "
        "Catalyst reuses the exchange); no global sort anywhere. "
        "Deterministic: run boundaries tie-break on (ts, event_id).",
)
def q113_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # null-safe change detection (eqNullSafe / IS DISTINCT FROM): with
    # plain <>, a NULL event_type row produced a NULL flag that SUM
    # skipped, silently absorbing the row into the neighboring run —
    # and two (user, run_id) interval rows then tied in the lead
    # window (random-instance fuzz, NULL event_type axis). NULL runs
    # are real runs: consecutive NULLs form one interval.
    changed = (
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
    ).cast("int")
    runs = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("run_id"),
    )
    intervals = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("run_id")
    valid_to = F.lead("valid_from").over(wv)
    return intervals.select(
        "user_id",
        "event_type",
        F.col("run_id").cast("int").alias("version"),
        "valid_from",
        valid_to.alias("valid_to"),
        F.col("n_events").cast("bigint").alias("n_events"),
        valid_to.isNull().alias("is_current"),
    )


ANOM_DAYS = 7  # trailing window width
ANOM_MIN_N = 8  # minimum window support before flagging
ANOM_Z = 2  # |z| threshold (integer so z^2 stays integral)


@query(
    "q129_rolling_anomaly",
    oracle=f"""
    WITH cents AS (
        SELECT event_id, user_id, event_type, ts,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
        FROM events
    ),
    win AS (
        SELECT event_id, user_id, event_type, v,
               COUNT(*) OVER w AS n,
               SUM(v) OVER w AS s,
               SUM(v * v) OVER w AS ssq
        FROM cents
        WINDOW w AS (
            PARTITION BY user_id ORDER BY EPOCH_US(ts)
            RANGE BETWEEN {ANOM_DAYS * 86_400_000_000} PRECEDING AND CURRENT ROW
        )
    )
    SELECT event_id, user_id, event_type,
           CAST(v AS BIGINT) AS value_cents,
           CAST(n AS BIGINT) AS win_n,
           CAST(n * v - s AS BIGINT) AS dev_num,
           CAST(n * ssq - s * s AS BIGINT) AS var_num
    FROM win
    WHERE n >= {ANOM_MIN_N}
      AND (n * v - s) * (n * v - s) > {ANOM_Z * ANOM_Z} * (n * ssq - s * s)
    """,
    doc=f"Rolling-window anomaly detection: an event is anomalous when "
        f"its value sits more than {ANOM_Z} standard deviations from "
        f"the mean of the user's trailing {ANOM_DAYS}-day window (min "
        f"support {ANOM_MIN_N}) — the metric-monitoring primitive. The "
        "whole test is INTEGER arithmetic: values become cents "
        "(floor(v*100+0.5) — identical bits cross-engine, dodging "
        "HALF_UP/HALF_EVEN ROUND divergence), window moments n/s/ssq "
        "are exact integer RANGE-frame sums over epoch-microsecond "
        "order, and |z| > Z rewrites to (n*v - s)^2 > Z^2*(n*ssq - "
        "s^2) — no division, no sqrt, no float anywhere, so a "
        "statistical threshold op is hash-graded bit-exactly. One "
        "shuffle on user_id serves all three window aggregates; RANGE "
        "frames (not ROWS) make tied timestamps deterministic. At "
        "scale this is the same plan per user shard; the streaming "
        "dual is a stateful per-key window (operators/stateful.py).",
)
def q129_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_id",
        "user_id",
        "event_type",
        # ts is TIMESTAMP_NTZ; the session timezone is pinned to UTC
        # (session.py), so the NTZ->TZ cast is the identity and
        # unix_micros matches DuckDB's EPOCH_US exactly
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-ANOM_DAYS * 86_400_000_000, 0)
    )
    win = cents.select(
        "event_id",
        "user_id",
        "event_type",
        "v",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v").over(w).alias("s"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("ssq"),
    )
    dev = F.col("n") * F.col("v") - F.col("s")
    var_num = F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
    return win.filter(
        (F.col("n") >= ANOM_MIN_N) & (dev * dev > ANOM_Z * ANOM_Z * var_num)
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("v").alias("value_cents"),
        F.col("n").alias("win_n"),
        dev.alias("dev_num"),
        var_num.alias("var_num"),
    )


@query(
    "q140_cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    ),
    firsts AS (
        SELECT first_day AS day, COUNT(*) AS new_users FROM first_seen GROUP BY 1
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT d.day, COALESCE(f.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(f.new_users, 0))
                OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_users
    FROM days d LEFT JOIN firsts f ON d.day = f.day
    """,
    doc="Cumulative distinct users per day — COUNT(DISTINCT) OVER is "
        "unsupported as a running window in Spark (and would hold an "
        "unbounded per-frame value set anywhere), so this is THE "
        "scalable rewrite: distinct-ness collapses to each user's "
        "FIRST day (one hash aggregate), then a day-level running sum "
        "over the tiny per-day new-user counts. State shrinks from "
        "O(users) per frame to O(days) total — the rewrite is the "
        "operator. Both engines run the same formulation; the law "
        "that it equals a true distinct count per day is pinned in "
        "pytest against a direct per-day recount.",
)
def q140_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    firsts = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    # densify over every ACTIVE day so the running count is reported
    # even on days that minted no new users
    days = ev.select(F.col("ts").cast("date").alias("day")).distinct()
    per_day = days.join(firsts, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day", "new_users", F.sum("new_users").over(w).cast("bigint").alias("cum_users")
    )


@query(
    "q141_cohort_retention",
    oracle="""
    WITH cohorts AS (
        SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_week, COUNT(*) AS cohort_size FROM cohorts GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT e.user_id, c.cohort_week,
               DATE_TRUNC('week', e.ts) AS activity_week
        FROM events e JOIN cohorts c ON e.user_id = c.user_id
    ),
    cells AS (
        SELECT cohort_week, activity_week, COUNT(*) AS n_active
        FROM activity GROUP BY 1, 2
    )
    SELECT c.cohort_week, c.activity_week, c.n_active, s.cohort_size,
           ROUND(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM cells c JOIN sizes s ON c.cohort_week = s.cohort_week
    """,
    doc="Cohort retention matrix (the product-analytics staple): users "
        "cohorted by first-activity week, each cell = how many of a "
        "cohort were active in a given week, as a fraction of cohort "
        "size. Plan: ONE user_id aggregate derives cohorts, the "
        "cohort map joins back onto events, distinct "
        "(user, week) pairs collapse before the cell count, and the "
        "tiny week x week matrix joins its diagonal sizes. Every "
        "aggregate is partial-combinable; nothing holds per-user "
        "state beyond the first-seen aggregate.",
)
def q141_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    # DuckDB DATE_TRUNC('week', ts) yields DATE; align the type
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    sizes = cohorts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    activity = (
        ev.join(cohorts, "user_id")
        .select(
            "user_id", "cohort_week", F.date_trunc("week", "ts").cast("date").alias("activity_week")
        )
        .distinct()
    )
    cells = activity.groupBy("cohort_week", "activity_week").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    return cells.join(sizes, "cohort_week").select(
        "cohort_week",
        "activity_week",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active").cast("double") / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


ROLLING_MEDIAN_FRAME = 5  # trailing rows (4 preceding + current)


@query(
    "q142_rolling_median_udwf",
    oracle=f"""
    WITH cents AS (
        SELECT event_id, user_id, EPOCH_US(ts) AS us,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
        FROM events
    )
    SELECT event_id, user_id,
           CAST(MEDIAN(v) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN {ROLLING_MEDIAN_FRAME - 1} PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_median
    FROM cents
    """,
    doc=f"Pandas UDF as a WINDOW function (the UDWF surface — distinct "
        "from scalar UDFs (q40), grouped-map (q59) and grouped-agg "
        f"(q76)): a numpy median over each trailing {ROLLING_MEDIAN_FRAME}-row "
        "frame per user. Spark requires bounded frames for pandas "
        "window UDFs precisely because each frame's slice ships to "
        "the worker as an Arrow batch — the cost model this operator "
        "demonstrates; the ordering key (epoch-micros, event_id) is "
        "unique so frames are deterministic. Values are integer cents "
        "(floor(v*100+0.5)), and the median of integers is exact in "
        "binary floating point (a middle value or a .5 midpoint), so "
        "the Python-computed result hash-matches DuckDB's MEDIAN "
        "bitwise.",
)
def q142_rolling_median_udwf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    @F.pandas_udf("double")
    def median_udwf(v: pd.Series) -> float:
        # SQL MEDIAN skips NULLs, and to_numpy(int64) on a NaN-carrying
        # slice silently yields INT64_MIN (the q76 class — random-
        # instance fuzz with NULL event values). This UDF runs once per
        # ROW'S frame, so NULL handling must be overhead-free on clean
        # frames: the Arrow slice materializes as int64 when the frame
        # has no NULLs and float64 only when it does, so an O(1) dtype
        # probe routes clean frames straight to np.median with zero
        # copies or scans (the forced to_numpy(float64)+isnan version
        # measured 5.7s -> 9.5s at sf0.1). float64 is exact on the
        # masked path (integer cents << 2^53; the even-count midpoint
        # halves an integer sum).
        # r12 OPT (guide §4.2 per-task work): this body runs once per
        # ROW'S frame (|events| calls of <= 5 elements), so per-call
        # overhead IS the cost. np.median's partition machinery costs
        # ~20 us/call at n<=5; sorted() over the tolist'd frame plus an
        # explicit two-middle mean is ~2.5 us and numerically IDENTICAL:
        # integer medians are exact, and the even-count midpoint
        # (a + b) / 2.0 is the same single IEEE operation np.median
        # performs (mean of the two middles; /2 only shifts the
        # exponent). Pinned equal by test_rolling_median_udwf_* and the
        # q142-vs-q148 bitwise pin.
        arr = v.to_numpy()
        if arr.dtype.kind != "i":
            arr = arr[~np.isnan(arr)]
            if arr.size == 0:
                return None
        xs = sorted(arr.tolist())
        n = len(xs)
        m = n >> 1
        return float(xs[m]) if n & 1 else (xs[m - 1] + xs[m]) / 2.0
    cents = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-(ROLLING_MEDIAN_FRAME - 1), 0)
    )
    return cents.select(
        "event_id", "user_id", median_udwf("v").over(w).alias("rolling_median")
    )


@query(
    "q148_rolling_median_jvm",
    oracle=f"""
    WITH cents AS (
        SELECT event_id, user_id, EPOCH_US(ts) AS us,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
        FROM events
    )
    SELECT event_id, user_id,
           CAST(MEDIAN(v) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN {ROLLING_MEDIAN_FRAME - 1} PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_median
    FROM cents
    """,
    doc=f"The SCALE path for q142's rolling median — zero Python: the "
        f"trailing {ROLLING_MEDIAN_FRAME}-row frame materializes as "
        f"array(lag(v,{ROLLING_MEDIAN_FRAME - 1})..lag(v,1), v), "
        "array_sort puts the partition-start NULLs LAST, and the "
        "median is the mean of the two middle elements among the n "
        "non-null ones (equal indexes when n is odd) — all inside "
        "whole-stage codegen, one window exchange, no Arrow transfer. "
        "q142 ships one Arrow slice per ROW (9.9 s at sf0.1, the "
        "suite's slowest query, round-4 VERDICT.md item 3) and stays "
        "registered as the UDWF surface demo; this form is what a "
        "100 TB pipeline runs. On integer cents the two are "
        "bitwise-equal (pytest-pinned): (a+b) of ints < 2^52 is "
        "exact in float64 and /2 only shifts the exponent.",
)
def q148_rolling_median_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    frame = F.array_sort(
        F.array(
            *[F.lag("v", i).over(w) for i in range(ROLLING_MEDIAN_FRAME - 1, 0, -1)],
            F.col("v"),
        )
    )
    # n = NON-NULL values in the trailing frame (count(col) skips
    # NULLs): with NULL event values in the frame, row_number-based
    # counting indexed into the NULLs array_sort parks at the end
    # (random-instance fuzz finding); all-NULL frames yield NULL like
    # the oracle's MEDIAN
    n = F.count("v").over(
        w.rowsBetween(-(ROLLING_MEDIAN_FRAME - 1), Window.currentRow)
    )
    lower = F.element_at(frame, F.greatest(((n + 1) / 2).cast("int"), F.lit(1)))
    upper = F.element_at(frame, (n / 2 + 1).cast("int"))
    return cents.select(
        "event_id",
        "user_id",
        F.when(n > 0, (lower + upper) / F.lit(2.0)).alias("rolling_median"),
    )
