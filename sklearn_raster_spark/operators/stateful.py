"""Custom stateful streaming operator via ``applyInPandasWithState``.

The standard Structured Streaming surface (windowed aggs, session
windows, watermark dedup, stream-stream joins — streaming/__init__.py)
covers built-in stateful ops; this module is the engine's EXTENSION
POINT for arbitrary per-key state machines, the streaming dual of the
reference's arbitrary-batch-callable ufunc harness (SURVEY.md §2.4
"UDF surface"; reference ufunc/_base.py:120-139).

Operator: per-user RUNNING statistics over the event stream — for
every event, the count of events seen so far for that user and the
running max of ``value`` — with the (count, max) tuple carried in
GroupState BETWEEN micro-batches. Within a batch events are processed
in (ts, event_id) order; across batches state continues, so a
time-split stream produces byte-identical output to one big batch
(asserted in tests, and q59's DuckDB window oracle checks the batch
semantics end-to-end).

Scale: state is two scalars per user — O(distinct keys) store, the
shape GroupState is built for; the watermark-less NoTimeout config
matches a finite backfill run (production would set a timeout).
"""

from __future__ import annotations

from typing import Iterable, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from sklearn_raster_spark.plans.registry import query

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("running_n", LongType()),
        StructField("running_max", DoubleType()),
    ]
)
STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("vmax", DoubleType())]
)


def _running_stats(
    key: Tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    # NULL keys form ONE state group, exactly like the oracle's
    # PARTITION BY user_id window treats its NULL partition (the old
    # int(key) crashed the executor — random-instance fuzz). NOTE the
    # NULL key arrives as float NaN through the Arrow key transfer,
    # not None, so notna is the only safe probe.
    uid = int(user_id) if pd.notna(user_id) else None
    if state.exists:
        n, vmax = state.get
    else:
        n, vmax = 0, None
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        ids, ns, maxes = [], [], []
        for ev_id, v in zip(pdf["event_id"], pdf["value"]):
            n += 1
            if pd.notna(v) and (vmax is None or float(v) > vmax):
                vmax = float(v)
            ids.append(int(ev_id))
            ns.append(n)
            maxes.append(vmax)
        yield pd.DataFrame(
            {
                "event_id": pd.array(ids, dtype="Int64"),
                "user_id": pd.array([uid] * len(ids), dtype="Int64"),
                "running_n": pd.array(ns, dtype="Int64"),
                "running_max": pd.array(maxes, dtype="Float64"),
            }
        )
    state.update((n, vmax))


def running_user_stats_stream(events: DataFrame) -> DataFrame:
    """Attach the stateful kernel to a (streaming or batch-test)
    events frame: groupBy(user_id) -> applyInPandasWithState."""
    from sklearn_raster_spark.session import ensure_workers_can_import

    ensure_workers_can_import(events.sparkSession)
    return (
        events.select("event_id", "user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_stats,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@query(
    "q59_stateful_running_agg",
    oracle="""
    SELECT
        event_id,
        user_id,
        ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts, event_id
        ) AS running_n,
        MAX(value) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS running_max
    FROM events
    """,
    doc="Custom stateful streaming op, driven END-TO-END as a real "
        "availableNow streaming query into a memory sink: per-user "
        "running count and running max with GroupState carried across "
        "micro-batches. The DuckDB window oracle hash-checks every "
        "per-event running value.",
)
def q59_stateful_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.streaming import (
        read_events_stream,
        run_append_stream_to_memory,
    )

    stream = running_user_stats_stream(read_events_stream(spark, sf_dir))
    sink = "q59_running_stats"
    run_append_stream_to_memory(stream, sink)
    return spark.table(sink)


@query(
    "q107_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="Streaming deduplication driven END-TO-END as a real "
        "availableNow streaming query: dropDuplicatesWithinWatermark "
        "keeps the first event per (user_id, event_type) with per-key "
        "state that the 2-hour watermark purges — the bounded-state "
        "contract an unbounded 100 TB/day stream needs (plain "
        "dropDuplicates would grow state forever). Which physical row "
        "survives per key is arrival-order dependent, so the query "
        "projects the KEY SET, which is deterministic and lets the "
        "batch DISTINCT oracle hash-grade a stateful streaming "
        "operator. Batch dual: q29 keep-first; q50 exact dedup.",
)
def q107_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.streaming import (
        dedup_stream,
        run_append_stream_to_memory,
    )

    deduped = dedup_stream(spark, sf_dir).select("user_id", "event_type")
    sink = "q107_stream_dedup_sink"
    run_append_stream_to_memory(deduped, sink)
    return spark.table(sink)


@query(
    "q116_stream_inference",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN value IS NULL THEN -1.0
                ELSE 1.0 + value * 2.5 END AS score
    FROM events
    """,
    doc="Streaming inference driven END-TO-END: the expression-"
        "compiled estimator predict path (q48's FixedLinearModel -> "
        "Catalyst columns) scores an unbounded event stream with the "
        "SAME SparkEstimator API as batch — zero Python in the hot "
        "path, so the plan is stream-safe by construction; NoData "
        "rows (value IS NULL) carry the nodata_output sentinel "
        "through the stream exactly as in batch (O2/O5 semantics). "
        "The batch oracle replicates the compiled expression's "
        "sequential IEEE order (1.0 + value*2.5), so every scored "
        "event hash-matches. A capability the batch-only reference "
        "has no analog for (SURVEY.md streaming [extension]).",
)
def q116_stream_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.streaming import (
        run_append_stream_to_memory,
        scored_events_stream,
    )

    stream = scored_events_stream(spark, sf_dir)
    sink = "q116_stream_inference_sink"
    run_append_stream_to_memory(stream, sink)
    return spark.table(sink)


@query(
    "q117_stream_interval_join",
    oracle="""
    SELECT
        c.event_id AS click_id,
        p.event_id AS purchase_id,
        c.user_id,
        CAST(DATEDIFF('second', p.ts, c.ts) AS BIGINT) AS gap_seconds
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts <= c.ts
     AND p.ts > c.ts - INTERVAL 1 HOUR
    """,
    doc="Stream-stream interval join driven END-TO-END as an "
        "availableNow streaming query: clicks x purchases by the same "
        "user within the preceding hour, watermarks on BOTH sides so "
        "each side's join state expires once the other side's "
        "watermark passes the interval bound — the bounded-state "
        "contract an unbounded double stream needs. The batch q38 "
        "oracle hash-checks the full matched-pair set (append-mode "
        "emission is exactly the matched pairs).",
)
def q117_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.streaming import (
        interval_join_stream,
        run_append_stream_to_memory,
    )

    stream = interval_join_stream(spark, sf_dir)
    sink = "q117_stream_interval_join_sink"
    run_append_stream_to_memory(stream, sink)
    return spark.table(sink)


@query(
    "q153_stream_semi_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           p.value AS purchase_value
    FROM events p
    WHERE p.event_type = 'purchase'
      AND EXISTS (
          SELECT 1 FROM events c
          WHERE c.event_type = 'click'
            AND c.user_id = p.user_id
            AND c.ts <= p.ts
            AND c.ts > p.ts - INTERVAL 1 HOUR
      )
    """,
    doc="Stream-stream LEFT SEMI join driven END-TO-END as an "
        "availableNow streaming query: purchases preceded by a click "
        "from the same user within the preceding hour — the "
        "filter-by-other-stream shape (conversion attribution) where "
        "the probe stream never lands in the output. Completes the "
        "graded stream-stream join matrix beside q117's inner "
        "interval join: semi state is CHEAPER than inner — a left row "
        "retires on its FIRST match instead of waiting for all — and "
        "both sides' state stays watermark-bounded. Hash-graded by an "
        "EXISTS batch oracle over the same events.",
)
def q153_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.streaming import (
        run_append_stream_to_memory,
        semi_join_stream,
    )

    stream = semi_join_stream(spark, sf_dir)
    sink = "q153_stream_semi_join_sink"
    run_append_stream_to_memory(stream, sink)
    return spark.table(sink)


@query(
    "q154_stream_outer_join",
    oracle="""
    WITH cutoff AS (
        -- the purchase max EXCLUDES NULL-key purchases: they can never
        -- match (SQL equality) and the engine drops them before its
        -- watermark node, so a NULL-key purchase carrying the stream
        -- max must not extend the emitted-prefix contract (round-9
        -- fuzz finding — see streaming/outer_join_stream)
        SELECT LEAST(
            MAX(ts) FILTER (WHERE event_type = 'click'),
            MAX(ts) FILTER (WHERE event_type = 'purchase'
                            AND user_id IS NOT NULL)
        ) - INTERVAL 4 HOUR AS m
        FROM events
    ),
    c AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events, cutoff WHERE event_type = 'click' AND ts <= cutoff.m
    ),
    p AS (
        -- NULL-key purchases never join; dropping them here mirrors the
        -- engine and changes no LEFT JOIN output row
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
    )
    SELECT c.click_id, c.user_id, p.purchase_id,
           CAST(DATEDIFF('second', p.purchase_ts, c.click_ts) AS BIGINT)
               AS gap_seconds
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.purchase_ts <= c.click_ts
     AND p.purchase_ts > c.click_ts - INTERVAL 1 HOUR
    """,
    doc="Stream-stream LEFT OUTER interval join driven END-TO-END as "
        "an availableNow streaming query — completes the graded join "
        "matrix (inner q117, semi q153, outer q154): unmatched clicks "
        "emit NULL-padded ONLY when the watermark passes their "
        "joinable range, so the query restricts both itself and its "
        "batch LEFT JOIN oracle to the deterministic emitted prefix "
        "(clicks >= 4 h older than the earlier side's max — end-of-stream "
        "state that never expires is exactly the part an unbounded "
        "run would emit later, not silently drop). This is the "
        "semantics trap of outer streaming joins made explicit and "
        "hash-graded.",
)
def q154_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sklearn_raster_spark.streaming import (
        outer_join_stream,
        run_append_stream_to_memory,
    )

    stream = outer_join_stream(spark, sf_dir)
    sink = "q154_stream_outer_join_sink"
    run_append_stream_to_memory(stream, sink)
    return spark.table(sink)


@query(
    "q130_stream_tumbling_window",
    oracle="""
    SELECT
        DATE_TRUNC('hour', ts) AS window_start,
        event_type,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling-window aggregation driven END-TO-END as an "
        "availableNow streaming query (complete mode into a memory "
        "sink): the streaming dual of q26, graded by the SAME batch "
        "oracle — watermarked event-time windows with DECIMAL partial "
        "sums, so the streaming aggregation state merges order-"
        "independently exactly like the batch hash aggregate. "
        "Window-start timestamps are emitted as TIMESTAMP_NTZ to "
        "match the storage type (the session is UTC-pinned). The "
        "existing availableNow==batch pytest pins the dual equality; "
        "this entry makes the STREAMING execution itself a driver-"
        "graded surface (state-store sizing per SCALE.md streaming).",
)
def q130_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sklearn_raster_spark.streaming import (
        run_stream_to_memory,
        tumbling_counts_stream,
    )

    stream = tumbling_counts_stream(spark, sf_dir)
    sink = "q130_stream_tumbling_sink"
    run_stream_to_memory(stream, sink, output_mode="complete")
    return spark.table(sink).select(
        F.col("window_start").cast("timestamp_ntz"),
        "event_type",
        "n_events",
        "total_value",
    )


@query(
    "q137_stream_sliding_window",
    oracle="""
    WITH s AS (
        SELECT UNNEST(RANGE(0, 2)) AS k
    ),
    slid AS (
        SELECT DATE_TRUNC('hour', ts) - (k::INTEGER * INTERVAL 30 MINUTE) + INTERVAL 30 MINUTE
                   * CASE WHEN MINUTE(ts) >= 30 THEN 1 ELSE 0 END AS window_start,
               event_type, value
        FROM events, s
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM slid
    GROUP BY 1, 2
    """,
    doc="Sliding-window aggregation (1 h window, 30 min slide) driven "
        "END-TO-END as an availableNow streaming query: every event "
        "lands in exactly TWO overlapping windows, the state the "
        "engine must maintain concurrently per key — the overlap "
        "semantics q26/q130's tumbling windows don't exercise. The "
        "oracle reconstructs Spark's window assignment arithmetic "
        "(window_start = floor to the 30-min grid, k in {0,1} slides "
        "back) in pure interval math. DECIMAL partial sums keep "
        "streaming state merges order-independent.",
)
def q137_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sklearn_raster_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    stream = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    sink = "q137_stream_sliding_sink"
    run_stream_to_memory(stream, sink, output_mode="complete")
    return spark.table(sink).select(
        F.col("window_start").cast("timestamp_ntz"),
        "event_type",
        "n_events",
        "total_value",
    )


@query(
    "q144_stream_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    """,
    doc="Session-window aggregation driven END-TO-END as an "
        "availableNow streaming query (complete mode): the last "
        "stateful streaming mechanism to be driver-graded — session "
        "state MERGES adjacent windows as events arrive (unlike "
        "tumbling/sliding whose window assignment is a pure function "
        "of the timestamp), so the state store holds open sessions "
        "per user that the watermark eventually seals. Hash-graded by "
        "q28's batch reconstruction (gap-flag + cumulative session "
        "number), proving the streaming merge converges to the batch "
        "fixpoint. Completes the graded streaming matrix: tumbling "
        "q130, sliding q137, session q144, dedup q107, inference "
        "q116, stream-stream join q117.",
)
def q144_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sklearn_raster_spark.streaming import (
        run_stream_to_memory,
        session_counts_stream,
    )

    stream = session_counts_stream(spark, sf_dir)
    sink = "q144_stream_session_sink"
    run_stream_to_memory(stream, sink, output_mode="complete")
    return spark.table(sink).select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz"),
        F.col("session_end").cast("timestamp_ntz"),
        "n_events",
    )
