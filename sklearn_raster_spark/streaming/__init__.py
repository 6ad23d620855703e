"""Structured Streaming surface over the ``events`` table.

The reference is batch-only (SURVEY.md §2.4 "Streaming" is [extension]
surface). Each builder here applies the SAME expressions as its batch
dual in operators/events.py, so the batch DuckDB oracle doubles as the
streaming correctness check — the tests run the streams with an
``availableNow`` trigger into a memory sink and diff against batch.

Scale notes: watermarks bound state; session windows and
dropDuplicates keep per-key state that is purged past the watermark —
exactly the state story a 1000-executor streaming job needs.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sklearn_raster_spark.sources import table_path


def _stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Spark's file stream source requires a DIRECTORY; the testdata is
    one parquet file per table, so a derived fixture (utils/cache.py)
    holds one symlink to it. The link targets the RESOLVED file, and
    that path rides in the fixture version: the fingerprint follows
    symlinks and sees only size and mtime, so a same-basename fixture
    dir that was deleted and recreated elsewhere would otherwise look
    current while its link dangles."""
    from sklearn_raster_spark.utils.cache import derived_fixture

    target = os.path.realpath(table_path(sf_dir, "events"))

    def build(d: str) -> None:
        os.symlink(target, os.path.join(d, "events.parquet"))

    return derived_fixture(spark, sf_dir, "events", "events_stream", build, version=":" + target)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch under availableNow; a directory of files streams
    incrementally in production)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(table_path(sf_dir, "events"))
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(_stream_dir(spark, sf_dir))
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # parquet TIMESTAMP(NANOS) arrives as TIMESTAMP_NTZ on readers
        # that truncate nanos natively, but withWatermark requires the
        # instant-bearing TIMESTAMP type. The session timezone is pinned
        # to UTC (session.py), so this cast maps wall-clock fields to
        # the same UTC instants the bigint branch produces.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts_stream(spark: SparkSession, sf_dir: str, watermark: str = "2 hours") -> DataFrame:
    """Streaming dual of q26_tumbling_window."""
    ev = read_events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def session_counts_stream(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Streaming dual of q28_session_window."""
    ev = read_events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: first event per (user_id, event_type)
    within the watermark (dropDuplicatesWithinWatermark; batch dual is
    q29 keep-first, which differs only in being global).

    Grading precondition, asserted: the q107 oracle is a GLOBAL
    DISTINCT, which equals watermarked dedup only when the whole table
    arrives in ONE micro-batch — across batches the 2-hour watermark
    purges key state, and a key recurring later than that re-emits
    (correct streaming semantics, but a different answer than
    DISTINCT). The fixture dir holds exactly one file so availableNow
    delivers one batch; fail fast here rather than letting a future
    multi-file fixture silently flip the grade."""
    import glob as _glob

    d = _stream_dir(spark, sf_dir)
    stream_files = _glob.glob(os.path.join(d, "*.parquet"))
    if len(stream_files) != 1:
        raise AssertionError(
            f"dedup_stream's DISTINCT oracle requires single-batch "
            f"delivery (one stream file); found {len(stream_files)} in "
            f"{d!r} — regrade q107 rows-only or "
            "extend the oracle to watermark-aware semantics"
        )
    ev = read_events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id", "ts")
    )


def scored_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming inference: score each event with a compiled linear
    model as it arrives. The expression-compiled predict path (q48) is
    pure Catalyst columns, so the SAME estimator API runs unchanged on
    an unbounded stream — a capability the (batch-only) reference has
    no analog for. NoData semantics included: value=NULL rows score as
    the nodata_output sentinel."""
    from sklearn_raster_spark.estimator import SparkEstimator
    from sklearn_raster_spark.estimators import FixedLinearModel
    from sklearn_raster_spark.features import FeatureFrame
    import numpy as np
    import pandas as pd

    ev = read_events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    ff = FeatureFrame.from_dataframe(ev, features=["value"])
    model = FixedLinearModel(weights=[2.5], intercept=1.0)
    est = SparkEstimator(model)
    est.fit(pd.DataFrame(np.zeros((2, 1)), columns=["value"]))
    est.target_names_in_ = ("score",)
    out = est.predict(ff, nodata_output=-1.0)  # compiled -> stream-safe
    return out.df.select("event_id", "user_id", "score")


def interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (the streaming dual of
    q38_interval_join): clicks x purchases by the same user within the
    preceding hour. Watermarks bound both sides' state; the range
    condition lets Spark expire right-side rows past click_ts - 1h."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
        & (F.col("purchase_ts") > F.col("click_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("click_ts") - F.unix_timestamp("purchase_ts")).alias("gap_seconds"),
    )


# Spark's default, FileContext-based manager shells out ``readlink`` on
# every rename when the Hadoop native libs are absent; this one renames
# in-process
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _leaf_bytes(spark: SparkSession, leaf) -> int | None:
    """Bytes of the files under a streaming leaf's ``path`` option,
    symlinks followed, or None when there is no local path to stat."""
    node = leaf.nodeName()
    if node == "StreamingRelation":  # DSv1 file sources
        path = leaf.dataSource().options().get("path").getOrElse(None)
    elif node == "StreamingRelationV2":  # DSv2 and Python data sources
        path = leaf.extraOptions().get("path")
    else:
        return None
    if path is None:
        return None
    url = urlparse(path)
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    if (url.scheme or urlparse(default_fs).scheme) != "file":
        return None
    if os.path.isfile(url.path):
        return os.path.getsize(url.path)
    if not os.path.isdir(url.path):
        return None
    walk = os.walk(url.path, followlinks=True)
    try:
        return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in walk for f in files)
    except OSError:  # a dangling link: size unknown
        return None


def _state_partitions(df: DataFrame) -> int:
    """Shuffle (hence state store) partitions for one run of ``df``:
    the input's bytes over ``spark.sql.files.maxPartitionBytes``
    (Spark's scan split rule, as sources/raster.py sizes tiles),
    capped by the session's ``spark.sql.shuffle.partitions``. Any
    streaming leaf whose size cannot be read keeps the session value.
    Leaves come from the ANALYZED plan: the logical plan still shows a
    Python data source as an unresolved relation."""
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    cap = conf.numShufflePartitions()
    total = 0
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if not leaf.isStreaming():
            continue
        n = _leaf_bytes(spark, leaf)
        if n is None:
            return cap
        total += n
    return max(1, min(cap, -(-total // conf.filesMaxPartitionBytes())))


@contextmanager
def _pinned_confs(spark: SparkSession, pins: dict[str, str]):
    """Set ``pins`` on the session for the block, then put every key
    back as it was (an unset key is unset again)."""
    before = {k: spark.conf.get(k, None) for k in pins}
    for k, v in pins.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_stream_to_memory(
    df: DataFrame, name: str, timeout_sec: int = 120, output_mode: str = "complete"
):
    """Drive a streaming frame to completion with availableNow and
    return the query handle (rows are in the ``name`` memory sink).

    ``output_mode`` must match the query shape: "complete" for
    streaming aggregations, "append" for append-only queries (dedup,
    stream-stream joins, stateful map). Raises if the run does not
    finish inside ``timeout_sec`` — a partial memory sink must never
    masquerade as the full result.

    State partitioning: a stateful streaming query instantiates one
    state store per shuffle partition per stateful operator per
    micro-batch (a stream-stream join keeps FOUR stores per
    partition), and the partition count is frozen into the checkpoint
    at first batch. The session's batch-oriented shuffle.partitions
    buys nothing for state that a scan of the input would not split,
    while paying store open/commit/close per partition per batch, so
    each run sizes it from the input (``_state_partitions``). Each run
    starts from a fresh checkpoint, so setting the conf just for the
    run is safe. Without ``spark.sql.streaming.checkpointLocation`` the
    checkpoint is a throwaway local temp dir, written through the
    FileSystem checkpoint manager."""
    spark = df.sparkSession
    pins = {
        "spark.sql.shuffle.partitions": str(_state_partitions(df)),
        # Watermark-gated emission (outer-join NULL pads, final windows)
        # is only flushed by the trailing NO-DATA micro-batch: the
        # single-file source delivers everything in batch 1, so the
        # watermark that closes state advances only in a batch with no
        # new data. Pin the conf (default true) rather than depend on
        # it silently — with it off, q154's unmatched clicks would vanish.
        "spark.sql.streaming.noDataMicroBatches.enabled": "true",
    }
    if spark.conf.get("spark.sql.streaming.checkpointLocation", None) is None:
        pins["spark.sql.streaming.checkpointFileManagerClass"] = _FS_CHECKPOINT_MANAGER
    # micro-batches plan asynchronously after .start(), so the pins
    # stay in force until the query terminates
    with _pinned_confs(spark, pins):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            q.stop()
    if not finished:
        raise TimeoutError(
            f"streaming query {name!r} did not finish within {timeout_sec}s; "
            "memory sink contents would be partial"
        )
    return q


def run_append_stream_to_memory(df: DataFrame, name: str, timeout_sec: int = 120):
    return run_stream_to_memory(df, name, timeout_sec, output_mode="append")


def file_stream_windowed_counts(
    spark: SparkSession,
    src_dir: str,
    schema,
    watermark: str = "10 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """Tumbling windowed counts over a JSON-lines file stream, one file
    per micro-batch (``maxFilesPerTrigger=1``) so arrival order is the
    file order — the harness for watermark/late-data semantics.

    In append mode a window is emitted exactly once, when the watermark
    passes its end; rows arriving after their window was finalized are
    DROPPED (bounded state — the property that keeps a 100 TB stream's
    state store from growing without limit). Late-vs-dropped behavior
    is pinned by tests/test_streaming.py::test_watermark_drops_late_rows.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def user_tier_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small static dimension (user -> tier) derived deterministically
    from the events table — the enrichment side of the stream-static
    join. At 100 TB this is the classic 'dimension table beside the
    stream' shape: small and slowly changing."""
    static = spark.read.parquet(table_path(sf_dir, "events"))
    return (
        static.select("user_id")
        .distinct()
        .withColumn("tier", F.pmod(F.col("user_id"), F.lit(3)).cast("int"))
    )


def enriched_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each arriving event is enriched with its
    user's tier via a join against the static dimension (broadcast
    while the dimension is under the session's broadcast threshold) — no
    state store involved (unlike stream-stream joins), no watermark
    needed on the static side; the planner re-reads the static relation
    per micro-batch, which is exactly how slowly-changing dims refresh
    mid-stream in production."""
    ev = read_events_stream(spark, sf_dir)
    dim = user_tier_dim(spark, sf_dir)
    return ev.join(dim, "user_id").select(
        "event_id", "user_id", "tier", "event_type", "value"
    )


def run_stream_foreach_batch_parquet(
    df: DataFrame, out_dir: str, timeout_sec: int = 120
):
    """Drive a stream into partitioned parquet via foreachBatch: each
    micro-batch lands under batch=<id> with mode=overwrite, so a
    replayed batch (checkpoint recovery) overwrites its own directory
    instead of duplicating rows — idempotent, the exactly-once sink
    recipe for stores without transactional streaming support."""
    import os

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    q = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise TimeoutError(f"foreachBatch stream did not finish in {timeout_sec}s")
    return q


def semi_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join: purchases preceded by a click
    from the same user within the preceding hour (the conversion
    filter). Semi is the join mode a filter-by-other-stream pipeline
    wants — the right side never lands in the output, and Spark drops
    a left row's state as soon as one match arrives OR the right
    watermark passes its interval bound."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") > F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    ).select("purchase_id", "user_id", "purchase_value")


# watermark (2h) + join interval (1h) + margin: the emitted-prefix lag
# behind the GLOBAL watermark, which Spark takes as the MIN of the two
# inputs' (max event time - delay)
OUTER_JOIN_SAFE_LAG = "4 hours"


def outer_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, padded
    with NULL purchase columns when no same-user purchase preceded it
    within an hour. Outer rows only emit once the watermark passes the
    left row's joinable range — end-of-stream rows whose state never
    expires are NOT emitted by an availableNow run, so the query (and
    its batch oracle) restrict to clicks at least OUTER_JOIN_SAFE_LAG
    older than the stream's max timestamp: the deterministic emitted
    prefix."""
    from sklearn_raster_spark.sources import read_table

    # The cutoff must be computed over the rows that actually DRIVE
    # each side's watermark. NULL-key purchases can never match any
    # click (SQL equality), so they're dropped EXPLICITLY before the
    # watermark node — if they were left in, Catalyst would infer
    # isnotnull(p_user_id) from the join condition and push it BELOW
    # the watermark anyway (left-outer infers it only on the right
    # side), and a NULL-key purchase carrying the stream's max ts
    # would then inflate the cutoff past what the watermark can flush:
    # the newest unmatched clicks silently vanish from an availableNow
    # run (round-9 random-instance fuzz, seed 101 — 4 rows).
    ev = read_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & F.col("user_id").isNotNull(),
                    F.col("ts"),
                )
            ),
        ).alias("m")
    ).collect()[0]["m"]
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
        .filter(
            F.col("click_ts")
            <= F.lit(cutoff) - F.expr(f"INTERVAL {OUTER_JOIN_SAFE_LAG}")
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(
            (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
        & (F.col("purchase_ts") > F.col("click_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        "click_id",
        "user_id",
        "purchase_id",
        (F.unix_timestamp("click_ts") - F.unix_timestamp("purchase_ts")).alias(
            "gap_seconds"
        ),
    )
