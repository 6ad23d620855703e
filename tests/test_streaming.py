"""Streaming correctness: each stream's availableNow run must equal its
batch dual (which is itself oracle-checked against DuckDB)."""

from sklearn_raster_spark.operators.events import q26_tumbling_window
from sklearn_raster_spark.streaming import (
    run_stream_to_memory,
    session_counts_stream,
    tumbling_counts_stream,
)


def _rows_set(rows):
    return sorted(tuple(r) for r in rows)


def test_tumbling_stream_matches_batch(spark, sf_dir):
    stream_df = tumbling_counts_stream(spark, sf_dir)
    assert stream_df.isStreaming
    q = run_stream_to_memory(stream_df, "tumbling_test")
    got = spark.sql("SELECT * FROM tumbling_test").collect()
    q.stop()

    want = (
        q26_tumbling_window(spark, sf_dir)
        .select("window_start", "event_type", "n_events", "total_value")
        .collect()
    )
    assert _rows_set([(r.window_start, r.event_type, r.n_events, r.total_value) for r in got]) == \
        _rows_set([(r.window_start, r.event_type, r.n_events, r.total_value) for r in want])


def test_dedup_stream_matches_batch(spark, sf_dir):
    """dropDuplicatesWithinWatermark keeps one row per key; with all
    data inside the watermark this equals the batch keep-first key set
    (q29) — values may differ in ties, keys may not."""
    from sklearn_raster_spark.operators.events import q29_dedup_keep_first
    from sklearn_raster_spark.streaming import dedup_stream, run_append_stream_to_memory

    q = run_append_stream_to_memory(dedup_stream(spark, sf_dir), "dedup_cmp")
    got = spark.sql("SELECT user_id, event_type FROM dedup_cmp").collect()
    q.stop()
    want = q29_dedup_keep_first(spark, sf_dir).select("user_id", "event_type").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_session_stream_runs(spark, sf_dir):
    stream_df = session_counts_stream(spark, sf_dir)
    assert stream_df.isStreaming
    q = run_stream_to_memory(stream_df, "session_test")
    got = spark.sql("SELECT * FROM session_test").collect()
    q.stop()
    assert len(got) > 0
    # every session must contain at least one event and end after start
    for r in got:
        assert r.n_events >= 1
        assert r.session_end > r.session_start


def test_interval_join_stream_matches_batch(spark, sf_dir):
    """Stream-stream interval join under availableNow must equal the
    batch interval join (q38)."""
    from sklearn_raster_spark.operators.asof import q38_interval_join
    from sklearn_raster_spark.streaming import interval_join_stream, run_append_stream_to_memory

    s = interval_join_stream(spark, sf_dir)
    assert s.isStreaming
    q = run_append_stream_to_memory(s, "ivj")
    got = spark.sql("SELECT click_id, purchase_id, user_id, gap_seconds FROM ivj").collect()
    q.stop()
    want = q38_interval_join(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_streaming_inference_matches_batch(spark, sf_dir):
    """Compiled-model scoring over a stream equals batch scoring."""
    from sklearn_raster_spark.sources import read_table
    from sklearn_raster_spark.streaming import run_append_stream_to_memory, scored_events_stream

    s = scored_events_stream(spark, sf_dir)
    assert s.isStreaming
    q = run_append_stream_to_memory(s, "scored")
    got = spark.sql("SELECT event_id, score FROM scored").collect()
    q.stop()
    ev = read_table(spark, sf_dir, "events")
    want = {r.event_id: 1.0 + 2.5 * r.value for r in ev.select("event_id", "value").collect()}
    assert len(got) == len(want)
    for r in got:
        assert abs(r.score - want[r.event_id]) < 1e-12


def test_watermark_drops_late_rows(spark, tmp_path):
    """Stragglers older than the finalized horizon are dropped and
    every window emits exactly once (bounded state + no duplicate
    appends). File order = micro-batch order via maxFilesPerTrigger."""
    import json
    import os
    import time

    from pyspark.sql.types import StructField, StructType, TimestampType

    from sklearn_raster_spark.streaming import (
        file_stream_windowed_counts,
        run_append_stream_to_memory,
    )

    src = tmp_path / "late_src"
    src.mkdir()

    def write_file(name, stamps, age):
        p = src / name
        p.write_text("\n".join(json.dumps({"ts": s}) for s in stamps) + "\n")
        os.utime(p, (time.time() - age,) * 2)

    write_file("a.json", ["2024-01-01 09:30:00", "2024-01-01 10:05:00"], 90)
    write_file("b.json", ["2024-01-01 11:05:00"], 60)
    # two stragglers for the long-finalized [08:00, 09:00) window,
    # arriving when the watermark is already hours past it
    write_file("c.json", ["2024-01-01 08:40:00", "2024-01-01 12:05:00"], 30)
    write_file("d.json", ["2024-01-01 08:45:00", "2024-01-01 13:05:00"], 0)

    schema = StructType([StructField("ts", TimestampType())])
    counts = file_stream_windowed_counts(spark, str(src), schema)
    q = run_append_stream_to_memory(counts, "late_demo")
    got = {
        r.window_start.strftime("%H:%M"): r.n_events
        for r in spark.sql("SELECT * FROM late_demo").collect()
    }
    # the stragglers' window NEVER appears (they were dropped, not
    # re-aggregated into a duplicate append of a finalized window) and
    # each emitted window appears exactly once
    assert got == {"09:00": 1, "10:00": 1, "11:00": 1}
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 2


def test_stream_static_join_matches_batch(spark, sf_dir):
    """Stream-static broadcast enrichment under availableNow equals the
    batch join (no state store, no watermark on the static side)."""
    from sklearn_raster_spark.sources import read_table
    from sklearn_raster_spark.streaming import (
        enriched_events_stream,
        run_append_stream_to_memory,
        user_tier_dim,
    )
    from pyspark.sql import functions as F

    s = enriched_events_stream(spark, sf_dir)
    assert s.isStreaming
    q = run_append_stream_to_memory(s, "enriched")
    got = spark.sql("SELECT event_id, tier FROM enriched").collect()
    q.stop()
    ev = read_table(spark, sf_dir, "events")
    want = (
        ev.join(F.broadcast(user_tier_dim(spark, sf_dir)), "user_id")
        .select("event_id", "tier")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch idempotent parquet sink: the landed rows equal the
    batch result exactly (count + content)."""
    from sklearn_raster_spark.streaming import (
        enriched_events_stream,
        run_stream_foreach_batch_parquet,
    )

    out = str(tmp_path / "landed")
    run_stream_foreach_batch_parquet(enriched_events_stream(spark, sf_dir), out)
    landed = spark.read.option("basePath", out).parquet(out + "/batch=*")
    got = landed.select("event_id", "tier", "value").collect()
    q2 = spark.sql("SELECT 1").collect()  # session still healthy
    assert q2[0][0] == 1
    from sklearn_raster_spark.sources import read_table
    from sklearn_raster_spark.streaming import user_tier_dim
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_dir, "events")
    want = (
        ev.join(F.broadcast(user_tier_dim(spark, sf_dir)), "user_id")
        .select("event_id", "tier", "value")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
