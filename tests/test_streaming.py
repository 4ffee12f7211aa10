"""Streaming-execution semantics (§2.10): the same window plans running
under readStream with availableNow micro-batching, watermarks, stateful
dedup, and the foreachBatch partitioned sink. No SQL oracle exists for
these by nature — batch/stream result equivalence IS the check."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.sources.catalog import load_table
from etl_transparencia_sergipe_spark.streaming import (
    events_stream,
    foreach_batch_partitioned_sink,
    run_to_memory,
    session_stats,
    tumbling_counts,
)


def _collect_sorted(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_tumbling_equals_batch(spark, sf_dir):
    batch = tumbling_counts(load_table(spark, "events", sf_dir), "10 minutes")
    stream = tumbling_counts(
        events_stream(spark, sf_dir), "10 minutes", watermark="10 minutes")
    q = run_to_memory(stream, "t_tumb", output_mode="complete")
    try:
        got = _collect_sorted(
            spark.sql("SELECT * FROM t_tumb"),
            ["win_start", "event_type", "n", "total_value"])
        want = _collect_sorted(
            batch, ["win_start", "event_type", "n", "total_value"])
        assert got == want
    finally:
        q.stop()


def test_stream_session_windows_equal_batch(spark, sf_dir):
    batch = session_stats(load_table(spark, "events", sf_dir), "5 minutes")
    stream = session_stats(
        events_stream(spark, sf_dir), "5 minutes", watermark="10 minutes")
    q = run_to_memory(stream, "t_sess", output_mode="complete")
    try:
        got = _collect_sorted(
            spark.sql("SELECT * FROM t_sess"),
            ["user_id", "sess_start", "sess_end", "n_events"])
        want = _collect_sorted(
            batch, ["user_id", "sess_start", "sess_end", "n_events"])
        assert got == want
    finally:
        q.stop()


def test_drop_duplicates_within_watermark(spark, sf_dir):
    # stateful streaming dedup on (user_id, event_type)
    stream = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    q = run_to_memory(stream, "t_dedup", output_mode="append")
    try:
        got = spark.sql(
            "SELECT COUNT(*) AS n, COUNT(DISTINCT user_id || '_' || event_type) AS d"
            " FROM t_dedup").collect()[0]
        # every surviving row is a distinct key; count equals distinct count
        assert got.n == got.d
        batch_keys = (
            load_table(spark, "events", sf_dir)
            .select("user_id", "event_type").distinct().count()
        )
        # single-file source => single watermark epoch => exact global dedup
        assert got.n == batch_keys
    finally:
        q.stop()


def test_foreach_batch_partitioned_sink(spark, sf_dir):
    out = tempfile.mkdtemp(prefix="sink_")
    try:
        stream = events_stream(spark, sf_dir)
        q = (
            stream.writeStream
            .foreachBatch(foreach_batch_partitioned_sink(out))
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        written = spark.read.parquet(out)
        src = load_table(spark, "events", sf_dir)
        assert written.count() == src.count()
        # hive layout: partition columns recovered from paths
        assert {"event_type", "event_date"} <= set(written.columns)
        n_parts = written.select("event_type", "event_date").distinct().count()
        assert n_parts > 1
        # a replayed epoch overwrites its own rows instead of appending:
        # the one events file was epoch 0; replay it twice
        sink = foreach_batch_partitioned_sink(out)
        for _ in range(2):
            sink(src, 0)
        assert spark.read.parquet(out).count() == src.count()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    """§2.10 stream-stream join: watermarked interval join of the click
    stream to the purchase stream matches the identical batch join."""
    from etl_transparencia_sergipe_spark.streaming.windows import (
        click_purchase_join,
    )

    batch = click_purchase_join(load_table(spark, "events", sf_dir))
    stream = click_purchase_join(
        events_stream(spark, sf_dir, max_files_per_trigger=1),
        watermark="10 minutes")
    q = run_to_memory(stream, "t_ssj", output_mode="append")
    try:
        cols = ["user_id", "click_id", "purchase_id", "c_ts", "b_ts"]
        got = _collect_sorted(spark.sql("SELECT * FROM t_ssj"), cols)
        want = _collect_sorted(batch, cols)
        assert got == want and len(got) > 0
    finally:
        q.stop()


def test_normalize_event_ts_all_encodings(spark):
    """The generator has shipped events.ts as raw nanos (long) and as
    micros TIMESTAMP_NTZ across rounds; both must normalize to the same
    session-zone timestamp, and an already-zoned ts must pass through."""
    from pyspark.sql import functions as F

    from etl_transparencia_sergipe_spark.sources.catalog import (
        normalize_event_ts,
    )

    micros = 1_700_000_000_123_456  # 2023-11-14T22:13:20.123456Z
    as_nanos = spark.range(1).select((F.lit(micros) * 1000).alias("ts"))
    as_ntz = spark.range(1).select(
        F.timestamp_micros(F.lit(micros)).cast("timestamp_ntz").alias("ts"))
    as_ltz = spark.range(1).select(
        F.timestamp_micros(F.lit(micros)).alias("ts"))

    vals = set()
    for df in (as_nanos, as_ntz, as_ltz):
        out = normalize_event_ts(df)
        assert out.schema["ts"].dataType.simpleString() == "timestamp"
        vals.add(out.collect()[0].ts)
    assert len(vals) == 1
    assert vals.pop().isoformat() == "2023-11-14T22:13:20.123456"
