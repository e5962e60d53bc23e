"""Structured Streaming operators over the events table.

The reference has no streaming surface (SURVEY.md §2.9); the north rule
needs batch supersteps, not streams. These operators cover event
streams: tumbling-window aggregation with watermarked late-data handling
and custom stateful sessionization. Each has a batch twin that keeps it
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_event_counts_batch(events: DataFrame, minutes: int = 60) -> DataFrame:
    """Batch twin of the streaming windowed aggregation: tumbling-window
    counts + value sums per event_type."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.groupBy(
            F.window("ts", f"{minutes} minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def windowed_event_counts_stream(
    spark: SparkSession,
    parquet_path: str,
    schema,
    minutes: int = 60,
    watermark: str = "30 minutes",
    query_name: str = "events_windows",
):
    """readStream(parquet) -> watermark -> tumbling window agg -> memory
    sink. Returns the StreamingQuery; drive with processAllAvailable()."""
    events = (
        spark.readStream.schema(schema).format("parquet").load(parquet_path)
        # watermarks require TIMESTAMP (the testdata parquet is NTZ)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization via native session windows (merge events per user
    with < gap between them): (user_id, session_start, session_end,
    n_events, total_value). Works identically over readStream (append
    mode with watermark)."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 3).alias("total_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def sessionize_stream_stateful(
    spark: SparkSession,
    parquet_path: str,
    schema,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
    query_name: str = "sessions_stateful",
    max_files_per_trigger: int | None = None,
):
    """Custom stateful sessionization via ``applyInPandasWithState`` —
    the escape hatch for session logic the built-in ``session_window``
    cannot express (value-dependent gaps, per-session event caps, custom
    emit policy). This baseline reproduces ``sessionize_batch`` semantics
    (same-session iff ts - last_ts < gap) so the batch twin stays the
    oracle: a session row is emitted when an in-stream gap closes it, or
    when the event-time timeout (last_ts + gap under the watermark) fires
    for an idle user.

    State per user: (session_start_ms, last_ms, n_events, total_value).
    Output: (user_id, session_start, n_events, total_value) — identical
    shape to the batch twin.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ms = gap_minutes * 60 * 1000

    def fn(key, pdfs, state):
        import pandas as pd

        user = key[0]
        out = []
        if state.hasTimedOut:
            start_ms, last_ms, n, total = state.get
            out.append((user, start_ms, n, total))
            state.remove()
        else:
            rows = pd.concat(list(pdfs)).sort_values("ts")
            if state.exists:
                start_ms, last_ms, n, total = state.get
            else:
                start_ms = None
            for ts, val in zip(rows["ts"], rows["value"]):
                ms = int(ts.value // 1_000_000)
                if start_ms is None:
                    start_ms, last_ms, n, total = ms, ms, 0, 0.0
                elif ms - last_ms >= gap_ms:
                    out.append((user, start_ms, n, total))
                    start_ms, last_ms, n, total = ms, ms, 0, 0.0
                n += 1
                total += float(val)
                last_ms = max(last_ms, ms)
            state.update((int(start_ms), int(last_ms), int(n), float(total)))
            state.setTimeoutTimestamp(int(last_ms) + gap_ms)
        yield pd.DataFrame(
            out, columns=["user_id", "session_start_ms", "n_events", "total_value"]
        )

    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = (
        reader.load(parquet_path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, session_start_ms long, n_events long, total_value double",
        stateStructType="start_ms long, last_ms long, n long, total double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    out = sessions.select(
        "user_id",
        F.date_format(
            F.timestamp_millis(F.col("session_start_ms")), "yyyy-MM-dd HH:mm:ss"
        ).alias("session_start"),
        "n_events",
        F.round("total_value", 3).alias("total_value"),
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
