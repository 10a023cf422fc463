"""Structured Streaming layer: the reference's hot path (MQTT → parse →
route → write, /root/reference/main.go:15-36) as a streaming query, plus
the event-time operators the reference lacks entirely (SURVEY.md §2.2:
watermarks, tumbling/sliding/session windows, stateful dedup).

Delivery semantics (SURVEY.md §2.1 "Delivery semantics"): the
reference is at-most-once across restarts (volatile channel + Memory
tables).  Here the live MQTT path is at-least-once from the broker into
the reader's buffer, and the checkpoint carries the offsets: a restarted
query numbers ``seq`` on from the checkpointed end offset.  MQTT keeps
no log, so a batch planned before a crash re-reads as empty: lost if its
sink write had not finished, written once if it had (see
``streaming.mqtt_source``).  Two gaps remain, tracked in ROADMAP item 3:
the daemon never applies ``dedup_effectively_once``, and
``DemuxSink.foreach_batch`` ignores ``epoch_id``, so a replayed epoch of
a replayable source appends again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

#: The wire schema every message source emits (S1/S2 in SURVEY.md §2.1):
#: the reference's Message{Topic, Value} plus an engine-added sequence
#: number (for schema-decision ordering + dedup) and ingest timestamp
#: (the reference drops payload timestamps; we need event time for
#: watermarks — documented deviation, SURVEY.md §4.3).
MESSAGE_SCHEMA = "topic string, payload string, seq long, ingest_ts timestamp"


def stream_messages_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """File-based message stream (JSON lines in MESSAGE_SCHEMA shape) —
    the broker-free stand-in used by tests; the MQTT source emits the
    identical schema, so everything downstream is source-agnostic."""
    return spark.readStream.schema(MESSAGE_SCHEMA).json(path)


def run_ingest_stream(
    source: DataFrame,
    sink,
    checkpoint_dir: str,
    trigger_once: bool = False,
    trigger_interval: str | None = None,
) -> StreamingQuery:
    """Wire a message stream through parse → demux sink.

    ``sink`` is a DemuxSink; its ``foreach_batch`` parses and routes each
    micro-batch (create-on-first-write + positional schema checks +
    dead-letter).  The checkpoint records offsets, but the sink is not
    epoch-idempotent (see the module docstring).

    Each batch runs in the per-query session Spark clones at ``start()``,
    and this stream lowers that session's AQE ``minPartitionSize`` to one
    byte.  A micro-batch's shuffles are far below the 1 MiB default, so
    AQE would coalesce the accepted write's REBALANCE into ONE task that
    creates every table's file in turn; with the floor gone AQE sizes a
    small shuffle at total bytes / ``defaultParallelism``, and the write
    runs about one task per core.  Shuffles over cores x 1 MiB coalesce
    as before, each table still lands in one writer unless the skew
    split cuts a hot one, and the caller's session keeps its setting."""

    def foreach_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.sparkSession.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b"
        )
        sink.foreach_batch(batch_df, epoch_id)

    writer = (
        source.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(foreach_batch)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def dedup_effectively_once(
    messages: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """At-least-once → effectively-once: drop duplicate message ids
    within the watermark horizon (bounded state, unlike a global
    dropDuplicates).  It keys on ``seq``.  The live reader numbers
    ``seq`` on from the checkpoint, so a restart re-uses none, but a
    QoS-1 redelivery gets a fresh ``seq`` and passes; the daemon does not
    apply it (ROADMAP item 3)."""
    return messages.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["seq"]
    )


# ---------------------------------------------------------------------------
# Event-time windowed aggregations (absent from the reference; the batch
# twins are oracle-checked via the time_window query)
# ---------------------------------------------------------------------------


def tumbling_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
            "total",
        )
    )


def sliding_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "30 minutes",
    slide: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), key_col, "n")
    )


def session_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows: activity bursts per key separated by >= gap."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
            "total",
        )
    )


def interval_join_stream(
    clicks: DataFrame,
    views: DataFrame,
    max_gap: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream interval join: views within ``max_gap`` BEFORE each
    click by the same user (the attribution join; batch twin =
    ``queries/quality_queries.interval_join``).

    Both sides carry a watermark and the join condition bounds event
    time in BOTH directions, so Spark can expire join state: a buffered
    view is dropped once the watermark passes vts + max_gap, a click
    once it passes cts.  Without the two-sided bound the state store
    grows forever — the classic stream-stream join mistake.

    Expects ``clicks(click_id, user_id, cts)`` and
    ``views(view_id, v_user_id, vts)``.
    """
    c = clicks.withWatermark("cts", watermark)
    v = views.withWatermark("vts", watermark)
    return c.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("vts") >= F.col("cts") - F.expr(f"INTERVAL {max_gap}"))
        & (F.col("vts") <= F.col("cts")),
    ).select(
        "click_id",
        "view_id",
        "user_id",
        # second-truncated diff, matching the batch twin's gap semantics
        F.expr(
            "timestampdiff(SECOND, date_trunc('SECOND', vts),"
            " date_trunc('SECOND', cts))"
        ).alias("gap_s"),
    )
