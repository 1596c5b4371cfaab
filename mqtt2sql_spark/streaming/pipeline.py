"""Structured Streaming ingest pipeline (SURVEY.md §3.1 Spark mapping).

    readStream (MQTT source / file stand-in)
      → exclusion filter (A2, exact match)
      → wildcard subscription filter (A3)
      → projection (A4)
      → foreachBatch { MqttUpsertSink.process_batch }   # A5 + A8-A10

Batch/stream parity is the core invariant (SURVEY.md §5 item 3): replaying
the same messages through this pipeline must converge to exactly the
batch-computed `mqtt` table and diff-only history — asserted by
tests/test_streaming.py.

The reference's delivery guarantee is at-most-once (QoS 0 subscribe,
mqtt2sql.py:757,760); checkpointing + idempotent merge upgrade this to
at-least-once with dedup-by-key — a documented improvement (SURVEY.md
§4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from mqtt2sql_spark.functions.topics import topic_excluded, topic_matches
from mqtt2sql_spark.sinks.upsert import MqttUpsertSink

MESSAGE_SCHEMA = (
    "ts timestamp, topic string, value binary, qos int, retain int, "
    "event_id long"
)


def message_file_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stand-in for the MQTT connector: each parquet file in
    input_dir becomes (up to) one micro-batch — deterministic replay for
    parity tests, same shape the real connector emits."""
    return (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def apply_filters(
    stream: DataFrame,
    subscribe_patterns: list[str] | None = None,
    exclude_topics: list[str] | None = None,
) -> DataFrame:
    """A2/A3: broker-side wildcard subscription + client-side exact
    exclusion, preserving the reference's wildcard/exact asymmetry."""
    out = stream
    if subscribe_patterns:
        pred = None
        for p in subscribe_patterns:
            c = topic_matches("topic", p)
            pred = c if pred is None else (pred | c)
        out = out.filter(pred)
    if exclude_topics:
        out = out.filter(~topic_excluded("topic", exclude_topics))
    return out


def start_ingest(
    stream: DataFrame,
    sink: MqttUpsertSink,
    checkpoint_dir: str,
    subscribe_patterns: list[str] | None = None,
    exclude_topics: list[str] | None = None,
    once: bool = False,
) -> StreamingQuery:
    """Filter the message stream and start the upsert sink on it.  With
    `once`, the query drains what is available and stops (the daemon's
    --once catch-up mode) instead of running until stopped."""
    filtered = apply_filters(stream, subscribe_patterns, exclude_topics)
    writer = (
        filtered.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
