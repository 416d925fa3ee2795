"""Kafka source/sink wiring (S2, S3, K1, K2 in SURVEY.md §2.1-2.2).

The reference's topology (``README.md:7-15``):

    telemetry.raw --Flink--> violations.events + device-status.events
                  --Node consumer--> MongoDB/Redis

Here the derive stage is ``read_telemetry_stream`` → operators →
``records_for_kafka`` → the Kafka sink (``plans/pipeline.py::
run_streaming_pipeline``); the consumer stage is ``read_event_streams``
(both topics in one subscription, topic column kept for routing — O3).

No broker runs in the test container, so these are exercised indirectly:
``records_for_kafka`` (the serialization half of the sink) is unit-tested
batch-side, and the full pipeline is driven through file→memory streams
in tests/test_streaming.py. The options mirror the reference's configs:
value-only string deserialization (TelematicsViolationDeriverJob.java:53),
``fromBeginning:false`` → ``startingOffsets=latest`` (kafkaConsumer.js:373),
keyed produce on device_uuid (mqttToKafka.js:103-106).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.functions.json_lenient import parse_telemetry

TELEMETRY_TOPIC = "telemetry.raw"
VIOLATIONS_TOPIC = "violations.events"
DEVICE_STATUS_TOPIC = "device-status.events"


def read_telemetry_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str = TELEMETRY_TOPIC,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming telemetry source (S2): Kafka → lenient-parsed columns.

    ``maxOffsetsPerTrigger`` is the backpressure valve the reference
    lacks (SURVEY.md §4.2): bound each micro-batch so an offset-replay
    burst (the 391 s latencies in ``latencies.json``) degrades
    throughput, not stability.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        # malformed bytes must reach the lenient parser, not kill the query
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    raw = reader.load().select(
        F.col("key").cast("string").alias("kafka_key"),
        F.col("value").cast("string").alias("value"),
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        (F.unix_millis(F.col("timestamp"))).alias("kafka_received_at_ms"),
    )
    return parse_telemetry(raw, value_col="value")


def read_event_streams(
    spark: SparkSession,
    bootstrap: str,
    topics: tuple[str, ...] = (VIOLATIONS_TOPIC, DEVICE_STATUS_TOPIC),
    starting_offsets: str = "latest",
) -> DataFrame:
    """Consumer-side source (S3): one subscription over both event topics,
    ``topic`` column preserved so downstream routing (O3) is a filter,
    exactly like the reference's single kafkajs group consuming two
    topics (kafkaConsumer.js:371-374)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
        .load()
        .select(
            F.col("topic"),
            F.col("value").cast("string").alias("value"),
            F.unix_millis(F.col("timestamp")).alias("kafka_received_at_ms"),
        )
    )


def records_for_kafka(df: DataFrame, key_col: str | None = "device_uuid") -> DataFrame:
    """Serialize event rows to Kafka's (key, value) wire shape (K1/K2).

    - key = ``device_uuid`` (or ``"unknown-device"`` when blank — the
      bridge's defaulting rule P7, mqttToKafka.js:60-64) so per-device
      ordering survives partitioning;
    - value = JSON with **absent-field omission**
      (``ignoreNullFields=true`` ≙ Jackson's has()-guarded puts,
      TelematicsViolationDeriverJob.java:160-179).
    """
    # the whole event object is serialized; the key is a routing copy
    value = F.to_json(F.struct(*df.columns), {"ignoreNullFields": "true"})
    if key_col is None:
        return df.select(value.alias("value"))
    key = F.when(
        F.col(key_col).isNull() | (F.length(F.trim(F.col(key_col))) == 0),
        F.lit("unknown-device"),
    ).otherwise(F.trim(F.col(key_col)))
    return df.select(key.alias("key"), value.alias("value"))
