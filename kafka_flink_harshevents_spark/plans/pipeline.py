"""The reference's end-to-end dataflow, assembled.

Reference topology (``README.md:7-15`` of the reference):

    telemetry.raw ──Flink job──► violations.events ─┐
                   └───────────► device-status.events ┴─► consumer →
                                       Mongo docs / Redis counters+TTL

Engine topology (same semantics, Spark-first):

    derive_stage:   parsed telemetry → (violations wire, status wire)
    consumer_stage: unioned event stream → {violations, status, latency,
                    counters} DataFrames; sessions via the O9 operator

Every stage is a pure ``DataFrame → DataFrame`` function, so the same
code binds to ``spark.read`` (batch oracle) and ``spark.readStream``
(production). ``run_streaming_pipeline`` is the Kafka binding: two
derive queries + consumer queries, each with its own checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.operators.violations import (
    device_status_from_telemetry,
    violations_from_telemetry,
)
from kafka_flink_harshevents_spark.sources.kafka import (
    DEVICE_STATUS_TOPIC,
    TELEMETRY_TOPIC,
    VIOLATIONS_TOPIC,
    read_telemetry_stream,
    records_for_kafka,
)
from kafka_flink_harshevents_spark.streaming.consumer import (
    latency_records,
    route_device_status,
    route_violations,
    violation_type_counts,
)


def derive_stage(telemetry: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Flink-job equivalent (TelematicsViolationDeriverJob.java:93-183):
    parsed telemetry → (violations wire frames, device-status wire
    frames). Both branches are narrow — no shuffle anywhere before the
    Kafka hop, matching the reference's shuffle-free design (§4.2)."""
    violations = records_for_kafka(violations_from_telemetry(telemetry))
    status = records_for_kafka(device_status_from_telemetry(telemetry))
    return violations, status


def as_event_stream(wire: DataFrame, topic: str, received_at_ms=None) -> DataFrame:
    """Wrap wire frames as the consumer-side source shape
    (topic, value, kafka_received_at_ms) — what read_event_streams
    yields from a real broker; used to compose stages without one."""
    ts = F.lit(received_at_ms) if received_at_ms is not None else F.unix_millis(
        F.current_timestamp()
    )
    return wire.select(
        F.lit(topic).alias("topic"),
        F.col("value"),
        ts.cast("long").alias("kafka_received_at_ms"),
    )


def consumer_stage(events: DataFrame) -> dict[str, DataFrame]:
    """kafkaConsumer.js equivalent: route → validate → derive latency →
    count. Session consolidation is separate (streaming.sessions.O9 for
    streams, operators.sessions.sessionize_batch for batch oracles)
    because it is the only stateful member."""
    violations = route_violations(events)
    status = route_device_status(events)
    return {
        "violations": violations,
        "status": status,
        "latency": latency_records(violations),
        "counters": violation_type_counts(violations),
    }


def run_streaming_pipeline(
    spark: SparkSession,
    bootstrap: str,
    checkpoint_root: str,
    max_offsets_per_trigger: int | None = None,
):
    """Production Kafka binding: start the derive queries (telemetry →
    two event topics). Returns the running StreamingQuery handles.
    Consumer-side queries attach to the event topics the same way
    (read_event_streams → consumer_stage → sinks of choice)."""
    telemetry = read_telemetry_stream(
        spark,
        bootstrap,
        TELEMETRY_TOPIC,
        max_offsets_per_trigger=max_offsets_per_trigger,
    )
    v_wire, s_wire = derive_stage(telemetry)
    queries = []
    for wire, topic in ((v_wire, VIOLATIONS_TOPIC), (s_wire, DEVICE_STATUS_TOPIC)):
        q = (
            wire.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("topic", topic)
            .option("checkpointLocation", f"{checkpoint_root}/{topic}")
            .start()
        )
        queries.append(q)
    return queries


# Reference consumer cadences: latencies.json flushed every 5 s
# (kafkaConsumer.js:51), counter/memory report every 30 s
# (kafkaConsumer.js:100-102).
LATENCY_FLUSH_SECONDS = 5
COUNTER_REPORT_SECONDS = 30


def run_consumer_stage(
    spark: SparkSession,
    events: DataFrame,
    output_root: str,
    checkpoint_root: str,
    latency_trigger_seconds: int | None = LATENCY_FLUSH_SECONDS,
    counter_trigger_seconds: int | None = COUNTER_REPORT_SECONDS,
    session_ttl_seconds: int | None = None,
):
    """Start every consumer-side query of the reference topology off one
    streaming ``events`` DataFrame (topic, value, kafka_received_at_ms —
    ``read_event_streams`` shape, or any file-stream stand-in):

    - **latency**: append-mode JSONL sink on a 5 s trigger — the
      ``latencies.json`` flush loop (kafkaConsumer.js:51,84-98);
    - **counters**: complete-mode ``foreachBatch`` snapshot on a 30 s
      trigger — the Redis counter report (kafkaConsumer.js:100-102,
      229-233). Complete mode is exact here because the aggregate's
      cardinality is the violation-type enum: the snapshot is tiny at any
      input scale, which is precisely when complete mode is the right
      Spark shape for a Redis-style "current totals" view;
    - **sessions** (optional, pass ``session_ttl_seconds``): the O9
      stateful consolidation → append JSONL of finalized sessions.

    Returns ``{name: StreamingQuery}``. Each query owns a checkpoint
    under ``checkpoint_root`` so any of them can restart independently —
    the engine's upgrade on the reference's shared single-process
    consumer (SURVEY §2.10 T5/T6).
    """
    from kafka_flink_harshevents_spark.streaming.sessions import (
        consolidate_status_sessions,
    )

    stage = consumer_stage(events)
    queries: dict[str, object] = {}

    lat = stage["latency"].writeStream.format("json").outputMode("append").option(
        "path", f"{output_root}/latencies"
    ).option("checkpointLocation", f"{checkpoint_root}/latencies")
    if latency_trigger_seconds is not None:
        lat = lat.trigger(processingTime=f"{latency_trigger_seconds} seconds")
    queries["latency"] = lat.queryName("latency_records").start()

    def _snapshot(bdf: DataFrame, batch_id: int) -> None:
        # overwrite = the current totals, exactly a Redis MGET snapshot
        bdf.withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite").json(
            f"{output_root}/counters_current"
        )

    cnt = (
        stage["counters"]
        .writeStream.outputMode("complete")
        .foreachBatch(_snapshot)
        .option("checkpointLocation", f"{checkpoint_root}/counters")
    )
    if counter_trigger_seconds is not None:
        cnt = cnt.trigger(processingTime=f"{counter_trigger_seconds} seconds")
    queries["counters"] = cnt.queryName("violation_type_counters").start()

    if session_ttl_seconds is not None:
        ses = (
            consolidate_status_sessions(stage["status"], session_ttl_seconds)
            .writeStream.format("json")
            .outputMode("append")
            .option("path", f"{output_root}/sessions")
            .option("checkpointLocation", f"{checkpoint_root}/sessions")
        )
        queries["sessions"] = ses.queryName("status_sessions").start()
    return queries


def run_full_topology(
    spark: SparkSession,
    bootstrap: str,
    checkpoint_root: str,
    output_root: str,
    max_offsets_per_trigger: int | None = None,
    session_ttl_seconds: int | None = 300,
):
    """The ENTIRE reference topology as one callable, both stages:
    derive (telemetry.raw → violations.events + device-status.events) and
    consumer (event topics → latency JSONL + counter snapshots +
    session consolidation), mirroring README.md:7-15 of the reference
    end to end. Returns every StreamingQuery handle."""
    from kafka_flink_harshevents_spark.sources.kafka import read_event_streams

    queries = {
        f"derive_{i}": q
        for i, q in enumerate(
            run_streaming_pipeline(
                spark, bootstrap, checkpoint_root, max_offsets_per_trigger
            )
        )
    }
    events = read_event_streams(spark, bootstrap)
    queries.update(
        run_consumer_stage(
            spark,
            events,
            output_root,
            checkpoint_root,
            session_ttl_seconds=session_ttl_seconds,
        )
    )
    return queries


__all__ = [
    "derive_stage",
    "as_event_stream",
    "consumer_stage",
    "run_streaming_pipeline",
    "run_consumer_stage",
    "run_full_topology",
]
