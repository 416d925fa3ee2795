"""End-to-end topology: synthetic telemetry → derive stage → wire hop →
consumer stage, in batch AND as a live stream; the two must agree
(batch is the streaming oracle, SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.functions.json_lenient import parse_telemetry
from kafka_flink_harshevents_spark.plans.pipeline import (
    as_event_stream,
    consumer_stage,
    derive_stage,
)
from kafka_flink_harshevents_spark.sources.kafka import (
    DEVICE_STATUS_TOPIC,
    VIOLATIONS_TOPIC,
)
from kafka_flink_harshevents_spark.sources.synthetic import synthetic_telemetry

N = 3000


@pytest.fixture(scope="module")
def wire(spark):
    tel = synthetic_telemetry(spark, N, n_devices=9, seed=11)
    v_wire, s_wire = derive_stage(tel)
    return v_wire.cache(), s_wire.cache()


def test_batch_topology(spark, wire):
    v_wire, s_wire = wire
    events = as_event_stream(v_wire, VIOLATIONS_TOPIC, received_at_ms=1_000).unionByName(
        as_event_stream(s_wire, DEVICE_STATUS_TOPIC, received_at_ms=1_000)
    )
    out = consumer_stage(events)

    tel = synthetic_telemetry(spark, N, n_devices=9, seed=11)
    # violations that survive the wire hop == violations derived directly
    from kafka_flink_harshevents_spark.operators.violations import (
        device_status_from_telemetry,
        violations_from_telemetry,
    )

    assert out["violations"].count() == violations_from_telemetry(tel).count()
    assert out["status"].count() == device_status_from_telemetry(tel).count()

    counters = {r["violation_type"]: r["n"] for r in out["counters"].collect()}
    assert set(counters) == {"harsh_brake", "harsh_accel"}
    assert sum(counters.values()) == out["violations"].count()

    # latency only for rows carrying mqtt_sent_at_ms (all synthetic rows do)
    assert out["latency"].count() == out["violations"].count()
    assert out["latency"].filter(F.col("latency_ms").isNull()).count() == 0


def test_streaming_topology_matches_batch(spark, wire, tmp_path):
    """Same wire frames through readStream: routed counts match batch."""
    v_wire, s_wire = wire
    d = tmp_path / "events"
    d.mkdir()
    # one file per topic — the value column is the wire JSON
    v_rows = [r["value"] for r in v_wire.collect()]
    s_rows = [r["value"] for r in s_wire.collect()]
    (d / "v.jsonl").write_text("\n".join(v_rows) + "\n")
    (d / "s.jsonl").write_text("\n".join(s_rows) + "\n")

    # reconstruct (topic, value) from the payload's own event_type, as a
    # broker-free stand-in for the two-topic subscription
    stream = spark.readStream.text(str(d))
    ev = stream.select(
        F.when(
            F.get_json_object("value", "$.event_type") == "violation",
            F.lit(VIOLATIONS_TOPIC),
        )
        .otherwise(F.lit(DEVICE_STATUS_TOPIC))
        .alias("topic"),
        "value",
        F.lit(1_000).cast("long").alias("kafka_received_at_ms"),
    )
    out = consumer_stage(ev)
    q1 = (
        out["violations"]
        .writeStream.format("memory")
        .queryName("e2e_v")
        .outputMode("append")
        .start()
    )
    q2 = (
        out["status"]
        .writeStream.format("memory")
        .queryName("e2e_s")
        .outputMode("append")
        .start()
    )
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
        assert spark.table("e2e_v").count() == v_wire.count()
        assert spark.table("e2e_s").count() == s_wire.count()
        # spot-check full row content across the hop
        one = spark.table("e2e_v").orderBy("device_uuid", "timestamp").first()
        assert one["event_type"] == "violation"
        assert one["violation_type"] in ("harsh_brake", "harsh_accel")
    finally:
        q1.stop()
        q2.stop()


def test_one_parse_per_stage(spark):
    """Each consumer frame parses twice: the telemetry payload once and
    the wire payload once. Predicate pushdown must not copy either parse
    into the drop rule, the derive gates or the truthiness checks."""
    raw = spark.createDataFrame([('{"device_uuid": "d", "timestamp": 1}',)], "value string")
    v_wire, s_wire = derive_stage(parse_telemetry(raw))
    events = as_event_stream(v_wire, VIOLATIONS_TOPIC, received_at_ms=1_000).unionByName(
        as_event_stream(s_wire, DEVICE_STATUS_TOPIC, received_at_ms=1_000)
    )
    out = consumer_stage(events)
    for name in ("latency", "counters", "status"):
        plan = out[name]._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json(") == 2, name
