"""Golden in/out tests for the telemetry → events derivation, built from
the reference's documented payload pairs (README.md:564-669) and exact
code semantics (FIXTURES.md edge-case list)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark import schemas
from kafka_flink_harshevents_spark.functions import parse_telemetry
from kafka_flink_harshevents_spark.operators import (
    detect_violations_from_imu,
    device_status_from_telemetry,
    violations_from_telemetry,
)


def _telemetry_json(**overrides):
    base = {
        "device_uuid": "device-1",
        "mqtt_sent_at_ms": 1760000000123,
        "timestamp": 1760000000,
        "dashcam_power_source": "external",
        "speed_kph": 42.5,
        "accel_y": 0.1,
        "location": {"type": "Point", "coordinates": [72.5, 21.5]},
        "vehicle_id": "65f000000000000000000001",
        "account_id": "65f000000000000000000002",
        "violations": [],
    }
    base.update(overrides)
    return json.dumps(base)


def _parse(spark, payloads):
    df = spark.createDataFrame([Row(value=p) for p in payloads])
    return parse_telemetry(df)


def test_explode_allowlist_and_ts_coalesce(spark):
    payloads = [
        # two allowed violations; first has own ts, second coalesces to payload ts
        _telemetry_json(
            violations=[
                {
                    "timestamp": 1760000005,
                    "type": "harsh_brake",
                    "accel_y": -3.1,
                    "speed_kph": 55.0,
                    "delta_speed": -12.0,
                },
                {
                    "type": "harsh_accel",
                    "accel_y": 3.4,
                    "speed_kph": 20.0,
                    "delta_speed": 9.0,
                },
            ]
        ),
        # disallowed type filtered out (F4)
        _telemetry_json(
            violations=[{"type": "overspeed", "accel_y": 0.0, "speed_kph": 120.0}]
        ),
        # empty array emits nothing (O1: explode not explode_outer)
        _telemetry_json(violations=[]),
    ]
    out = violations_from_telemetry(_parse(spark, payloads))
    rows = {r["violation_type"]: r for r in out.collect()}
    assert set(rows) == {"harsh_brake", "harsh_accel"}
    assert rows["harsh_brake"]["timestamp"] == 1760000005  # own ts wins
    assert rows["harsh_accel"]["timestamp"] == 1760000000  # coalesced (P4)
    assert rows["harsh_brake"]["event_type"] == "violation"
    assert rows["harsh_brake"]["details"]["delta_speed"] == -12.0
    assert rows["harsh_accel"]["details"]["accel_y"] == 3.4
    assert rows["harsh_brake"]["location"]["coordinates"] == [72.5, 21.5]
    assert rows["harsh_brake"]["mqtt_sent_at_ms"] == 1760000000123


def test_violation_zero_ts_coalesces(spark):
    # element ts == 0 is not > 0 → falls back to payload ts (Java :165-166)
    payloads = [
        _telemetry_json(
            violations=[{"timestamp": 0, "type": "harsh_brake", "accel_y": -3.0}]
        )
    ]
    out = violations_from_telemetry(_parse(spark, payloads)).collect()
    assert out[0]["timestamp"] == 1760000000


def test_double_encoded_payload_unwrapped(spark):
    inner = _telemetry_json(
        violations=[{"type": "harsh_accel", "accel_y": 3.0, "speed_kph": 10.0}]
    )
    double_encoded = json.dumps(inner)  # wraps in quotes + escapes
    out = violations_from_telemetry(_parse(spark, [double_encoded])).collect()
    assert len(out) == 1
    assert out[0]["violation_type"] == "harsh_accel"


@pytest.mark.parametrize(
    "payload, kept",
    [
        pytest.param("{not json", False, id="malformed"),
        pytest.param(None, False, id="null-value"),
        pytest.param("", False, id="empty"),
        pytest.param("   ", False, id="blank"),
        pytest.param("null", False, id="json-null"),
        pytest.param("[]", False, id="empty-array"),
        pytest.param(json.dumps("{not json"), False, id="double-encoded-malformed"),
        # one drifting field: Jackson-style field-level leniency keeps it
        pytest.param(_telemetry_json(timestamp="1760000000"), True, id="string-timestamp"),
    ],
)
def test_malformed_json_dropped(spark, payload, kept):
    """A record is dropped only when wholly unparseable; a partially-valid
    one survives with nulls in its drifted fields (json_lenient.py)."""
    df = spark.createDataFrame(
        [("edge", payload), ("good", _telemetry_json())], "k string, value string"
    )
    rows = {r["k"]: r for r in parse_telemetry(df).collect()}
    assert sorted(rows) == (["edge", "good"] if kept else ["good"])
    if kept:
        assert rows["edge"]["device_uuid"] == "device-1"
        assert rows["edge"]["timestamp"] is None


def test_battery_gate(spark):
    payloads = [
        _telemetry_json(dashcam_power_source="battery"),
        _telemetry_json(dashcam_power_source="Battery"),  # case-insensitive
        _telemetry_json(dashcam_power_source="external"),
        _telemetry_json(dashcam_power_source="vehicle"),
        _telemetry_json(dashcam_power_source="battery", timestamp=0),  # ts gate
    ]
    out = device_status_from_telemetry(_parse(spark, payloads))
    rows = out.collect()
    assert len(rows) == 2
    for r in rows:
        assert r["event_type"] == "device_status"
        assert r["status_type"] == "cable-unplugged"
        assert r["action"] == "touch"


def test_detect_violations_from_imu(spark):
    payloads = [
        _telemetry_json(accel_y=-3.2),
        _telemetry_json(accel_y=2.71),
        _telemetry_json(accel_y=-2.7),  # boundary: <= -2.7 is a brake
        _telemetry_json(accel_y=2.0),  # under threshold
    ]
    out = detect_violations_from_imu(_parse(spark, payloads))
    types = [r["violation_type"] for r in out.collect()]
    assert sorted(types) == ["harsh_accel", "harsh_brake", "harsh_brake"]


def test_to_json_omits_absent_fields(spark):
    # Jackson omits absent fields; to_json must too (SURVEY.md §7 risk).
    payloads = [
        _telemetry_json(
            vehicle_id=None,
            violations=[{"type": "harsh_brake", "accel_y": -3.0}],
        )
    ]
    out = violations_from_telemetry(_parse(spark, payloads))
    s = out.select(
        F.to_json(F.struct(*out.columns), {"ignoreNullFields": "true"}).alias("j")
    ).collect()[0]["j"]
    doc = json.loads(s)
    assert "vehicle_id" not in doc
    assert "speed_kph" not in doc["details"]
    assert doc["violation_type"] == "harsh_brake"


def test_lenient_location_changed_and_schema(spark):
    from kafka_flink_harshevents_spark.functions import lenient_bool

    payloads = [
        _telemetry_json(location_changed=1),
        _telemetry_json(location_changed=True),
        _telemetry_json(location_changed=False),
    ]
    df = _parse(spark, payloads).select(
        lenient_bool(F.col("location_changed")).alias("lc")
    )
    assert [r["lc"] for r in df.collect()] == [True, True, False]
