"""Streaming stage: O3 routing, F5-F7 validation, P5 latency, A1 counters,
O9 stateful sessions (touch/extend/clear/TTL) — driven through file-source
micro-batches into memory sinks, the no-broker equivalent of the Kafka
topology."""

from __future__ import annotations

import json
import time
import uuid

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.sources.kafka import (
    DEVICE_STATUS_TOPIC,
    VIOLATIONS_TOPIC,
)
from kafka_flink_harshevents_spark.streaming.consumer import (
    latency_records,
    route_device_status,
    route_violations,
    violation_type_counts,
)
from kafka_flink_harshevents_spark.streaming.sessions import (
    consolidate_status_sessions,
)


def _event_rows():
    v = {
        "event_type": "violation",
        "violation_type": "harsh_brake",
        "device_uuid": "d-1",
        "timestamp": 100,
        "mqtt_sent_at_ms": 100_000,
    }
    v_invalid = {"event_type": "violation", "device_uuid": "d-1"}  # no type/ts
    s = {
        "event_type": "device_status",
        "status_type": "cable-unplugged",
        "action": "touch",
        "device_uuid": "d-2",
        "timestamp": 200,
    }
    s_invalid = {"event_type": "device_status", "device_uuid": "d-2"}
    return [
        (VIOLATIONS_TOPIC, json.dumps(v), 100_025),
        (VIOLATIONS_TOPIC, json.dumps(json.dumps(v)), 100_031),  # double-encoded
        (VIOLATIONS_TOPIC, json.dumps(v_invalid), 100_040),
        (VIOLATIONS_TOPIC, "garbage{", 100_050),
        (DEVICE_STATUS_TOPIC, json.dumps(s), 200_010),
        (DEVICE_STATUS_TOPIC, json.dumps(s_invalid), 200_020),
    ]


@pytest.fixture()
def events(spark):
    return spark.createDataFrame(
        _event_rows(), ["topic", "value", "kafka_received_at_ms"]
    )


def test_routing_and_validation(events):
    v = route_violations(events)
    assert v.count() == 2  # valid + double-encoded copy; invalid+garbage dropped
    assert {r["violation_type"] for r in v.collect()} == {"harsh_brake"}
    s = route_device_status(events)
    assert s.count() == 1
    assert s.first()["action"] == "touch"


def test_latency_derivation(events):
    lat = latency_records(route_violations(events))
    rows = {r["kafka_received_at_ms"]: r for r in lat.collect()}
    assert rows[100_025]["latency_ms"] == 25
    assert rows[100_031]["latency_ms"] == 31
    assert rows[100_025]["timestamp"] == "1970-01-01T00:01:40.025Z"


def test_violation_type_counts(events):
    counts = violation_type_counts(route_violations(events))
    assert counts.collect()[0].asDict() == {"violation_type": "harsh_brake", "n": 2}


def _write_status_batch(spark, path, rows):
    """Append one file = one micro-batch for the file stream source.
    Write-then-rename so the file appears atomically to the source's
    directory listing."""
    lines = [
        json.dumps(
            {
                "event_type": "device_status",
                "status_type": st,
                "action": action,
                "device_uuid": device,
                "timestamp": ts,
            }
        )
        for device, action, ts, st in rows
    ]
    import os

    fname = f"{path}/{uuid.uuid4().hex}.json"
    with open(fname + ".tmp", "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(fname + ".tmp", fname)


def _drain(q, timeout=120):
    """Wait until the source is drained. processAllAvailable() livelocks
    under ProcessingTimeTimeout (the engine continuously schedules
    timer-evaluation batches, so the no-new-data latch never settles);
    instead, wait for a zero-input batch that STARTED after this call —
    its directory listing saw every file written before the call."""
    import datetime

    start = datetime.datetime.now(datetime.timezone.utc)
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception():
            raise AssertionError(f"query failed: {q.exception()}")
        p = q.lastProgress
        if p is not None and p["numInputRows"] == 0:
            bts = datetime.datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")
            )
            if bts > start:
                return
        time.sleep(0.5)
    raise TimeoutError("stream did not drain in time")


def test_session_consolidation(spark, tmp_path):
    """touch/extend within TTL → one session; clear finalizes; a later
    touch opens a new session (kafkaConsumer.js:278-347 state machine)."""
    src = tmp_path / "status"
    src.mkdir()
    _write_status_batch(
        spark,
        str(src),
        [
            ("d-1", "touch", 1000, "cable-unplugged"),
            ("d-1", "touch", 1030, "cable-unplugged"),
            ("d-2", "touch", 1010, "cable-unplugged"),
            ("d-3", "touch", 1040, "other-status"),  # F7: not consolidated
            ("d-1", "poke", 1050, "cable-unplugged"),  # F8: unknown action
        ],
    )
    from kafka_flink_harshevents_spark.functions.json_lenient import parse_telemetry
    from kafka_flink_harshevents_spark import schemas

    stream = parse_telemetry(
        spark.readStream.schema(
            "value STRING"
        ).text(str(src)),
        value_col="value",
        schema=schemas.DEVICE_STATUS_EVENT,
    )
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    q = (
        consolidate_status_sessions(stream, ttl_seconds=300)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        _drain(q)
        # nothing finalized yet — sessions still open
        assert spark.table(name).count() == 0

        # batch 2: clear d-1 (finalize), extend d-2
        _write_status_batch(
            spark,
            str(src),
            [
                ("d-1", "clear", 1100, "cable-unplugged"),
                ("d-2", "touch", 1110, "cable-unplugged"),
            ],
        )
        _drain(q)
        rows = {r["device_uuid"]: r for r in spark.table(name).collect()}
        assert set(rows) == {"d-1"}
        d1 = rows["d-1"]
        assert (d1["start_timestamp"], d1["end_timestamp"], d1["n_touches"]) == (
            1000,
            1030,
            2,
        )
        assert d1["timestamp"] == 1030  # doc timestamp = last touch

        # batch 3: d-1 touches again → NEW session, finalized by clear
        _write_status_batch(
            spark,
            str(src),
            [
                ("d-1", "touch", 2000, "cable-unplugged"),
                ("d-1", "clear", 2005, "cable-unplugged"),
            ],
        )
        _drain(q)
        d1_sessions = [
            r for r in spark.table(name).collect() if r["device_uuid"] == "d-1"
        ]
        assert len(d1_sessions) == 2
        assert {(r["start_timestamp"], r["end_timestamp"]) for r in d1_sessions} == {
            (1000, 1030),
            (2000, 2000),
        }
    finally:
        q.stop()


def test_session_ttl_timeout(spark, tmp_path):
    """No clear ever arrives (the Flink job never emits one) — the
    processing-time TTL finalizes the session, like Redis EX expiry."""
    src = tmp_path / "status_ttl"
    src.mkdir()
    _write_status_batch(spark, str(src), [("d-9", "touch", 1000, "cable-unplugged")])

    from kafka_flink_harshevents_spark.functions.json_lenient import parse_telemetry
    from kafka_flink_harshevents_spark import schemas

    stream = parse_telemetry(
        spark.readStream.schema("value STRING").text(str(src)),
        value_col="value",
        schema=schemas.DEVICE_STATUS_EVENT,
    )
    name = f"ttl_{uuid.uuid4().hex[:8]}"
    q = (
        consolidate_status_sessions(stream, ttl_seconds=1)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        _drain(q)
        # the 1 s TTL lapses and the engine's continuous timer batches fire
        # the expiry on their own — no further input needed (Redis EX-like)
        deadline = time.time() + 60
        while spark.table(name).count() == 0 and time.time() < deadline:
            time.sleep(0.5)
        rows = spark.table(name).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["device_uuid"], r["start_timestamp"], r["end_timestamp"]) == (
            "d-9",
            1000,
            1000,
        )
        assert r["n_touches"] == 1
    finally:
        q.stop()


def test_event_time_window_with_watermark(spark, tmp_path):
    """Engine capability past the reference (which is processing-time
    only, T1): event-time tumbling windows gated by a watermark. Append
    mode emits a window only once the watermark passes its end — late
    data within the allowance still lands in its window."""
    src = tmp_path / "wm"
    src.mkdir()

    def write(name, rows):
        with open(src / name, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    write(
        "a.jsonl",
        [
            {"et": "click", "ts": "2026-01-01 00:00:05"},
            {"et": "click", "ts": "2026-01-01 00:00:40"},
            {"et": "error", "ts": "2026-01-01 00:00:50"},
        ],
    )
    stream = (
        spark.readStream.schema("et STRING, ts TIMESTAMP").json(str(src))
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "60 seconds"), "et")
        .count()
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 0  # window not closed yet

        # late-but-allowed event for minute 0, plus an event far enough
        # ahead to push the watermark past minute 0's end
        write(
            "b.jsonl",
            [
                {"et": "click", "ts": "2026-01-01 00:00:55"},
                {"et": "click", "ts": "2026-01-01 00:02:30"},
            ],
        )
        q.processAllAvailable()
        # one more batch so the advanced watermark finalizes minute 0
        write("c.jsonl", [{"et": "click", "ts": "2026-01-01 00:02:40"}])
        q.processAllAvailable()
        rows = {
            (r["window"]["start"].isoformat(), r["et"]): r["count"]
            for r in spark.table(name).collect()
        }
        assert rows == {
            ("2026-01-01T00:00:00", "click"): 3,
            ("2026-01-01T00:00:00", "error"): 1,
        }
    finally:
        q.stop()


def test_session_state_machine():
    """``_advance`` — the one touch/extend/clear/TTL machine — driven
    without Spark through a fake GroupState, plus the update-mode view
    over a batch that closes one session and opens the next."""
    import pandas as pd

    from kafka_flink_harshevents_spark.streaming.sessions import (
        _advance,
        _make_progress_fn,
    )

    class FakeState:
        def __init__(self, v=None, timed_out=False):
            self.v, self.hasTimedOut, self.timeout = v, timed_out, None

        @property
        def exists(self):
            return self.v is not None

        @property
        def get(self):
            return self.v

        def update(self, v):
            self.v = v

        def remove(self):
            self.v = None

        def setTimeoutDuration(self, ms):
            self.timeout = ms

    def batch(*rows):
        pdf = pd.DataFrame(
            [("d-1", a, ts) for a, ts in rows],
            columns=["device_uuid", "action", "timestamp"],
        )
        return iter([pdf])

    ttl = 300_000
    st = FakeState()
    # touch + extend (out of order) + unknown action: open, TTL armed
    got = _advance(batch(("touch", 1030), ("touch", 1000), ("poke", 1040)), st, ttl)
    assert got == ([], (1000, 1030, 2), True)
    assert st.v == (1000, 1030, 2) and st.timeout == ttl

    # an unknown action alone keeps the session and refreshes its TTL
    st.timeout = None
    assert _advance(batch(("poke", 1045)), st, ttl) == ([], (1000, 1030, 2), False)
    assert st.timeout == ttl

    # extend, then clear: the session closes and state is removed
    assert _advance(batch(("touch", 1050), ("clear", 1100)), st, ttl) == (
        [(1000, 1050, 3)],
        None,
        False,
    )
    assert st.v is None

    # a clear with no open session is a no-op
    assert _advance(batch(("clear", 1200)), st, ttl) == ([], None, False)

    # timeout with state: the TTL finalizes the session
    st = FakeState((2000, 2010, 2), timed_out=True)
    assert _advance(iter([]), st, ttl) == ([(2000, 2010, 2)], None, False)
    assert st.v is None

    # timeout without state: nothing to emit
    assert _advance(iter([]), FakeState(timed_out=True), ttl) == ([], None, False)

    # update-mode view: touch, clear, touch in ONE batch → one closed row
    # for the first session and one open row for the second
    st = FakeState()
    out = pd.concat(
        list(
            _make_progress_fn(ttl)(
                ("d-1",), batch(("touch", 1000), ("clear", 1010), ("touch", 1020)), st
            )
        )
    )
    cols = ["is_open", "start_timestamp", "end_timestamp", "n_touches"]
    got = sorted(out[cols].itertuples(index=False, name=None))
    assert got == [(False, 1000, 1000, 1), (True, 1020, 1020, 1)]
    assert st.v == (1020, 1020, 1) and st.timeout == ttl


def test_session_progress_view(spark, tmp_path):
    """K4 parity: the update-mode view shows the session GROWING
    (kafkaConsumer.js:304-318 extends the same Mongo doc per touch),
    then closing on clear with the same values the append-mode operator
    finalizes with."""
    from kafka_flink_harshevents_spark import schemas
    from kafka_flink_harshevents_spark.functions.json_lenient import parse_telemetry
    from kafka_flink_harshevents_spark.streaming.sessions import (
        status_session_progress,
    )

    src = tmp_path / "progress"
    src.mkdir()
    _write_status_batch(
        spark,
        str(src),
        [
            ("d-1", "touch", 1000, "cable-unplugged"),
            ("d-1", "touch", 1030, "cable-unplugged"),
        ],
    )
    stream = parse_telemetry(
        spark.readStream.schema("value STRING").text(str(src)),
        value_col="value",
        schema=schemas.DEVICE_STATUS_EVENT,
    )
    name = f"progress_{uuid.uuid4().hex[:8]}"
    q = (
        status_session_progress(stream, ttl_seconds=300)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        _drain(q)
        rows = [r.asDict() for r in spark.table(name).collect()]
        # intermediate emission: session open, already extended to 1030
        assert len(rows) == 1
        assert rows[0]["is_open"] is True
        assert (rows[0]["start_timestamp"], rows[0]["end_timestamp"], rows[0]["n_touches"]) == (1000, 1030, 2)

        # another touch: a SECOND intermediate emission with the doc grown
        _write_status_batch(spark, str(src), [("d-1", "touch", 1060, "cable-unplugged")])
        _drain(q)
        open_rows = sorted(
            (r.asDict() for r in spark.table(name).collect() if r["is_open"]),
            key=lambda r: r["n_touches"],
        )
        assert [(r["end_timestamp"], r["n_touches"]) for r in open_rows] == [
            (1030, 2),
            (1060, 3),
        ]

        # clear: closing emission, identical values to the final doc
        _write_status_batch(spark, str(src), [("d-1", "clear", 1100, "cable-unplugged")])
        _drain(q)
        closed = [r.asDict() for r in spark.table(name).collect() if not r["is_open"]]
        assert len(closed) == 1
        assert (closed[0]["start_timestamp"], closed[0]["end_timestamp"], closed[0]["n_touches"]) == (1000, 1060, 3)
        assert closed[0]["timestamp"] == 1060
    finally:
        q.stop()


def test_streaming_replay_dedup(spark, tmp_path):
    """T5: a replayed violation (identical business key) within the
    watermark window is dropped; a genuinely distinct same-second event
    (different details) survives — the streaming twin of the batch
    sink's hash dedup."""
    import os

    from kafka_flink_harshevents_spark.sources.sinks import dedup_events_stream

    src = tmp_path / "replay"
    src.mkdir()

    def violation(details_accel, ts=1000):
        return {
            "device_uuid": "d-1",
            "violation_type": "harsh_brake",
            "timestamp": ts,
            "details": {"accel_y": details_accel, "speed_kph": 40.0, "delta_speed": -9.0},
        }

    def write(name, rows):
        p = src / name
        with open(str(p) + ".tmp", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")
        os.rename(str(p) + ".tmp", p)

    write(
        "a.jsonl",
        [violation(-3.0), violation(-3.0), violation(-3.5)],  # replay + distinct
    )
    stream = spark.readStream.schema(
        "device_uuid STRING, violation_type STRING, timestamp LONG, "
        "details STRUCT<accel_y: DOUBLE, speed_kph: DOUBLE, delta_speed: DOUBLE>"
    ).json(str(src))
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_events_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table(name).collect()
        assert len(rows) == 2  # replay collapsed, distinct-details kept
        assert {r["details"]["accel_y"] for r in rows} == {-3.0, -3.5}

        # cross-batch replay of an already-seen key is also dropped
        write("b.jsonl", [violation(-3.0), violation(-4.0)])
        q.processAllAvailable()
        rows = spark.table(name).collect()
        assert len(rows) == 3
        assert {r["details"]["accel_y"] for r in rows} == {-3.0, -3.5, -4.0}
    finally:
        q.stop()


def test_sliding_window_stream_matches_batch(spark, tmp_path):
    """The ev_sliding_30m_10m expression shape under readStream: a 30 s /
    10 s sliding window places one event in exactly 3 overlapping
    windows, all finalized (append mode) once the watermark passes."""
    src = tmp_path / "slide"
    src.mkdir()

    def write(name, rows):
        with open(src / name, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    write("a.jsonl", [{"et": "click", "ts": "2026-01-01 00:01:05"}])
    stream = (
        spark.readStream.schema("et STRING, ts TIMESTAMP").json(str(src))
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "30 seconds", "10 seconds"), "et")
        .count()
    )
    name = f"slide_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark past every click window's end, then one
        # more batch to emit the finalized windows
        write("b.jsonl", [{"et": "adv", "ts": "2026-01-01 00:03:00"}])
        q.processAllAvailable()
        write("c.jsonl", [{"et": "adv", "ts": "2026-01-01 00:03:10"}])
        q.processAllAvailable()
        clicks = {
            r["window"]["start"].isoformat(): r["count"]
            for r in spark.table(name).collect()
            if r["et"] == "click"
        }
        assert clicks == {
            "2026-01-01T00:00:40": 1,
            "2026-01-01T00:00:50": 1,
            "2026-01-01T00:01:00": 1,
        }
    finally:
        q.stop()


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static broadcast enrichment: a violations file-stream
    joined to the static vehicle dimension — the streaming form of
    ev_enrich_vehicle. The static side broadcasts; the stream stays
    partition-local (no stateful shuffle), so the same plan enriches a
    100 TB stream."""
    from pyspark.sql import functions as F
    from kafka_flink_harshevents_spark.sources.synthetic import VEHICLE_POOL

    src = tmp_path / "enrich"
    src.mkdir()
    rows = [
        {"device_uuid": "d1", "vehicle_id": VEHICLE_POOL[0], "violation_type": "harsh_brake"},
        {"device_uuid": "d2", "vehicle_id": VEHICLE_POOL[1], "violation_type": "harsh_accel"},
        {"device_uuid": "d3", "vehicle_id": "veh-unknown", "violation_type": "harsh_brake"},
    ]
    with open(src / "a.jsonl", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    dim = spark.createDataFrame(
        [(VEHICLE_POOL[0], "fleet-0"), (VEHICLE_POOL[1], "fleet-1")],
        "vehicle_id string, fleet string",
    )
    stream = (
        spark.readStream.schema(
            "device_uuid STRING, vehicle_id STRING, violation_type STRING"
        )
        .json(str(src))
        .join(F.broadcast(dim), "vehicle_id", "left")
    )
    name = f"enr_{uuid.uuid4().hex[:8]}"
    q = stream.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        got = {r["device_uuid"]: r["fleet"] for r in spark.table(name).collect()}
        assert got == {"d1": "fleet-0", "d2": "fleet-1", "d3": None}
    finally:
        q.stop()


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """T5/T6 without a broker: stop a derive-stage query mid-stream and
    restart it from the SAME checkpoint — the restarted query must skip
    already-committed source files (offsets from the checkpoint) and the
    file sink's manifest must show every violation exactly once."""
    from kafka_flink_harshevents_spark.operators.violations import (
        violations_from_telemetry,
    )
    from kafka_flink_harshevents_spark.functions.json_lenient import parse_telemetry

    src = tmp_path / "tel"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def payload(i):
        return json.dumps({
            "device_uuid": f"d{i % 3}",
            "timestamp": 1_700_000_000 + i,
            "violations": [{"type": "harsh_brake", "timestamp": 1_700_000_000 + i,
                            "accel_y": -3.0}],
        })

    def start():
        raw = spark.readStream.schema("value STRING").text(str(src))
        v = violations_from_telemetry(parse_telemetry(raw, value_col="value"))
        return (
            v.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    with open(src / "a.jsonl", "w") as f:
        f.write("\n".join(payload(i) for i in range(3)) + "\n")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    with open(src / "b.jsonl", "w") as f:
        f.write("\n".join(payload(i) for i in range(3, 5)) + "\n")
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    out = spark.read.parquet(sink)
    assert out.count() == 5  # batch A not re-emitted, batch B not missed
    assert sorted(r["timestamp"] for r in out.collect()) == [
        1_700_000_000 + i for i in range(5)
    ]


def test_streaming_ingest_dedup(spark, tmp_path):
    """Streaming document ingest (streaming/ingest.py): history replays
    are dropped by the stream-static anti-join, within-stream duplicates
    by watermark state, and fresh docs flow through — across batches."""
    import os

    from kafka_flink_harshevents_spark.streaming.ingest import dedup_ingest_stream

    src = tmp_path / "ingest"
    src.mkdir()

    def doc(text, ts="2026-01-01 10:00:00"):
        return {"text": text, "ingest_ts": ts}

    def write(name, rows):
        p = src / name
        with open(str(p) + ".tmp", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")
        os.rename(str(p) + ".tmp", p)

    hist = spark.createDataFrame(
        [("old doc one",), ("old doc two",)], "text string"
    ).select(F.md5("text").alias("text_hash"))

    write(
        "a.jsonl",
        [doc("old doc one"), doc("brand new"), doc("brand new"), doc("also new")],
    )
    stream = (
        spark.readStream.schema("text STRING, ingest_ts STRING")
        .json(str(src))
        .withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
    )
    name = f"ingest_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_ingest_stream(stream, hist)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        texts = {r["text"] for r in spark.table(name).collect()}
        assert texts == {"brand new", "also new"}

        # next batch: a history replay, a within-stream cross-batch
        # replay, and a fresh doc
        write("b.jsonl", [doc("old doc two"), doc("brand new"), doc("fresh again")])
        q.processAllAvailable()
        texts = {r["text"] for r in spark.table(name).collect()}
        assert texts == {"brand new", "also new", "fresh again"}
        assert len(spark.table(name).collect()) == 3
    finally:
        q.stop()


def test_streaming_anomaly_matches_batch(spark, tmp_path):
    """The rolling z-score stream (bounded per-key ring-buffer state)
    replayed over the time-ordered sf0.001 events log produces exactly
    the batch ev_anomaly_zscore rows — stream/batch parity for the
    detector, same discipline as the sessionization twins."""
    from pyspark.sql import functions as F
    from kafka_flink_harshevents_spark.queries.analytics import ev_anomaly_zscore
    from kafka_flink_harshevents_spark.queries._util import load, ts_millis
    from kafka_flink_harshevents_spark.streaming.anomaly import (
        anomaly_scores_stream,
    )
    from tests.conftest import SF_DIR

    src = tmp_path / "anom"
    src.mkdir()
    (
        load(spark, SF_DIR, "events")
        .select("event_id", "user_id", ts_millis("ts").alias("ts_ms"), "value")
        .coalesce(1)
        .write.json(str(src / "log"))
    )
    stream = spark.readStream.schema(
        "event_id LONG, user_id LONG, ts_ms LONG, value DOUBLE"
    ).json(str(src / "log"))
    name = f"anom_{uuid.uuid4().hex[:8]}"
    q = (
        anomaly_scores_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["event_id"], r["user_id"], r["value"], r["zscore"])
            for r in spark.table(name).collect()
        }
    finally:
        q.stop()
    want = {
        (r["event_id"], r["user_id"], r["value"], r["zscore"])
        for r in ev_anomaly_zscore(spark, SF_DIR).collect()
    }
    assert want, "batch detector found nothing — test data too tame"
    assert got == want


def test_watermark_drops_late_rows_and_reports_them(spark, tmp_path):
    """T4 observability: rows later than the watermark are dropped by a
    watermarked aggregation AND the drop is visible in the query's
    progress metrics (numRowsDroppedByWatermark) — the accounting a
    100 TB stream needs to monitor lateness instead of silently losing
    data. (The engine's latency path deliberately records late rows
    as-is; this covers the windowed-agg path where the engine must
    expire state.)"""
    import json as _json
    import uuid as _uuid

    from pyspark.sql import functions as F

    src = tmp_path / "late"
    src.mkdir()

    def write(name, rows):
        with open(src / name, "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows) + "\n")

    stream = (
        spark.readStream.schema("k STRING, ts LONG")
        .json(str(src))
        .select("k", F.timestamp_seconds(F.col("ts")).alias("ts"))
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "10 seconds"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"late_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        write("w1.jsonl", [{"k": "a", "ts": 1000}, {"k": "a", "ts": 2000}])
        q.processAllAvailable()
        # watermark is now 2000 - 10 s; this row is far older -> dropped
        write("w2.jsonl", [{"k": "a", "ts": 100}])
        q.processAllAvailable()
        write("w3.jsonl", [{"k": "a", "ts": 2050}])
        q.processAllAvailable()
        import json as _j

        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in (_j.loads(pp.json) for pp in q.recentProgress)
            for op in p.get("stateOperators", [])
        )
        assert dropped >= 1
        got = {
            (r["window"]["start"].isoformat(), r["k"]): r["n"]
            for r in spark.table(name).collect()
        }
        # the late ts=100 row contributed to no window
        assert not any(k[0].startswith("1970-01-01T00:01:4") for k in got)
    finally:
        q.stop()


def test_python_datasource_streams_with_offsets(spark, tmp_path):
    """The custom Python source also streams: micro-batch offsets
    advance per trigger, the derive path runs on the live stream, and
    the offset protocol is replayable (rows are a pure function of the
    offset range — Kafka-like recovery semantics in a pure-Python
    source)."""
    import uuid as _uuid

    from kafka_flink_harshevents_spark.functions.json_lenient import (
        parse_telemetry,
    )
    from kafka_flink_harshevents_spark.sources.pydatasource import (
        TelemetryWireSource,
    )

    spark.dataSource.register(TelemetryWireSource)
    stream = (
        spark.readStream.format("telemetry_wire")
        .option("rowsPerTrigger", "40")
        .load()
    )
    parsed = parse_telemetry(stream.select("value"))
    name = f"pyds_{_uuid.uuid4().hex[:8]}"
    q = (
        parsed.select("device_uuid", "timestamp")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 80:
            time.sleep(0.5)
        n = spark.table(name).count()
        assert n >= 80  # at least two triggers' worth flowed
        rows = spark.table(name).collect()
        assert all(r["device_uuid"].startswith("dev-") for r in rows)
        # timestamps are the deterministic base_ts + index sequence
        ts = sorted(r["timestamp"] for r in rows)
        assert ts[0] == 1700000000 and ts[:5] == list(range(1700000000, 1700000005))
    finally:
        q.stop()


def test_available_now_trigger_drains_and_stops(spark, tmp_path):
    """Trigger.AvailableNow — the production backfill mode: process
    everything currently in the source in bounded micro-batches, then
    stop on its own (unlike processAllAvailable, which needs a live
    query). The restartable way to run a 100 TB catch-up through the
    same streaming pipeline that serves live data."""
    import json as _json
    import uuid as _uuid

    src = tmp_path / "an"
    src.mkdir()
    rows = [{"k": f"k{i % 5}", "v": i} for i in range(100)]
    with open(src / "data.jsonl", "w") as f:
        f.write("\n".join(_json.dumps(r) for r in rows) + "\n")

    stream = spark.readStream.schema("k STRING, v LONG").json(str(src))
    agg = stream.groupBy("k").count()
    name = f"an_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(60)  # stops by itself once drained
    got = {r["k"]: r["count"] for r in spark.table(name).collect()}
    assert got == {f"k{i}": 20 for i in range(5)}


def test_native_session_window_streams(spark, tmp_path):
    """T2's declarative alternative runs on a live stream: Spark's
    built-in session_window with a watermark merges gap-bounded touches
    into sessions and emits each one when the watermark closes it — the
    same sessions the custom stateful operator produces, without custom
    state code (the trade: emit-on-close timing is watermark-driven,
    not TTL-timer-driven)."""
    import json as _json
    import uuid as _uuid

    from pyspark.sql import functions as F

    src = tmp_path / "sw"
    src.mkdir()

    def write(name, rows):
        with open(src / name, "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows) + "\n")

    # d1: touches at 100, 250 (gap 150 < 300 -> one session 100-250);
    # then 900 (gap 650 -> new session). d2: single touch.
    write("w1.jsonl", [
        {"d": "d1", "ts": 100}, {"d": "d1", "ts": 250},
        {"d": "d1", "ts": 900}, {"d": "d2", "ts": 400},
    ])
    stream = (
        spark.readStream.schema("d STRING, ts LONG")
        .json(str(src))
        .select("d", F.timestamp_seconds("ts").alias("t"))
        .withWatermark("t", "5 seconds")
        .groupBy("d", F.session_window("t", "300 seconds"))
        .agg(F.count(F.lit(1)).alias("n_touches"))
        .select(
            "d",
            F.unix_timestamp("session_window.start").alias("start_s"),
            "n_touches",
        )
    )
    name = f"sw_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        write("w2.jsonl", [{"d": "d9", "ts": 100_000}])  # advance watermark
        q.processAllAvailable()
        write("w3.jsonl", [{"d": "d8", "ts": 200_000}])  # flush the rest
        q.processAllAvailable()
        got = {
            (r["d"], r["start_s"]): r["n_touches"]
            for r in spark.table(name).collect()
            if r["d"] in ("d1", "d2")
        }
        assert got == {("d1", 100): 2, ("d1", 900): 1, ("d2", 400): 1}
    finally:
        q.stop()


def test_upsert_foreach_batch_merges_latest_per_key(spark, tmp_path):
    """The MERGE-emulation sink: across micro-batches, each key holds
    only its newest version; buckets untouched by a batch are not
    rewritten (their files keep their mtime)."""
    import json as _json
    import os
    import uuid as _uuid

    from kafka_flink_harshevents_spark.sources.sinks import upsert_foreach_batch

    src = tmp_path / "ups"
    out = tmp_path / "table"
    src.mkdir()

    def write(name, rows):
        with open(src / name, "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows) + "\n")

    stream = spark.readStream.schema("k STRING, v LONG, ver LONG").json(str(src))
    q = (
        stream.writeStream.foreachBatch(
            upsert_foreach_batch(str(out), ("k",), "ver", n_buckets=8)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .queryName(f"ups_{_uuid.uuid4().hex[:8]}")
        .start()
    )
    try:
        write("w1.jsonl", [
            {"k": "a", "v": 1, "ver": 1},
            {"k": "b", "v": 10, "ver": 1},
            {"k": "c", "v": 100, "ver": 1},
        ])
        q.processAllAvailable()
        state1 = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(str(out)).collect()}
        assert state1 == {"a": (1, 1), "b": (10, 1), "c": (100, 1)}

        def bucket_mtimes():
            return {
                d: os.path.getmtime(os.path.join(str(out), d))
                for d in os.listdir(str(out))
                if d.startswith("_bucket=")
            }

        before = bucket_mtimes()
        import time as _time

        _time.sleep(1.1)
        write("w2.jsonl", [{"k": "a", "v": 2, "ver": 2}])  # update only 'a'
        q.processAllAvailable()
        state2 = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(str(out)).collect()}
        assert state2 == {"a": (2, 2), "b": (10, 1), "c": (100, 1)}
        after = bucket_mtimes()
        changed = {d for d in after if after[d] != before.get(d)}
        unchanged = {d for d in after if after[d] == before.get(d)}
        assert len(changed) >= 1  # a's bucket rewrote
        assert len(unchanged) >= 1  # some other key's bucket untouched
    finally:
        q.stop()


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """The continuous-ingest dedup stream (fingerprint-store state seeded
    by replaying history, then fed the new batch) must reproduce
    doc_incremental_dedup's per-doc verdicts exactly — and a third wave
    re-sending an accepted doc proves the store keeps growing (the
    'runs forever' property a crawl pipeline needs)."""
    from kafka_flink_harshevents_spark.operators.text import _md5_unit
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.documents import (
        BATCH_FRACTION,
        doc_incremental_dedup,
    )
    from kafka_flink_harshevents_spark.streaming.dedup import (
        dedup_verdicts,
        incremental_dedup_stream,
    )
    from tests.conftest import SF_DIR

    d = load(spark, SF_DIR, "documents").select("doc_id", "text")
    u = _md5_unit(F.col("doc_id"), "batch|")
    src = tmp_path / "docs"
    src.mkdir()
    # wave 1: history replay (seed rows populate state, emit nothing)
    (
        d.filter(u >= BATCH_FRACTION)
        .withColumn("is_seed", F.lit(1))
        .coalesce(1)
        .write.json(str(src / "w1.json"))
    )
    stream = spark.readStream.schema(
        "doc_id LONG, text STRING, is_seed INT"
    ).json(str(src) + "/*.json")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        incremental_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 0  # seeds emit nothing
        # wave 2: the new batch — the docs doc_incremental_dedup scores
        batch = d.filter(u < BATCH_FRACTION).withColumn("is_seed", F.lit(0))
        batch.coalesce(1).write.json(str(src / "w2.json"))
        q.processAllAvailable()
        got = {
            (r["doc_id"], r["exact_dup"], r["span_dup"], r["keep"])
            for r in dedup_verdicts(spark.table(name)).collect()
        }
        want = {
            (r["doc_id"], r["exact_dup"], r["span_dup"], r["keep"])
            for r in doc_incremental_dedup(spark, SF_DIR).collect()
        }
        assert want and got == want
        # near-dup candidates: the stream's kind-2 (MinHash band) hits
        # must equal the batch rule "any band hash shared with history",
        # computed here with the same projection in batch mode
        from kafka_flink_harshevents_spark.streaming.dedup import (
            doc_fingerprints,
        )

        bf = doc_fingerprints(batch).filter(F.col("kind") == 2)
        hf = doc_fingerprints(
            d.filter(u >= BATCH_FRACTION).withColumn("is_seed", F.lit(1))
        ).filter(F.col("kind") == 2)
        expect_nd = {
            r["doc_id"]
            for r in bf.join(hf.select("fp"), "fp", "left_semi")
            .select("doc_id")
            .distinct()
            .collect()
        }
        got_nd = {
            r["doc_id"]
            for r in dedup_verdicts(spark.table(name))
            .filter(F.col("neardup_cand") == 1)
            .collect()
        }
        assert got_nd == expect_nd
        # wave 3: re-send one doc that wave 2 ACCEPTED — the store must
        # have absorbed wave 2, so the copy is now an exact dup
        kept_id = min(r[0] for r in want if r[3] == 1)
        batch.filter(F.col("doc_id") == kept_id).coalesce(1).write.json(
            str(src / "w3.json")
        )
        q.processAllAvailable()
        rerun = dedup_verdicts(
            spark.table(name).filter(F.col("doc_id") == kept_id)
        ).collect()
        # the verdict log now holds wave-2 (clean) AND wave-3 (dup) rows;
        # max-rollup over both shows the exact hit
        assert rerun[0]["exact_dup"] == 1
    finally:
        q.stop()


def test_minhash_band_fps_match_batch_pipeline(spark):
    """The stream's per-row array-fold MinHash banding
    (``_minhash_band_fps``) must give exactly the band keys of the batch
    signature pipeline (``_minhash_sigs`` over ``_shingles``, banded by
    the shared ``band_key_sql``) on real docs plus three edge rows: a
    one-word doc and an empty string (no bands on either side) and a
    doc whose bigrams repeat."""
    from pyspark.sql import functions as F
    from kafka_flink_harshevents_spark.operators.text import (
        LSH_BANDS,
        band_key_sql,
    )
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.documents import (
        _minhash_sigs,
        _shingles,
    )
    from kafka_flink_harshevents_spark.streaming.dedup import _minhash_band_fps
    from tests.conftest import SF_DIR

    edge = spark.createDataFrame(
        [(-1, "solo"), (-2, "a b a b a b c"), (-3, "")],
        "doc_id long, text string",
    )
    d = load(spark, SF_DIR, "documents").select("doc_id", "text")
    d = d.unionByName(edge)
    stream_form = {
        (r["doc_id"], r["fp"])
        for r in d.select(
            "doc_id", F.explode(_minhash_band_fps()).alias("fp")
        ).collect()
    }
    keys = F.array(
        *[F.expr(band_key_sql(b, lambda j: f"m{j}")) for b in range(LSH_BANDS)]
    )
    batch_form = {
        (r["doc_id"], r["fp"])
        for r in _minhash_sigs(_shingles(d))
        .select("doc_id", F.explode(keys).alias("fp"))
        .collect()
    }
    assert stream_form == batch_form
    by_doc = {}
    for doc, fp in stream_form:
        by_doc.setdefault(doc, set()).add(fp)
    assert -1 not in by_doc and -3 not in by_doc
    assert len(by_doc[-2]) == LSH_BANDS
    assert len(by_doc) > 100


def test_dedup_store_survives_restart(spark, tmp_path):
    """The fingerprint store must survive a query restart (T5/T6 for the
    crawl-dedup path): stop the dedup stream after absorbing history +
    one batch, restart from the SAME checkpoint, and a copy of an
    earlier-accepted doc must be flagged from RECOVERED state while a
    brand-new doc passes — and wave-2 verdicts are not re-emitted
    (source offsets also recover). JSON file sink: the memory sink
    cannot recover from a checkpoint."""
    from kafka_flink_harshevents_spark.streaming.dedup import (
        dedup_verdicts,
        incremental_dedup_stream,
    )

    src = tmp_path / "docs"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def wave(fname, rows):
        with open(src / fname, "w") as f:
            f.write(
                "\n".join(
                    json.dumps({"doc_id": i, "text": t, "is_seed": s})
                    for i, t, s in rows
                )
                + "\n"
            )

    def start():
        stream = spark.readStream.schema(
            "doc_id LONG, text STRING, is_seed INT"
        ).json(str(src) + "/*.json")
        return (
            incremental_dedup_stream(stream)
            .writeStream.format("json")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    def sink_verdicts():
        log = spark.read.schema("doc_id long, kind long, hit long").json(sink)
        return dedup_verdicts(log)

    wave("w1.json", [(1, "a b c d e f g h i j k l m n o p", 1)])
    q = start()
    try:
        q.processAllAvailable()
        wave("w2.json", [(10, "q r s t u v w x y z aa bb cc dd", 0)])
        q.processAllAvailable()
        first = sink_verdicts().collect()
        assert {(r["doc_id"], r["keep"]) for r in first} == {(10, 1)}
    finally:
        q.stop()

    # restart from the same checkpoint: recovered state must flag a copy
    # of doc 10 (absorbed before the stop) and pass a brand-new doc
    wave("w3.json", [(20, "q r s t u v w x y z aa bb cc dd", 0),
                     (21, "fresh words never seen before anywhere", 0)])
    q2 = start()
    try:
        q2.processAllAvailable()
        got = {
            (r["doc_id"], r["exact_dup"], r["keep"])
            for r in sink_verdicts().collect()
        }
        # wave-2 verdict exactly once (offsets recovered — no replay),
        # wave-3 copy flagged from recovered state, fresh doc kept
        assert got == {(10, 0, 1), (20, 1, 0), (21, 0, 1)}, got
    finally:
        q2.stop()


def test_streaming_trending_matches_batch(spark, tmp_path):
    """Windowed-count stream (watermarked tumbling hour, append emission
    on window close) + rank over the emitted log must reproduce the
    batch ev_trending rows exactly; a far-future sentinel closes the
    real hours."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.events import (
        TRENDING_TOP_N,
        ev_trending,
    )
    from kafka_flink_harshevents_spark.streaming.trending import (
        trending_counts_stream,
        trending_rank,
    )
    from tests.conftest import SF_DIR

    src = tmp_path / "trend"
    src.mkdir()
    (
        load(spark, SF_DIR, "events")
        .select("event_type", F.unix_millis(F.col("ts").cast("timestamp")).alias("tms"))
        .coalesce(1)
        .write.json(str(src / "w1.json"))
    )
    stream = (
        spark.readStream.schema("event_type STRING, tms LONG")
        .json(str(src) + "/*.json")
        .select("event_type", F.timestamp_millis(F.col("tms")).alias("ts"))
    )
    name = f"trend_{uuid.uuid4().hex[:8]}"
    q = (
        trending_counts_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # sentinels must be event-time AFTER the data (2024) to advance
        # the watermark past the tail hours: use 2096 / 2223
        far = 4_000_000_000_000
        with open(src / "w2.json", "w") as f:
            f.write(json.dumps({"event_type": "sentinel", "tms": far}) + "\n")
        q.processAllAvailable()
        with open(src / "w3.json", "w") as f:
            f.write(json.dumps({"event_type": "sentinel", "tms": 2 * far}) + "\n")
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in trending_rank(
                spark.table(name).filter(F.col("event_type") != "sentinel"),
                TRENDING_TOP_N,
            ).collect()
        }
    finally:
        q.stop()
    want = {tuple(r) for r in ev_trending(spark, SF_DIR).collect()}
    assert want and got == want


def test_streaming_heavy_hitters_guarantees(spark, tmp_path):
    """Misra–Gries summaries over a two-wave skewed stream: (a) every
    item whose true shard frequency exceeds n_shard/k survives in the
    final summary, (b) every estimate obeys est ≤ true ≤ est + n_shard/k,
    (c) state persists across micro-batches (wave 2 builds on wave 1's
    counters). True counts come from the exact batch twin."""
    from kafka_flink_harshevents_spark.streaming.heavyhitters import (
        MG_K,
        heavy_hitters_batch,
        heavy_hitters_stream,
    )

    src = tmp_path / "hh"
    src.mkdir()

    # Skewed key stream: two hot keys + a long tail of singletons, so
    # the eviction (global-decrement) path actually runs.
    def wave(n_hot_a, n_hot_b, tail_range):
        rows = (
            [{"k": "hot_a"}] * n_hot_a
            + [{"k": "hot_b"}] * n_hot_b
            + [{"k": f"tail_{i}"} for i in tail_range]
        )
        return rows

    (src / "w1.json").write_text(
        "\n".join(json.dumps(r) for r in wave(60, 25, range(0, 40)))
    )
    stream = spark.readStream.schema("k STRING").json(str(src))
    name = f"hh_{uuid.uuid4().hex[:8]}"
    q = (
        heavy_hitters_stream(stream, key_col="k")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "w2.json").write_text(
            "\n".join(json.dumps(r) for r in wave(50, 30, range(40, 80)))
        )
        q.processAllAvailable()
        emitted = spark.table(name).collect()
    finally:
        q.stop()

    # latest snapshot per shard
    latest_seq: dict[int, int] = {}
    for r in emitted:
        latest_seq[r["shard"]] = max(latest_seq.get(r["shard"], 0), r["emit_seq"])
    summary = {
        (r["shard"], r["item"]): (r["est_count"], r["n_seen"])
        for r in emitted
        if r["emit_seq"] == latest_seq[r["shard"]]
    }
    assert summary, "stream emitted nothing"

    log = spark.createDataFrame(
        [(r,) for r in ["hot_a"] * 110 + ["hot_b"] * 55 + [f"tail_{i}" for i in range(80)]],
        "k string",
    )
    true_counts = {
        (r["shard"], r["item"]): r["true_count"]
        for r in heavy_hitters_batch(log, key_col="k").collect()
    }
    n_shard = {}
    for (shard, _), c in true_counts.items():
        n_shard[shard] = n_shard.get(shard, 0) + c

    # state persisted: the hot keys' estimates must exceed wave 2 alone
    for key in ["hot_a", "hot_b"]:
        est = [v[0] for (s, i), v in summary.items() if i == key]
        assert est, f"{key} missing from final summary"
    hot_a_est = next(v[0] for (s, i), v in summary.items() if i == "hot_a")
    assert hot_a_est > 50, "wave-1 counts lost across micro-batches"

    for (shard, item), true in true_counts.items():
        bound = n_shard[shard] / MG_K
        est = summary.get((shard, item), (0,))[0]
        assert est <= true, f"{item}: MG overcounted ({est} > {true})"
        assert true <= est + bound, f"{item}: error bound violated"
        if true > bound:
            assert (shard, item) in summary, (
                f"{item} above threshold ({true} > {bound}) but evicted"
            )
    # emitted n_seen matches the shard's true stream length
    for (shard, _), (_, n_seen) in summary.items():
        assert n_seen == n_shard[shard]


def test_streaming_attribution_matches_batch(spark, tmp_path):
    """The streaming last-touch attribution (interval join + max-struct
    aggregate) replayed over the sf0.001 events log emits exactly the
    ATTRIBUTED subset of the batch ev_attribution_last_touch rows —
    same winner on latest-timestamp and same-millisecond ties."""
    from kafka_flink_harshevents_spark.queries.events import (
        ev_attribution_last_touch,
    )
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.streaming.joins import (
        attributed_purchases_stream,
    )
    from tests.conftest import SF_DIR

    src = tmp_path / "attr"
    src.mkdir()
    (
        load(spark, SF_DIR, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_millis(F.col("ts").cast("timestamp")).alias("tms"),
        )
        .coalesce(1)
        .write.json(str(src / "w1.json"))
    )
    stream = (
        spark.readStream.schema(
            "event_id LONG, user_id LONG, event_type STRING, tms LONG"
        )
        .json(str(src) + "/*.json")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.timestamp_millis(F.col("tms")).alias("ts"),
        )
    )
    name = f"attr_{uuid.uuid4().hex[:8]}"
    q = (
        attributed_purchases_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # far-future sentinels advance the watermark so the tail
        # purchases flush; they must be real click/purchase types to
        # pass both legs' filters (a filtered-out type never reaches
        # the watermark operator), on negative user ids, spaced past
        # the lookback so they can't attribute to each other
        far = 4_000_000_000_000
        for i, mult in enumerate((1, 2)):
            with open(src / f"s{i}.json", "w") as f:
                f.write(
                    json.dumps(
                        {
                            "event_id": -1 - 2 * i,
                            "user_id": -1,
                            "event_type": "click",
                            "tms": mult * far,
                        }
                    )
                    + "\n"
                )
                f.write(
                    json.dumps(
                        {
                            "event_id": -2 - 2 * i,
                            "user_id": -2,
                            "event_type": "purchase",
                            "tms": mult * far + 10 * 86400 * 1000,
                        }
                    )
                    + "\n"
                )
            q.processAllAvailable()
        got = {
            (
                r["purchase_event_id"],
                r["user_id"],
                r["click_event_id"],
                r["click_ms"],
                r["gap_ms"],
            )
            for r in spark.table(name).collect()
            if r["user_id"] >= 0  # exclude (negative) sentinel users
        }
    finally:
        q.stop()
    want = {
        (
            r["purchase_event_id"],
            r["user_id"],
            r["click_event_id"],
            r["click_ms"],
            r["gap_ms"],
        )
        for r in ev_attribution_last_touch(spark, SF_DIR).collect()
        if r["click_event_id"] is not None
    }
    assert want, "batch attribution found nothing — data too tame"
    assert got == want


def test_streaming_delete_propagation_matches_batch(spark, tmp_path):
    """Continuous compliance: seed the corpus into the tombstone store,
    stream the deletion requests, and the propagated retractions must
    reproduce doc_delete_propagation's per-source audit exactly. A
    third wave re-ingesting deleted content must be flagged as
    tombstoned (deleted content cannot re-enter the corpus)."""
    from kafka_flink_harshevents_spark.operators.text import _md5_unit
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.documents import (
        DELETE_REQUEST_RATE,
        doc_delete_propagation,
    )
    from kafka_flink_harshevents_spark.streaming.dedup import (
        delete_propagation_stream,
    )
    from tests.conftest import SF_DIR

    d = load(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    is_req = _md5_unit(F.col("doc_id"), "del|") < DELETE_REQUEST_RATE
    src = tmp_path / "events"
    src.mkdir()
    # wave 1: replay the whole corpus into the store (emits nothing)
    (
        d.select("doc_id", "text", F.lit("seed").alias("action"))
        .coalesce(1)
        .write.json(str(src / "w1.json"))
    )
    stream = spark.readStream.schema(
        "doc_id LONG, text STRING, action STRING"
    ).json(str(src) + "/*.json")
    name = f"delprop_{uuid.uuid4().hex[:8]}"
    q = (
        delete_propagation_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 0  # seeds emit nothing
        # wave 2: the deletion requests (same rule as the batch twin)
        (
            d.filter(is_req)
            .select("doc_id", "text", F.lit("delete").alias("action"))
            .coalesce(1)
            .write.json(str(src / "w2.json"))
        )
        q.processAllAvailable()
        log = spark.table(name)
        retract = log.filter(F.col("action") == "delete")
        # every request's content was in the seeded store
        assert retract.filter(F.col("present_before") == 0).count() == 0
        # apply the retractions: delete WHERE content hash is tombstoned
        doomed = retract.select("fp").distinct()
        audited = (
            d.select("source", "n_chars", is_req.alias("is_request"),
                     F.md5("text").alias("fp"))
            .join(doomed.withColumn("hit", F.lit(True)), "fp", "left")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("is_request").cast("long")).alias("n_requests"),
                F.sum(F.col("hit").isNotNull().cast("long")).alias("n_deleted"),
                F.sum(
                    F.when(F.col("hit").isNotNull(), F.col("n_chars"))
                    .otherwise(F.lit(0))
                ).cast("long").alias("chars_deleted"),
            )
        )
        got = {
            (r["source"], r["n_docs"], r["n_requests"], r["n_deleted"],
             r["chars_deleted"])
            for r in audited.collect()
        }
        want = {
            (r["source"], r["n_docs"], r["n_requests"], r["n_deleted"],
             r["chars_deleted"])
            for r in doc_delete_propagation(spark, SF_DIR).collect()
        }
        assert want and got == want
        # wave 3: deleted content tries to re-enter -> tombstoned flag
        (
            d.filter(is_req)
            .limit(3)
            .select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                "text",
                F.lit("ingest").alias("action"),
            )
            .coalesce(1)
            .write.json(str(src / "w3.json"))
        )
        q.processAllAvailable()
        reentry = spark.table(name).filter(
            (F.col("action") == "ingest") & (F.col("doc_id") >= 1_000_000)
        )
        assert reentry.count() == 3
        assert reentry.filter(F.col("tombstoned_before") == 0).count() == 0
        # wave 4: REPEATED delete of already-propagated content must see
        # present_before = 0 (the first delete cleared the live copies)
        # so compliance audits never double-count a propagation
        (
            d.filter(is_req)
            .limit(3)
            .select("doc_id", "text", F.lit("delete").alias("action"))
            .coalesce(1)
            .write.json(str(src / "w4.json"))
        )
        q.processAllAvailable()
        redelete = spark.table(name).filter(
            (F.col("action") == "delete") & (F.col("tombstoned_before") == 1)
        )
        assert redelete.count() == 3
        assert redelete.filter(F.col("present_before") == 1).count() == 0
    finally:
        q.stop()


def test_streaming_vector_neardup_matches_batch(spark, tmp_path):
    """The embedding near-dup stream's collision verdicts must equal the
    batch rule 'any LSH table signature shared with history', computed
    here with the same fingerprint projection in batch mode — and
    vectors streamed in the same wave must not see each other
    (batch-vs-store snapshot semantics)."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.streaming.dedup import (
        vector_fingerprints,
        vector_neardup_stream,
    )
    from tests.conftest import SF_DIR

    e = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    # sparse history (3 vectors) so bucket occupancy carries signal at
    # this SF: exact duplicates MUST collide in every table, unrelated
    # vectors mostly won't (16 buckets/table, 3 occupied)
    hist = e.filter(F.col("vec_id").isin(10, 11, 12))
    dups = hist.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    new = e.filter(F.col("vec_id") < 8).unionByName(dups)
    src = tmp_path / "vecs"
    src.mkdir()
    hist.withColumn("is_seed", F.lit(1)).coalesce(1).write.json(
        str(src / "w1.json")
    )
    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<DOUBLE>, is_seed INT"
    ).json(str(src) + "/*.json")
    name = f"vnd_{uuid.uuid4().hex[:8]}"
    q = (
        vector_neardup_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 0  # seeds emit nothing
        new.withColumn("is_seed", F.lit(0)).coalesce(1).write.json(
            str(src / "w2.json")
        )
        q.processAllAvailable()
        got = {
            (r["doc_id"], r["hit"])
            for r in spark.table(name)
            .groupBy("doc_id")
            .agg(F.max("hit").alias("hit"))
            .collect()
        }
        hist_fps = vector_fingerprints(
            hist.withColumn("is_seed", F.lit(1))
        ).select("fp").distinct()
        new_fps = vector_fingerprints(new.withColumn("is_seed", F.lit(0)))
        want = {
            (r["doc_id"], r["hit"])
            for r in new_fps.join(
                hist_fps.withColumn("h", F.lit(1)), "fp", "left"
            )
            .groupBy("doc_id")
            .agg(F.max(F.coalesce("h", F.lit(0))).alias("hit"))
            .collect()
        }
        assert want and got == want
        assert any(h == 1 for _, h in want), "no collisions — data too sparse"
        assert any(h == 0 for _, h in want), "everything collided — no signal"
    finally:
        q.stop()


def test_streaming_kmv_matches_batch(spark, tmp_path):
    """The streaming KMV snapshot after ingesting the events table in
    two waves must equal the batch ev_kmv_distinct sketch over the same
    data — the merge ("union, sort, keep k") is order- and
    batching-insensitive because the state is a pure function of the
    distinct value set."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.events import ev_kmv_distinct
    from kafka_flink_harshevents_spark.streaming.kmv import kmv_distinct_stream
    from tests.conftest import SF_DIR

    e = load(spark, SF_DIR, "events").select("event_type", "user_id")
    src = tmp_path / "ev"
    src.mkdir()
    e.filter(F.col("user_id") % 2 == 0).coalesce(1).write.json(
        str(src / "w1.json")
    )
    stream = spark.readStream.schema("event_type STRING, user_id LONG").json(
        str(src) + "/*.json"
    )
    name = f"kmv_{uuid.uuid4().hex[:8]}"
    q = (
        kmv_distinct_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        e.filter(F.col("user_id") % 2 == 1).coalesce(1).write.json(
            str(src / "w2.json")
        )
        q.processAllAvailable()
        latest = (
            spark.table(name)
            .groupBy("event_type")
            .agg(
                F.max_by(
                    F.struct("n_in_sketch", "kth_hash", "est_distinct"),
                    "emit_seq",
                ).alias("s")
            )
            .select("event_type", "s.kth_hash", "s.est_distinct")
        )
        got = {
            (r["event_type"], r["kth_hash"], r["est_distinct"])
            for r in latest.collect()
        }
    finally:
        q.stop()
    want = {
        (r["event_type"], r["kth_hash"], r["est_distinct"])
        for r in ev_kmv_distinct(spark, SF_DIR)
        .select(
            "event_type",
            "kth_hash",
            F.col("est_distinct").cast("double").alias("est_distinct"),
        )
        .collect()
    }
    # the stream rounds at emit exactly like the batch entry — snapshots
    # must be byte-identical with NO test-side compensation
    assert want and got == want


def test_streaming_kmv_set_ops_matches_batch(spark, tmp_path):
    """Sketch-store pattern end-to-end: per-type KMV sketches built by
    the STREAM (two arbitrary ingest waves), set algebra computed at
    query time over the latest snapshots, must equal the batch
    `ev_kmv_set_ops` estimates over the same data — sketch merge is a
    pure function of the distinct value set, so stream-built and
    batch-built sketches answer overlap questions identically."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.events import ev_kmv_set_ops
    from kafka_flink_harshevents_spark.streaming.kmv import (
        kmv_set_ops_snapshot,
        kmv_sketch_stream,
    )
    from tests.conftest import SF_DIR

    e = load(spark, SF_DIR, "events").select("event_type", "user_id")
    src = tmp_path / "ev"
    src.mkdir()
    e.filter(F.col("user_id") % 2 == 0).coalesce(1).write.json(
        str(src / "w1.json")
    )
    stream = spark.readStream.schema("event_type STRING, user_id LONG").json(
        str(src) + "/*.json"
    )
    name = f"kmvso_{uuid.uuid4().hex[:8]}"
    q = (
        kmv_sketch_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        e.filter(F.col("user_id") % 2 == 1).coalesce(1).write.json(
            str(src / "w2.json")
        )
        q.processAllAvailable()
        latest = (
            spark.table(name)
            .groupBy("event_type")
            .agg(F.max_by("arr", "emit_seq").alias("arr"))
        )
        got = {
            (r["type_a"], r["type_b"], r["est_union"], r["est_inter"])
            for r in kmv_set_ops_snapshot(latest).collect()
        }
    finally:
        q.stop()
    want = {
        (r["type_a"], r["type_b"], r["est_union"], r["est_inter"])
        for r in ev_kmv_set_ops(spark, SF_DIR).collect()
    }
    assert want and got == want


def test_upsert_foreach_batch_fails_on_corrupt_store(spark, tmp_path):
    """The upsert sink treats ONLY the missing-path case as 'first
    batch'. A store that exists but cannot be read (corrupt footer)
    must FAIL the batch so checkpoint recovery retries it — swallowing
    the error would overwrite touched buckets with just the
    micro-batch's rows (the ADVICE r02 silent-data-loss case)."""
    import pytest as _pytest

    from kafka_flink_harshevents_spark.sources.sinks import upsert_foreach_batch

    out = tmp_path / "store"
    out.mkdir()
    (out / "part-corrupt.parquet").write_bytes(b"this is not a parquet file")
    batch = spark.createDataFrame([(1, 1, "a")], "k long, ver long, v string")
    fn = upsert_foreach_batch(str(out), ("k",), "ver", n_buckets=8)
    with _pytest.raises(Exception):
        fn(batch, 0)
    # the corrupt store was not replaced by the micro-batch's rows
    assert (out / "part-corrupt.parquet").read_bytes().startswith(b"this is not")


def test_streaming_locf_matches_batch(spark, tmp_path):
    """The streaming gap-fill's materialized grid (latest revision per
    (user, hour)) must reproduce ev_locf_resample exactly when events
    arrive in time order — same grid cells, same carried values, same
    observed flags."""
    from kafka_flink_harshevents_spark.queries._util import load, ts_millis
    from kafka_flink_harshevents_spark.queries.analytics import ev_locf_resample
    from kafka_flink_harshevents_spark.streaming.locf import locf_resample_stream
    from tests.conftest import SF_DIR

    e = load(spark, SF_DIR, "events").select(
        "user_id", F.col("ts").cast("string").alias("ts"), "value",
        ts_millis("ts").alias("tms"),
    )
    cut = e.agg(F.percentile_approx("tms", 0.5)).collect()[0][0]
    src = tmp_path / "ev"
    src.mkdir()
    e.filter(F.col("tms") <= cut).drop("tms").coalesce(1).write.json(
        str(src / "w1.json")
    )
    stream = spark.readStream.schema(
        "user_id LONG, ts STRING, value DOUBLE"
    ).json(str(src) + "/*.json")
    name = f"locf_{uuid.uuid4().hex[:8]}"
    q = (
        locf_resample_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        e.filter(F.col("tms") > cut).drop("tms").coalesce(1).write.json(
            str(src / "w2.json")
        )
        q.processAllAvailable()
        grid = (
            spark.table(name)
            .groupBy("user_id", "hour_ms")
            .agg(
                F.max_by(
                    F.struct("value_locf", "observed"), "src_ts_ms"
                ).alias("s")
            )
            .select(
                "user_id",
                F.date_format(
                    F.timestamp_millis("hour_ms"), "yyyy-MM-dd HH:mm:ss"
                ).alias("hour_ts"),
                F.round("s.value_locf", 2).alias("value_locf"),
                F.col("s.observed").alias("observed"),
            )
        )
        got = {
            (r["user_id"], r["hour_ts"], r["value_locf"], r["observed"])
            for r in grid.collect()
        }
    finally:
        q.stop()
    want = {
        (r["user_id"], r["hour_ts"], r["value_locf"], r["observed"])
        for r in ev_locf_resample(spark, SF_DIR).collect()
    }
    assert want and got == want
    # the gap-fill actually fills: some cells are carried, not observed
    assert any(o == 0 for *_, o in want)


def test_streaming_fixed_k_sample_matches_batch(spark, tmp_path):
    """The deterministic reservoir's final snapshot must equal the
    batch fixed-k stratified sample exactly — including ranks — no
    matter how the corpus is split into waves (the reservoir is a pure
    function of the document SET)."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.documents import (
        doc_sample_fixed_k,
    )
    from kafka_flink_harshevents_spark.streaming.kmv import (
        sample_fixed_k_stream,
    )
    from tests.conftest import SF_DIR

    d = load(spark, SF_DIR, "documents").select("doc_id", "lang")
    src = tmp_path / "docs"
    src.mkdir()
    # arbitrary, non-time-ordered split
    d.filter(F.col("doc_id") % 3 != 1).coalesce(1).write.json(
        str(src / "w1.json")
    )
    stream = spark.readStream.schema("doc_id LONG, lang STRING").json(
        str(src) + "/*.json"
    )
    name = f"fixk_{uuid.uuid4().hex[:8]}"
    q = (
        sample_fixed_k_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        d.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.json(
            str(src / "w2.json")
        )
        q.processAllAvailable()
        rows = spark.table(name).collect()
        last_seq: dict = {}
        for r in rows:
            last_seq[r["lang"]] = max(last_seq.get(r["lang"], 0), r["emit_seq"])
        by_lang: dict = {}
        for r in rows:
            if r["emit_seq"] == last_seq[r["lang"]]:
                by_lang.setdefault(r["lang"], []).append((r["u"], r["doc_id"]))
        got = {
            (lang, doc_id, rk + 1)
            for lang, entries in by_lang.items()
            for rk, (_, doc_id) in enumerate(sorted(entries))
        }
    finally:
        q.stop()
    want = {
        (r["lang"], r["doc_id"], r["sample_rank"])
        for r in doc_sample_fixed_k(spark, SF_DIR).collect()
    }
    assert want and got == want


def test_tombstone_store_survives_restart(spark, tmp_path):
    """Compliance state must outlive the query: tombstones written
    before a stop must still reject re-ingested content after a
    restart from the same checkpoint — a deletion that 'expires' with
    the process would silently re-admit deleted content."""
    from kafka_flink_harshevents_spark.streaming.dedup import (
        delete_propagation_stream,
    )

    src = tmp_path / "events"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def wave(fname, rows):
        with open(src / fname, "w") as f:
            f.write(
                "\n".join(
                    json.dumps({"doc_id": i, "text": t, "action": a})
                    for i, t, a in rows
                )
                + "\n"
            )

    def start():
        stream = spark.readStream.schema(
            "doc_id LONG, text STRING, action STRING"
        ).json(str(src) + "/*.json")
        return (
            delete_propagation_stream(stream)
            .writeStream.format("json")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    wave("w1.json", [(1, "forbidden content", "seed"),
                     (2, "ordinary content", "seed")])
    q = start()
    try:
        q.processAllAvailable()
        wave("w2.json", [(1, "forbidden content", "delete")])
        q.processAllAvailable()
    finally:
        q.stop()

    # restart: the tombstone must reject the deleted content from
    # RECOVERED state while the ordinary content dedups normally
    wave("w3.json", [(30, "forbidden content", "ingest"),
                     (31, "ordinary content", "ingest"),
                     (32, "brand new content", "ingest")])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    log = spark.read.schema(
        "doc_id long, action string, fp string,"
        " present_before long, tombstoned_before long"
    ).json(sink)
    rows = {r["doc_id"]: r for r in log.collect() if r["action"] == "ingest"}
    assert set(rows) == {30, 31, 32}
    assert rows[30]["tombstoned_before"] == 1  # deletion survived restart
    assert rows[31]["tombstoned_before"] == 0
    assert rows[31]["present_before"] == 1  # live-copy state survived too
    assert rows[32]["tombstoned_before"] == 0
    assert rows[32]["present_before"] == 0


def test_tombstone_intrabatch_repeat_delete_single_count(spark):
    """Two delete events for the same content hash arriving in ONE
    micro-batch must match the cross-batch semantics: exactly one
    (lowest doc_id) reports the batch-start snapshot, the rest see
    (present=0, tombstoned=1) — so an audit summing present_before
    never double-counts a propagation, no matter how requests batch."""
    import pandas as pd

    from kafka_flink_harshevents_spark.streaming.dedup import _tombstone_check

    class FakeGroupState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    st = FakeGroupState()
    # batch 1: content enters the store
    list(
        _tombstone_check(
            ("fp-a",),
            iter([pd.DataFrame({"doc_id": [1], "action": ["seed"]})]),
            st,
        )
    )
    # batch 2: THREE deletes of the same hash in one micro-batch
    out = pd.concat(
        list(
            _tombstone_check(
                ("fp-a",),
                iter(
                    [
                        pd.DataFrame(
                            {"doc_id": [7, 3, 9], "action": ["delete"] * 3}
                        )
                    ]
                ),
                st,
            )
        )
    )
    by_id = {int(r.doc_id): r for r in out.itertuples(index=False)}
    assert set(by_id) == {3, 7, 9}
    assert by_id[3].present_before == 1 and by_id[3].tombstoned_before == 0
    for d in (7, 9):
        assert by_id[d].present_before == 0 and by_id[d].tombstoned_before == 1
    assert sum(r.present_before for r in by_id.values()) == 1
    # batch 3: a later delete reads the updated store — same verdict
    out3 = pd.concat(
        list(
            _tombstone_check(
                ("fp-a",),
                iter([pd.DataFrame({"doc_id": [4], "action": ["delete"]})]),
                st,
            )
        )
    )
    r = next(out3.itertuples(index=False))
    assert r.present_before == 0 and r.tombstoned_before == 1


def test_stream_fingerprint_null_guards(spark):
    """NULL text / NULL embeddings must be dropped JVM-side before the
    keyed state stage: without the guard all such rows collapse into
    one NULL-keyed bucket and every one after the first reports a
    spurious store hit."""
    from kafka_flink_harshevents_spark.streaming.dedup import (
        content_events,
        vector_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, "some text", "ingest"), (2, None, "ingest"), (3, None, "ingest")],
        "doc_id long, text string, action string",
    )
    fps = content_events(docs).collect()
    assert [r["doc_id"] for r in fps] == [1]
    assert all(r["fp"] is not None for r in fps)

    from kafka_flink_harshevents_spark.queries.embeddings import EMB_DIM

    vecs = spark.createDataFrame(
        [
            (1, [0.1] * EMB_DIM, False),
            (2, None, False),
            (3, [0.1] * (EMB_DIM - 1) + [None], False),
        ],
        "vec_id long, embedding array<double>, is_seed boolean",
    )
    vfps = vector_fingerprints(vecs).collect()
    assert vfps and {r["doc_id"] for r in vfps} == {1}
    assert all(r["fp"] is not None for r in vfps)


def test_locf_counts_inhour_late_drops(spark):
    """An in-hour observation older than the already-emitted revision
    produces no grid row AND increments n_late_dropped — the counter
    accounts for every dropped event, not only pre-hour stragglers."""
    import pandas as pd

    from kafka_flink_harshevents_spark.streaming.locf import _locf_update

    class FakeGroupState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    st = FakeGroupState()
    hr = 3_600_000
    # batch 1: one observation at t=hr+1000
    list(
        _locf_update(
            (1,),
            iter([pd.DataFrame({"ts_ms": [hr + 1000], "value": [5.0]})]),
            st,
        )
    )
    # batch 2: same hour but OLDER than the emitted revision → dropped+counted
    out = list(
        _locf_update(
            (1,),
            iter([pd.DataFrame({"ts_ms": [hr + 500], "value": [9.0]})]),
            st,
        )
    )
    assert out == []  # no grid revision
    assert st.get[3] == 1  # n_late_dropped
    # batch 3: pre-hour straggler also counted
    out = list(
        _locf_update(
            (1,),
            iter([pd.DataFrame({"ts_ms": [hr - 10], "value": [2.0]})]),
            st,
        )
    )
    assert out == [] and st.get[3] == 2
    # a genuinely newer in-hour observation still revises the grid
    out = pd.concat(
        list(
            _locf_update(
                (1,),
                iter([pd.DataFrame({"ts_ms": [hr + 2000], "value": [7.0]})]),
                st,
            )
        )
    )
    assert len(out) == 1 and float(out.iloc[0]["value_locf"]) == 7.0
    assert st.get[3] == 2  # counter untouched by accepted events


def test_streaming_quality_router_matches_batch(spark, tmp_path):
    """The streaming quality gate must score and route documents
    EXACTLY like the batch quality battery: same (score, bucket) per
    doc (shared projection — drift is structurally impossible, this
    pins it), route = keep/review/drop by bucket, NULL text dropped
    before scoring, and the three side-outputs partition the corpus."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.documents import doc_quality_score
    from kafka_flink_harshevents_spark.streaming.quality import (
        ROUTE_BY_BUCKET,
        quality_route_streams,
    )
    from tests.conftest import SF_DIR

    src = tmp_path / "docs"
    src.mkdir()
    d = load(spark, SF_DIR, "documents").select("doc_id", "text")
    d.coalesce(1).write.json(str(src / "w1.json"))
    # a NULL-text row must be dropped, not scored
    spark.createDataFrame(
        [(999_999, None)], "doc_id long, text string"
    ).coalesce(1).write.json(str(src / "w2.json"))

    stream = spark.readStream.schema("doc_id LONG, text STRING").json(
        str(src) + "/*.json"
    )
    routed = quality_route_streams(stream)
    names = {}
    queries = []
    try:
        for route, df in routed.items():
            name = f"qroute_{route}_{uuid.uuid4().hex[:8]}"
            names[route] = name
            queries.append(
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / f"ck_{route}"))
                .start()
            )
        for q in queries:
            q.processAllAvailable()
        got = {}
        for route, name in names.items():
            for r in spark.table(name).collect():
                assert r["route"] == route
                got[r["doc_id"]] = (
                    r["quality_score"], r["quality_bucket"], route
                )
    finally:
        for q in queries:
            q.stop()
    want = {
        r["doc_id"]: (
            r["quality_score"],
            r["quality_bucket"],
            ROUTE_BY_BUCKET[r["quality_bucket"]],
        )
        for r in doc_quality_score(spark, SF_DIR).collect()
    }
    assert 999_999 not in got  # NULL text dropped before scoring
    assert got == want


def test_clean_ingest_stream_composes_quality_and_dedup(spark, tmp_path):
    """The composed continuous-crawl gate (quality keep-route →
    history anti-join → within-stream dedup): survivors are exactly the
    batch expectation — high-quality docs whose content hash is neither
    in history nor seen earlier in the stream — and carry the manifest
    columns. Low-quality rows must be dropped BEFORE dedup state (their
    hashes do NOT block later ingests of the same content)."""
    import os

    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.documents import doc_quality_score
    from kafka_flink_harshevents_spark.streaming.ingest import clean_ingest_stream
    from tests.conftest import SF_DIR

    d = load(spark, SF_DIR, "documents").select("doc_id", "text")
    quality = {
        r["doc_id"]: (r["quality_score"], r["quality_bucket"])
        for r in doc_quality_score(spark, SF_DIR).collect()
    }
    rows = [(r["doc_id"], r["text"]) for r in d.collect()]
    # history: the first 10 doc hashes
    hist_texts = [t for _, t in rows[:10]]
    hist = spark.createDataFrame(
        [(t,) for t in hist_texts], "text string"
    ).select(F.md5("text").alias("text_hash"))

    src = tmp_path / "crawl"
    src.mkdir()
    with open(src / "w1.jsonl.tmp", "w") as f:
        for doc_id, text in rows:
            f.write(
                json.dumps(
                    {"doc_id": doc_id, "text": text,
                     "ingest_ts": "2026-01-01 10:00:00"}
                ) + "\n"
            )
    os.rename(src / "w1.jsonl.tmp", src / "w1.jsonl")

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, ingest_ts STRING")
        .json(str(src))
        .withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
    )
    name = f"cleaningest_{uuid.uuid4().hex[:8]}"
    q = (
        clean_ingest_stream(stream, hist)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: r for r in spark.table(name).collect()}
    finally:
        q.stop()

    # batch expectation
    import hashlib

    hist_hashes = {hashlib.md5(t.encode()).hexdigest() for t in hist_texts}
    seen = set()
    want = {}
    for doc_id, text in rows:  # file order == stream order (one batch)
        if quality[doc_id][1] != "high":
            continue
        h = hashlib.md5(text.encode()).hexdigest()
        if h in hist_hashes or h in seen:
            continue
        seen.add(h)
        want[doc_id] = h
    assert set(got) == set(want)
    for doc_id, r in got.items():
        assert r["text_hash"] == want[doc_id]
        assert r["quality_score"] == quality[doc_id][0]
        assert r["quality_bucket"] == "high"


def test_clean_ingest_state_survives_restart(spark, tmp_path):
    """The composed ingest gate's within-stream dedup state must outlive
    the query: a content hash admitted before a stop must still block a
    replay that arrives (within the watermark delay) after a restart
    from the same checkpoint — otherwise a crash re-admits duplicates."""
    import os

    from kafka_flink_harshevents_spark.streaming.ingest import clean_ingest_stream

    src = tmp_path / "crawl"
    src.mkdir()
    sink = str(tmp_path / "sink")
    # a text that scores HIGH quality (long, diverse, low stopword share)
    good = " ".join(f"token{i} signal{i*7%13} value{i*3%11}" for i in range(40))
    other = " ".join(f"other{i} piece{i*5%17} datum{i*2%7}" for i in range(40))

    def write(name, rows):
        with open(src / (name + ".tmp"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(src / (name + ".tmp"), src / name)

    hist = spark.createDataFrame([("never seen",)], "text string").select(
        F.md5("text").alias("text_hash")
    )

    def start():
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING, ingest_ts STRING")
            .json(str(src))
            .withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
        )
        return (
            clean_ingest_stream(stream, hist)
            .writeStream.format("json")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .start()
        )

    write("w1.jsonl", [
        {"doc_id": 1, "text": good, "ingest_ts": "2026-01-01 10:00:00"},
    ])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # restart; wave 2 replays wave-1's content within the watermark
    # delay plus one genuinely new doc
    write("w2.jsonl", [
        {"doc_id": 2, "text": good, "ingest_ts": "2026-01-01 10:02:00"},
        {"doc_id": 3, "text": other, "ingest_ts": "2026-01-01 10:02:00"},
    ])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.schema(
        "doc_id long, text_hash string, quality_score double,"
        " quality_bucket string"
    ).json(sink)
    rows = {r["doc_id"]: r for r in out.collect() if r["doc_id"] is not None}
    assert set(rows) == {1, 3}, f"replay not blocked across restart: {sorted(rows)}"
    assert rows[1]["quality_bucket"] == "high"
    assert rows[3]["quality_bucket"] == "high"


def test_native_drop_duplicates_within_watermark_parity(spark, tmp_path):
    """Spark's built-in ``dropDuplicatesWithinWatermark`` agrees with the
    fingerprint-store dedup (`streaming/dedup.py`) on CROSS-BATCH exact
    replays — the first occurrence survives, later copies are dropped —
    and the one intentional divergence is pinned: the store's
    snapshot-read semantics keep ALL intra-batch copies (matching the
    batch twin `doc_incremental_dedup`, where a batch is scored against
    the store, not itself), while the native operator collapses them to
    one. A deployment that wants intra-batch collapse composes the
    native op BEFORE the store; one that wants batch-vs-store scoring
    uses the store alone — this test is the contract for that choice.
    """
    import os

    from kafka_flink_harshevents_spark.streaming.dedup import (
        dedup_verdicts,
        incremental_dedup_stream,
    )

    src = tmp_path / "nddw"
    src.mkdir()

    def write(name, rows):
        p = src / name
        with open(str(p) + ".tmp", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")
        os.rename(str(p) + ".tmp", p)

    def doc(doc_id, text, ts):
        return {"doc_id": doc_id, "text": text, "ts": ts}

    schema = "doc_id LONG, text STRING, ts TIMESTAMP"

    # --- native path: md5 fingerprint + dropDuplicatesWithinWatermark
    native_in = spark.readStream.schema(schema).json(str(src))
    native = (
        native_in.withColumn("fp", F.md5("text"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["fp"])
    )
    nname = f"nddw_{uuid.uuid4().hex[:8]}"
    nq = (
        native.writeStream.format("memory")
        .queryName(nname)
        .outputMode("append")
        .start()
    )

    # --- store path: the repo's fingerprint-store dedup
    store_in = (
        spark.readStream.schema(schema)
        .json(str(src))
        .select("doc_id", "text", F.lit(False).alias("is_seed"))
    )
    sname = f"nddw_store_{uuid.uuid4().hex[:8]}"
    sq = (
        incremental_dedup_stream(store_in)
        .writeStream.format("memory")
        .queryName(sname)
        .outputMode("append")
        .start()
    )

    def drain():
        nq.processAllAvailable()
        sq.processAllAvailable()

    def native_kept():
        return {r["doc_id"] for r in spark.table(nname).collect()}

    def store_kept_exact():
        return {
            r["doc_id"]
            for r in dedup_verdicts(spark.table(sname)).collect()
            if r["exact_dup"] == 0
        }

    try:
        # wave A: two fresh docs — both kept by both paths
        write("a.jsonl", [
            doc(1, "alpha one text body", "2026-01-01 00:00:01"),
            doc(2, "beta two text body", "2026-01-01 00:00:02"),
        ])
        drain()
        assert native_kept() == {1, 2}
        assert store_kept_exact() == {1, 2}

        # wave B: cross-batch replay of doc 1's text + one fresh doc —
        # both paths drop the replay, keep the fresh doc
        write("b.jsonl", [
            doc(3, "alpha one text body", "2026-01-01 00:10:00"),
            doc(4, "gamma four text body", "2026-01-01 00:10:01"),
        ])
        drain()
        assert native_kept() == {1, 2, 4}
        assert store_kept_exact() == {1, 2, 4}

        # wave C: INTRA-batch copies — the pinned divergence: native
        # collapses to one survivor; the store's snapshot semantics
        # keep both (the batch twin's batch-vs-store rule)
        write("c.jsonl", [
            doc(5, "delta five text body", "2026-01-01 00:20:00"),
            doc(6, "delta five text body", "2026-01-01 00:20:01"),
        ])
        drain()
        nat = native_kept()
        assert len(nat & {5, 6}) == 1, f"native kept {nat & {5, 6}}"
        assert store_kept_exact() >= {5, 6}

        # and a replay of that text in a LATER batch is dropped by both
        write("d.jsonl", [doc(7, "delta five text body", "2026-01-01 00:30:00")])
        drain()
        assert 7 not in native_kept()
        assert 7 not in store_kept_exact()
    finally:
        nq.stop()
        sq.stop()


def test_streaming_decayed_counts_matches_batch(spark, tmp_path):
    """The decayed-counter stream's snapshots, rolled up with the global
    anchor, equal the batch ev_decayed_counts rows over the same data —
    hour-bucket counts are batching-insensitive, pruning only drops
    buckets that weigh 0 micro-units, and the rollup applies the exact
    same dyadic fold. State is asserted BOUNDED (≤ keep-window+1 hour
    counters per type)."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.events import ev_decayed_counts
    from kafka_flink_harshevents_spark.streaming.trending import (
        DECAY_KEEP_HOURS,
        decayed_counts_rollup,
        decayed_counts_stream,
    )
    from tests.conftest import SF_DIR

    e = load(spark, SF_DIR, "events").select(
        "event_type", F.col("ts").cast("string").alias("ts")
    )
    src = tmp_path / "decay"
    src.mkdir()
    e.filter(F.col("event_type") <= "m").coalesce(1).write.json(
        str(src / "w1.json")
    )
    stream = spark.readStream.schema("event_type STRING, ts TIMESTAMP").json(
        str(src) + "/*.json"
    )
    name = f"decay_{uuid.uuid4().hex[:8]}"
    q = (
        decayed_counts_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        e.filter(F.col("event_type") > "m").coalesce(1).write.json(
            str(src / "w2.json")
        )
        q.processAllAvailable()
        snaps = spark.table(name)
        # bounded state: every snapshot's hour array within the window
        max_len = snaps.agg(F.max(F.size("hours"))).first()[0]
        assert max_len <= DECAY_KEEP_HOURS + 1
        got = {
            (r["event_type"], r["n"], r["decayed_micro"])
            for r in decayed_counts_rollup(snaps).collect()
        }
    finally:
        q.stop()
    want = {
        (r["event_type"], r["n"], r["decayed_micro"])
        for r in ev_decayed_counts(spark, SF_DIR).collect()
    }
    assert got == want


def test_streaming_count_min_matches_batch(spark, tmp_path):
    """The Count-Min cell stream's latest snapshots equal the
    batch-built sketch cell-for-cell after a two-wave split — the
    sketch is a pure function of the ingested multiset, so batching
    cannot change it. A point probe (min over an item's cells) then
    matches the batch entry's estimate arithmetic by construction."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.events import cm_cell_array
    from kafka_flink_harshevents_spark.streaming.countmin import (
        count_min_snapshot,
        count_min_stream,
    )
    from tests.conftest import SF_DIR

    e = load(spark, SF_DIR, "events").select("user_id")
    src = tmp_path / "cm"
    src.mkdir()
    e.filter(F.col("user_id") % 2 == 0).coalesce(1).write.json(
        str(src / "w1.json")
    )
    stream = spark.readStream.schema("user_id LONG").json(str(src) + "/*.json")
    name = f"cm_{uuid.uuid4().hex[:8]}"
    q = (
        count_min_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        e.filter(F.col("user_id") % 2 == 1).coalesce(1).write.json(
            str(src / "w2.json")
        )
        # a NULL item must not perturb the sketch in either engine
        with open(src / "w3.json", "w") as f:
            f.write('{"user_id": null}\n')
        q.processAllAvailable()
        got = {
            (r["d"], r["bucket"], r["cnt"])
            for r in count_min_snapshot(spark.table(name)).collect()
        }
    finally:
        q.stop()

    item = F.col("user_id").cast("string")
    batch_cells = (
        e.filter(item.isNotNull())
        .select(F.explode(cm_cell_array(item)).alias("c"))
        .groupBy("c.d", "c.bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    want = {(r["d"], r["bucket"], r["cnt"]) for r in batch_cells.collect()}
    assert got == want


def test_streaming_scd2_matches_batch(spark, tmp_path):
    """Replaying the events table as a time-ordered two-wave log through
    the SCD2 stream reproduces the batch entry's CLOSED version rows
    exactly (version numbers, interval bounds, values); a deliberately
    late third-wave row is dropped AND counted, never spliced into
    already-emitted history."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.queries.events import ev_scd2_intervals
    from kafka_flink_harshevents_spark.streaming.scd2 import scd2_stream
    from tests.conftest import SF_DIR

    e = load(spark, SF_DIR, "events").select(
        "user_id", "event_type", "event_id", "value",
        F.col("ts").cast("string").alias("ts"),
    )
    med = e.selectExpr("percentile(unix_millis(CAST(ts AS TIMESTAMP)), 0.5) p").first()["p"]
    src = tmp_path / "scd2"
    src.mkdir()
    cond = F.unix_millis(F.col("ts").cast("timestamp")) <= med
    e.filter(cond).coalesce(1).write.json(str(src / "w1.json"))
    stream = spark.readStream.schema(
        "user_id LONG, event_type STRING, event_id LONG, value DOUBLE, ts TIMESTAMP"
    ).json(str(src) + "/*.json")
    name = f"scd2_{uuid.uuid4().hex[:8]}"
    q = (
        scd2_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        e.filter(~cond).coalesce(1).write.json(str(src / "w2.json"))
        q.processAllAvailable()
        got = {
            (r["user_id"], r["event_type"], r["version"],
             r["valid_from_ms"], r["valid_to_ms"], r["value"])
            for r in spark.table(name).collect()
        }
        want = {
            (r["user_id"], r["event_type"], r["version"],
             r["valid_from_ms"], r["valid_to_ms"], r["value"])
            for r in ev_scd2_intervals(spark, SF_DIR).collect()
            if r["valid_to_ms"] is not None
        }
        assert got == want

        # wave 3: one row older than every open version for its key —
        # dropped and counted, no new closed interval for that key
        victim = spark.table(name).first()
        late = [{
            "user_id": victim["user_id"], "event_type": victim["event_type"],
            "event_id": 999999999, "value": 1.0,
            "ts": "1990-01-01 00:00:00",
        }]
        with open(src / "w3.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in late) + "\n")
        n_before = spark.table(name).count()
        q.processAllAvailable()
        assert spark.table(name).count() == n_before  # nothing emitted
    finally:
        q.stop()


def test_scd2_stream_rounds_midpoints_like_batch(spark, tmp_path):
    """A closed version whose value sits on a .xx5 midpoint (2.125) must
    round the way Spark's F.round does (HALF_UP → 2.13), not Python's
    half-even (→ 2.12) — the divergence a code-review pass caught while
    the generator's 2-dp values masked it."""
    import os

    from pyspark.sql import functions as SF

    from kafka_flink_harshevents_spark.streaming.scd2 import scd2_stream

    src = tmp_path / "mid"
    src.mkdir()
    rows = [
        {"user_id": 1, "event_type": "a", "event_id": 1, "value": 2.125,
         "ts": "2026-01-01 00:01:00"},
        {"user_id": 1, "event_type": "a", "event_id": 2, "value": 9.0,
         "ts": "2026-01-01 00:02:00"},
    ]
    with open(src / "a.jsonl", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows) + "\n")
    stream = spark.readStream.schema(
        "user_id LONG, event_type STRING, event_id LONG, value DOUBLE, ts TIMESTAMP"
    ).json(str(src))
    name = f"scd2mid_{uuid.uuid4().hex[:8]}"
    q = (
        scd2_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.table(name).first()["value"]
    finally:
        q.stop()
    want = (
        spark.range(1)
        .select(SF.round(SF.lit(2.125), 2).alias("v"))
        .first()["v"]
    )
    assert got == want == 2.13


def test_scd2_store_survives_restart(spark, tmp_path):
    """The open-version state must survive a query restart (T5/T6 for
    the CDC-history path): stop after wave 1, restart from the same
    checkpoint, and a wave-2 change must close the RECOVERED open
    version with the correct version number and valid_from — without
    re-emitting wave-1 rows (offsets recover too). JSON file sink: the
    memory sink cannot recover from a checkpoint."""
    import os

    from kafka_flink_harshevents_spark.streaming.scd2 import scd2_stream

    src = tmp_path / "cdc"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def wave(fname, rows):
        with open(src / fname, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    def start():
        stream = spark.readStream.schema(
            "user_id LONG, event_type STRING, event_id LONG,"
            " value DOUBLE, ts TIMESTAMP"
        ).json(str(src) + "/*.json")
        return (
            scd2_stream(stream)
            .writeStream.format("json")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    def closed():
        return spark.read.schema(
            "user_id long, event_type string, version long,"
            " valid_from_ms long, valid_to_ms long, value double,"
            " n_late_dropped long"
        ).json(sink).filter(F.col("user_id").isNotNull())

    def r(e, t, eid, v, ts):
        return {"user_id": e, "event_type": t, "event_id": eid,
                "value": v, "ts": ts}

    # wave 1: two versions for key (7, 'a') → one closed row
    wave("w1.json", [
        r(7, "a", 1, 1.0, "2026-01-01 00:01:00"),
        r(7, "a", 2, 2.0, "2026-01-01 00:02:00"),
    ])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert closed().count() == 1

    # restart from the same checkpoint; wave 2 closes the open v2
    wave("w2.json", [r(7, "a", 3, 3.0, "2026-01-01 00:03:00")])
    q = start()
    try:
        q.processAllAvailable()
        rows = {(x["version"], x["valid_from_ms"] is not None, x["value"])
                for x in closed().collect()}
        # exactly two closed rows total: v1 (wave 1) + v2 (closed by
        # the post-restart change from RECOVERED state, value 2.0)
        assert len(rows) == 2 and (2, True, 2.0) in rows, rows
    finally:
        q.stop()


def test_count_min_store_survives_restart(spark, tmp_path):
    """Count-Min cell counters recover from the checkpoint: counts
    accumulated before the stop keep counting after the restart (no
    reset to zero, no double count of replayed offsets)."""
    import os

    from kafka_flink_harshevents_spark.streaming.countmin import (
        count_min_snapshot,
        count_min_stream,
    )

    src = tmp_path / "cm"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def wave(fname, ids):
        with open(src / fname, "w") as f:
            f.write("\n".join(json.dumps({"user_id": i}) for i in ids) + "\n")

    def start():
        stream = spark.readStream.schema("user_id LONG").json(
            str(src) + "/*.json"
        )
        # file sinks reject update mode; foreachBatch is the
        # checkpoint-recoverable escape hatch for update-mode stores
        return (
            count_min_stream(stream)
            .writeStream.foreachBatch(
                lambda df, epoch: df.write.mode("append").json(sink)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )

    wave("w1.json", [1, 1, 2])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    wave("w2.json", [1, 3])
    q = start()
    try:
        q.processAllAvailable()
        log = spark.read.schema(
            "d long, bucket long, cnt long, emit_seq long"
        ).json(sink).filter(F.col("d").isNotNull())
        snap = count_min_snapshot(log)
        total = snap.agg(F.sum("cnt")).first()[0]
        # 5 items × 4 rows each, accumulated ACROSS the restart
        assert total == 20, total
    finally:
        q.stop()


def test_streaming_constraint_audit_matches_batch(spark, tmp_path):
    """Continuous data-quality monitor (streaming/audit.py): draining
    the whole lineitem table through the stream yields EXACTLY the
    batch `q_constraint_audit` rows for the stream-covered checks
    (shared check definitions — drift is structural, parity proves the
    wiring); a subsequently injected orphan row moves the FK counter
    and nothing else."""
    import json
    import uuid as _uuid

    from kafka_flink_harshevents_spark.queries.relational_ext import (
        q_constraint_audit,
    )
    from kafka_flink_harshevents_spark.streaming.audit import (
        FK_CHECK_NAME,
        constraint_audit_stream,
    )
    from tests.conftest import SF_DIR

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    rows = [r.asDict() for r in li.collect()]
    src = tmp_path / "src"
    src.mkdir()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(src / f"b{i}.jsonl", "w") as f:
            f.write("\n".join(json.dumps(r) for r in chunk))

    orders_static = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    stream = spark.readStream.schema(
        "l_orderkey LONG, l_quantity DOUBLE, l_extendedprice DOUBLE,"
        " l_discount DOUBLE"
    ).json(str(src))
    name = f"audit_{_uuid.uuid4().hex[:8]}"
    q = (
        constraint_audit_stream(stream, orders_static)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["check_name"]: (r["n_checked"], r["n_violations"])
            for r in spark.table(name).collect()
        }
        batch = {
            r["check_name"]: (r["n_checked"], r["n_violations"])
            for r in q_constraint_audit(spark, SF_DIR).collect()
            if r["check_name"] in got
        }
        assert len(got) == 4 and got == batch

        with open(src / "b9.jsonl", "w") as f:
            f.write(
                json.dumps(
                    {"l_orderkey": 999_999_999_999, "l_quantity": 5.0,
                     "l_extendedprice": 10.0, "l_discount": 0.05}
                )
            )
        q.processAllAvailable()
        got2 = {
            r["check_name"]: (r["n_checked"], r["n_violations"])
            for r in spark.table(name).collect()
        }
        fk_n, fk_v = batch[FK_CHECK_NAME]
        assert got2[FK_CHECK_NAME] == (fk_n + 1, fk_v + 1)
        for k, (n, v) in batch.items():
            if k != FK_CHECK_NAME:
                assert got2[k] == (n + 1, v)
    finally:
        q.stop()


def test_dynamic_rules_update_mid_stream(spark, tmp_path):
    """Flink-broadcast-state semantics via foreachBatch + ACID rules
    table: a rule committed mid-stream applies to every later element
    without a restart, each output row records the rules version that
    judged it, and replaying any wave in BATCH under its recorded
    version reproduces the stream's verdicts exactly."""
    from kafka_flink_harshevents_spark.sources.txlog import TxTable
    from kafka_flink_harshevents_spark.streaming.rules import (
        classify_with_rules,
        dynamic_classify_sink,
    )

    rules = TxTable.create(
        spark, str(tmp_path / "rules"), key_cols=("event_type",),
        order_col="rule_ver", n_buckets=2,
    )
    v1 = rules.merge_upsert(spark.createDataFrame(
        [("click", 50.0, 1)], "event_type string, threshold double, rule_ver long"))
    src = tmp_path / "ev"
    src.mkdir()
    out_dir = str(tmp_path / "classified")
    spark.createDataFrame(
        [(1, "click", 40.0), (2, "click", 60.0), (3, "scroll", 99.0)],
        "event_id long, event_type string, value double",
    ).coalesce(1).write.json(str(src / "w1.json"))
    stream = spark.readStream.schema(
        "event_id LONG, event_type STRING, value DOUBLE"
    ).json(str(src) + "/*.json")
    q = (
        stream.writeStream.foreachBatch(dynamic_classify_sink(rules, out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # live rule update: threshold 50 → 10, no stream restart
        v2 = rules.merge_upsert(spark.createDataFrame(
            [("click", 10.0, 2)],
            "event_type string, threshold double, rule_ver long"))
        spark.createDataFrame(
            [(4, "click", 40.0)], "event_id long, event_type string, value double"
        ).coalesce(1).write.json(str(src / "w2.json"))
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["event_id"]: (r["verdict"], r["rule_ver"], r["rules_version"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got[1] == ("OK", 1, v1)          # 40 < 50 under rule v1
    assert got[2] == ("VIOLATION", 1, v1)   # 60 ≥ 50
    assert got[3] == (None, None, v1)       # no rule for scroll: pass-through
    assert got[4] == ("VIOLATION", 2, v2)   # same value 40, new threshold 10
    # batch replay under the RECORDED version reproduces the verdicts
    wave2 = spark.createDataFrame(
        [(4, "click", 40.0)], "event_id long, event_type string, value double")
    replay = classify_with_rules(wave2, rules.read(version=v2)).collect()[0]
    assert (replay["verdict"], replay["rule_ver"]) == got[4][:2]


def test_streaming_session_paths_match_batch(spark, tmp_path):
    """Closed sessions from the streaming path miner must equal the
    batch sessionize+path derivation row-for-row (same 2 h gap, same
    (tms, event_id) order, same 8-step cap) for every session the
    stream has closed — i.e., all but each user's final (still-open)
    session."""
    import uuid as _uuid

    from kafka_flink_harshevents_spark.operators.sessions import (
        sessionize_rows,
    )
    from kafka_flink_harshevents_spark.queries._util import load, ts_millis
    from kafka_flink_harshevents_spark.streaming.paths import (
        PATH_GAP_MS,
        PATH_MAX_STEPS,
        session_paths_stream,
    )
    from tests.conftest import SF_DIR

    e = load(spark, SF_DIR, "events").select(
        "user_id", "event_id", "event_type", ts_millis("ts").alias("tms")
    )
    split = e.approxQuantile("tms", [0.6], 0.0)[0]
    src = tmp_path / "ev"
    src.mkdir()
    e.filter(F.col("tms") <= split).coalesce(1).write.json(str(src / "w1.json"))
    stream = spark.readStream.schema(
        "user_id LONG, event_id LONG, event_type STRING, tms LONG"
    ).json(str(src) + "/*.json")
    name = f"paths_{_uuid.uuid4().hex[:8]}"
    q = (
        session_paths_stream(stream, ttl_ms=3_600_000)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        e.filter(F.col("tms") > split).coalesce(1).write.json(
            str(src / "w2.json")
        )
        _drain(q)
        got = {
            (r["user_id"], r["start_ms"], r["end_ms"], r["n_events"], r["path"])
            for r in spark.table(name).collect()
        }
        assert all(
            r["closed_by"] == "gap" and r["n_late_dropped"] == 0
            for r in spark.table(name).collect()
        )
    finally:
        q.stop()

    # batch expectation: per (user, session) path rows, minus each
    # user's LAST session (still open in stream state)
    rows = sessionize_rows(
        e, key_col="user_id", ts_col="tms", gap=PATH_GAP_MS,
        order_cols=("event_id",),
    )
    sess = rows.groupBy("user_id", "session_id").agg(
        F.min("tms").alias("start_ms"),
        F.max("tms").alias("end_ms"),
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("tms", "event_id", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                1,
                PATH_MAX_STEPS,
            ),
            ">",
        ).alias("path"),
    )
    w = Window.partitionBy("user_id")
    closed = sess.withColumn(
        "last_sid", F.max("session_id").over(w)
    ).filter(F.col("session_id") != F.col("last_sid"))
    want = {
        (r["user_id"], r["start_ms"], r["end_ms"], r["n_events"], r["path"])
        for r in closed.collect()
    }
    assert got == want and want, f"stream/batch path divergence ({len(got)} vs {len(want)})"


def test_dynamic_rules_version_stamp_pinned_under_race(spark, tmp_path):
    """The audit contract: every output row's rules_version names the
    snapshot that actually classified it. A rule commit landing between
    the sink's latest_version() call and its rules read must not make
    the stamp lie — the read is pinned to the stamped version."""
    from kafka_flink_harshevents_spark.sources.txlog import TxTable
    from kafka_flink_harshevents_spark.streaming.rules import (
        classify_with_rules,
        dynamic_classify_sink,
    )

    rules = TxTable.create(
        spark, str(tmp_path / "rules"), key_cols=("event_type",),
        order_col="rule_ver", n_buckets=2,
    )
    rules.merge_upsert(spark.createDataFrame(
        [("click", 50.0, 1)],
        "event_type string, threshold double, rule_ver long"))
    out_dir = str(tmp_path / "classified")
    apply = dynamic_classify_sink(rules, out_dir)

    orig_read = TxTable.read
    fired = {"done": False}

    def racing_read(self, version=None, prune=None):
        # a concurrent rule commit lands between latest_version() and
        # this read — exactly the window the pin must close
        if not fired["done"]:
            fired["done"] = True
            writer = TxTable(spark, self.table_dir)
            writer.merge_upsert(spark.createDataFrame(
                [("click", 10.0, 2)],
                "event_type string, threshold double, rule_ver long"))
        return orig_read(self, version=version, prune=prune)

    TxTable.read = racing_read
    try:
        apply(spark.createDataFrame(
            [(1, "click", 40.0)],
            "event_id long, event_type string, value double"), 0)
    finally:
        TxTable.read = orig_read

    row = spark.read.parquet(out_dir).collect()[0]
    # batch replay under the STAMPED version must reproduce the verdict
    replay = classify_with_rules(
        spark.createDataFrame(
            [(1, "click", 40.0)],
            "event_id long, event_type string, value double"),
        orig_read(rules, version=row["rules_version"]),
    ).collect()[0]
    assert (row["verdict"], row["rule_ver"]) == (
        replay["verdict"], replay["rule_ver"])
    # and concretely: stamped v1 ⇒ classified under threshold 50 ⇒ OK
    assert row["rules_version"] == 2 and row["verdict"] == "OK"


def test_streaming_bottomk_quantiles_match_batch(spark, tmp_path):
    """The streaming bottom-k quantile snapshot after two ingest waves
    must equal the batch twin over the full data — the merge ("union,
    keep K smallest hashes") is batching-insensitive because the kept
    set is a pure function of the row set. Parquet waves keep doubles
    and the precomputed hash bit-exact across the stream boundary."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.streaming.quantiles import (
        bottomk_quantile_batch,
        bottomk_quantile_stream,
    )
    from tests.conftest import SF_DIR

    e = load(spark, SF_DIR, "events").select(
        "event_type",
        "value",
        F.xxhash64("user_id", "ts", "value", "event_type").alias("_h"),
    )
    src = tmp_path / "ev"
    src.mkdir()
    e.filter(F.col("_h") % 2 == 0).coalesce(1).write.parquet(
        str(src / "w1.parquet")
    )
    stream = spark.readStream.schema(
        "event_type STRING, value DOUBLE, _h LONG"
    ).parquet(str(src) + "/*.parquet")
    name = f"bq_{uuid.uuid4().hex[:8]}"
    q = (
        bottomk_quantile_stream(stream, hash_cols=("_h",))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        e.filter(F.col("_h") % 2 != 0).coalesce(1).write.parquet(
            str(src / "w2.parquet")
        )
        q.processAllAvailable()
        latest = (
            spark.table(name)
            .groupBy("event_type")
            .agg(
                F.max_by(
                    F.struct("n_in_sketch", "q5", "q9", "q99"), "emit_seq"
                ).alias("s")
            )
            .select("event_type", "s.n_in_sketch", "s.q5", "s.q9", "s.q99")
        )
        got = {tuple(r) for r in latest.collect()}
    finally:
        q.stop()
    want = {tuple(r) for r in bottomk_quantile_batch(e).collect()}
    assert got == want and len(want) > 0


def test_streaming_bottomk_quantiles_survive_restart(spark, tmp_path):
    """T5/T6 for the quantile sketch: stop after one wave, restart from
    the SAME checkpoint, ingest the second wave — the final snapshot
    must equal the batch twin over the full data (state recovered, no
    double-count, batching-insensitive merge)."""
    from kafka_flink_harshevents_spark.queries._util import load
    from kafka_flink_harshevents_spark.streaming.quantiles import (
        bottomk_quantile_batch,
        bottomk_quantile_stream,
    )
    from tests.conftest import SF_DIR

    e = load(spark, SF_DIR, "events").select(
        "event_type",
        "value",
        F.xxhash64("user_id", "ts", "value", "event_type").alias("_h"),
    )
    src = tmp_path / "ev"
    src.mkdir()
    out: dict = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            key = r["event_type"]
            cur = out.get(key)
            if cur is None or r["emit_seq"] >= cur["emit_seq"]:
                out[key] = r.asDict()

    def run_wave():
        stream = spark.readStream.schema(
            "event_type STRING, value DOUBLE, _h LONG"
        ).parquet(str(src) + "/*.parquet")
        q = (
            bottomk_quantile_stream(stream, hash_cols=("_h",))
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    e.filter(F.col("_h") % 2 == 0).coalesce(1).write.parquet(
        str(src / "w1.parquet"))
    run_wave()  # wave 1, then the query STOPS (availableNow)
    e.filter(F.col("_h") % 2 != 0).coalesce(1).write.parquet(
        str(src / "w2.parquet"))
    run_wave()  # restart from the same checkpoint
    got = {
        (k, v["n_in_sketch"], v["q5"], v["q9"], v["q99"])
        for k, v in out.items()
    }
    want = {tuple(r) for r in bottomk_quantile_batch(e).collect()}
    assert got == want and len(want) > 0
