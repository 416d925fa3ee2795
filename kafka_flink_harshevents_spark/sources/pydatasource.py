"""Pluggable telemetry source via Spark 4's Python DataSource API.

The reference's generator is an external process publishing wire JSON
(mqtt_publish.js:171-285 → MQTT → Kafka); in this engine the same role
is filled two ways: the JVM-side column-expression generator
(`sources/synthetic.py`, operator S5 — the scale path) and THIS module,
which exposes a generator as a first-class *registered source*:

    spark.dataSource.register(TelemetryWireSource)
    spark.read.format("telemetry_wire").option("partitions", 8).load()

so wire-format rows arrive exactly like a Kafka topic would deliver
them (``value`` JSON string + receive timestamp) and flow into the same
`parse_telemetry` → derive path with zero special-casing. The point is
the PLUG: any bespoke feed (device simulators, replay archives, vendor
APIs) can be wrapped the same way and inherit the whole engine.

Scale shape: partitions are independent (`InputPartition(i)` → one
Arrow-batched Python task each; rows are a pure function of (seed, row
index), so the source is deterministic under retries and repartition —
the same discipline as `synthetic.py::_u`, here with md5 because the
generator runs in plain Python, not Catalyst.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

VIOLATION_PROB = 0.65  # mqtt_publish.js:29
BATTERY_PROB = 0.15  # mqtt_publish.js:33
N_DEVICES = 25


def _u(seed: int, i: int, tag: int) -> float:
    """Deterministic uniform [0, 1) from (seed, row, tag) — md5, same
    retry/partition stability rule as synthetic.py::_u."""
    h = hashlib.md5(f"{seed}|{i}|{tag}".encode()).hexdigest()
    return int(h[:8], 16) / 2**32


def _wire_row(seed: int, i: int, base_ts: int) -> tuple[str, int]:
    ts = base_ts + i
    payload: dict = {
        "event_type": "telemetry",
        "device_uuid": f"dev-{i % N_DEVICES}",
        "timestamp": ts,
        "dashcam_power_source": (
            "battery" if _u(seed, i, 1) < BATTERY_PROB else "vehicle"
        ),
        "mqtt_sent_at_ms": ts * 1000 + int(_u(seed, i, 2) * 50),
    }
    if _u(seed, i, 0) < VIOLATION_PROB:
        brake = _u(seed, i, 3) < 0.5
        accel = round(2.8 + _u(seed, i, 4) * 1.7, 2)
        payload["violations"] = [
            {
                "type": "harsh_brake" if brake else "harsh_accel",
                "timestamp": ts,
                "accel_y": -accel if brake else accel,
                "speed_kph": round(_u(seed, i, 6) * 90, 2),
            }
        ]
    received = ts * 1000 + int(_u(seed, i, 5) * 100)
    return json.dumps(payload), received


class TelemetryWireSource(DataSource):
    """``format("telemetry_wire")`` — options: ``partitions`` (default
    4), ``rowsperpartition`` (default 100), ``seed`` (42), ``basets``
    (1700000000, epoch seconds of row 0)."""

    @classmethod
    def name(cls) -> str:
        return "telemetry_wire"

    def schema(self) -> str:
        return "value string, kafka_received_at_ms long"

    def reader(self, schema) -> "TelemetryWireReader":
        return TelemetryWireReader(self.options)

    def simpleStreamReader(self, schema) -> "TelemetryWireStreamReader":
        return TelemetryWireStreamReader(self.options)


class TelemetryWireReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.parts = int(options.get("partitions", "4"))
        self.rows = int(options.get("rowsperpartition", "100"))
        self.seed = int(options.get("seed", "42"))
        self.base_ts = int(options.get("basets", "1700000000"))

    def partitions(self) -> list:
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition) -> Iterator[tuple[str, int]]:
        first = partition.value * self.rows
        for i in range(first, first + self.rows):
            yield _wire_row(self.seed, i, self.base_ts)


class TelemetryWireStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch stream form of the same feed — a Kafka-like
    REPLAYABLE offset protocol in pure Python: the offset dict carries
    the next row index; `readBetweenOffsets` regenerates any committed
    range verbatim (rows are a pure function of (seed, index)), which is
    exactly what checkpoint recovery replays after a failure. Each
    trigger serves ``rowspertrigger`` rows (default 50)."""

    def __init__(self, options: dict) -> None:
        self.per_trigger = int(options.get("rowspertrigger", "50"))
        self.seed = int(options.get("seed", "42"))
        self.base_ts = int(options.get("basets", "1700000000"))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def read(self, start: dict):
        # a concrete list, not a generator: the simple-reader protocol
        # prefetches driver-side and PICKLES the batch to executors
        first = start["index"]
        end = {"index": first + self.per_trigger}
        rows = [
            _wire_row(self.seed, i, self.base_ts)
            for i in range(first, end["index"])
        ]
        return rows, end

    def readBetweenOffsets(self, start: dict, end: dict):
        return [
            _wire_row(self.seed, i, self.base_ts)
            for i in range(start["index"], end["index"])
        ]

    def commit(self, end: dict) -> None:
        pass  # nothing external to clean up — the feed is regenerable
