"""Seeded synthetic telemetry source (operator S5, SURVEY.md §2.1).

Reproduces the distributions of the reference's load generator
(``mqtt_publish.js:171-285``) as pure column expressions, so the same
projection serves ``spark.range`` (batch) and the ``rate`` streaming
source — deterministic under a seed, fully JVM-side, no Python in the
row path, embarrassingly parallel at any scale.

Distributions reproduced (reference ``mqtt_publish.js``):
- lon ∈ [72.0, 73.5], lat ∈ [21.0, 23.5]            (:174-175)
- speed_kph ∈ [0, 90], speed_mph = kph × 0.621371    (:177-178)
- accel_y: spike p=0.25 → ±[2.8, 4.5], else [-1, 1]  (:181-185)
- violation present p=0.65 (VIOLATION_PROB, :29)     (:189-229)
- forced-violation branch when accel_y is small      (:211-229)
- dashcam_power_source battery p=0.15 (:33)          (:233-234)
- vehicle/account drawn from pools p=0.6/0.7         (:276-281)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VIOLATION_PROB = 0.65  # mqtt_publish.js:29
BATTERY_PROB = 0.15  # mqtt_publish.js:33
SPIKE_PROB = 0.25  # mqtt_publish.js:182

# mqtt_publish.js:155-166
ACCOUNT_POOL = (
    "693273ad26df5d305f556728",
    "693273ad26df5d305f556729",
    "693273ad26df5d305f556730",
)
VEHICLE_POOL = (
    "694ce21db964dc22844b75eb",
    "693ab2683c72f03dfae8ddc5",
    "694ce21db964dc22844b75ec",
)


def _u(tag: int):
    """Uniform [0,1) derived by hashing (row id, tag).

    Deliberately NOT ``F.rand(seed)``: Rand is a *stateful* per-partition
    sequence, so (a) copies of the same expression inside different
    CaseWhen branches desynchronize when branches short-circuit, and
    (b) values change whenever the partition layout changes. Hashing is
    branch-safe, repartition-stable, and identical on a 1-core laptop or
    a 1000-executor cluster.
    """
    h = F.xxhash64(F.col("id"), F.lit(tag))
    return F.pmod(h, F.lit(1_000_000_000)).cast("double") / 1.0e9


def _uniform(tag: int, lo: float, hi: float):
    return _u(tag) * (hi - lo) + lo


def _rand_int(tag: int, lo: int, hi: int):
    """randInt(lo, hi) inclusive (mqtt_publish.js:124-126)."""
    return F.floor(_u(tag) * (hi - lo + 1) + lo).cast("int")


def _pool_pick(tag_gate: int, tag_idx: int, tag_hex: int, p: float, pool):
    """p: draw from pool; else a Mongo-ObjectId-like 24-hex string
    (mqtt_publish.js:144-149, 276-281)."""
    idx = F.floor(_u(tag_idx) * len(pool)).cast("int")
    pool_col = F.array(*[F.lit(x) for x in pool])[idx]
    fake_hex = F.lower(F.hex(F.abs(F.xxhash64(F.col("id"), F.lit(tag_hex)))))
    fake_id = F.rpad(fake_hex, 24, "0")
    return F.when(_u(tag_gate) < p, pool_col).otherwise(fake_id)


def telemetry_columns(df: DataFrame, seed: int, base_ts: int, n_devices: int) -> DataFrame:
    """Project an ``id``-column DataFrame into full telemetry rows.

    Shared by batch (``spark.range``) and streaming (``rate`` source);
    one row of telemetry per input ``id``, 1 row/sec per device.
    """
    s = seed
    ts = F.lit(base_ts) + (F.col("id") / n_devices).cast("long")

    speed_kph = F.round(_uniform(s + 3, 0.0, 90.0), 1)
    # accel_y spike logic (mqtt_publish.js:181-185)
    spike_up = _uniform(s + 5, 2.8, 4.5)
    spike_dn = _uniform(s + 6, -4.5, -2.8)
    accel_y = F.round(
        F.when(
            _u(s + 4) < SPIKE_PROB,
            F.when(_u(s + 7) < 0.5, spike_up).otherwise(spike_dn),
        ).otherwise(_uniform(s + 8, -1.0, 1.0)),
        6,
    )

    include_violation = _u(s + 9) < VIOLATION_PROB
    elem_ts = ts
    # natural branches (mqtt_publish.js:193-208)
    brake_elem = F.struct(
        elem_ts.alias("timestamp"),
        F.lit("harsh_brake").alias("type"),
        accel_y.alias("accel_y"),
        speed_kph.alias("speed_kph"),
        F.round(_uniform(s + 10, -20.0, -6.0), 1).alias("delta_speed"),
    )
    accel_elem = F.struct(
        elem_ts.alias("timestamp"),
        F.lit("harsh_accel").alias("type"),
        accel_y.alias("accel_y"),
        speed_kph.alias("speed_kph"),
        F.round(_uniform(s + 11, 6.0, 20.0), 1).alias("delta_speed"),
    )
    # forced branch when accel_y is small (mqtt_publish.js:211-229)
    forced_brake = F.struct(
        elem_ts.alias("timestamp"),
        F.lit("harsh_brake").alias("type"),
        F.round(_uniform(s + 12, -4.2, -2.8), 6).alias("accel_y"),
        speed_kph.alias("speed_kph"),
        F.round(_uniform(s + 13, -18.0, -7.0), 1).alias("delta_speed"),
    )
    forced_accel = F.struct(
        elem_ts.alias("timestamp"),
        F.lit("harsh_accel").alias("type"),
        F.round(_uniform(s + 14, 2.8, 4.2), 6).alias("accel_y"),
        speed_kph.alias("speed_kph"),
        F.round(_uniform(s + 15, 7.0, 18.0), 1).alias("delta_speed"),
    )
    violations = (
        F.when(~include_violation, F.expr("array()").cast(
            "array<struct<timestamp:bigint,type:string,accel_y:double,"
            "speed_kph:double,delta_speed:double>>"
        ))
        .when(accel_y <= -2.7, F.array(brake_elem))
        .when(accel_y >= 2.7, F.array(accel_elem))
        .when(_u(s + 16) < 0.5, F.array(forced_brake))
        .otherwise(F.array(forced_accel))
    )

    lon = F.round(_uniform(s + 1, 72.0, 73.5), 6)
    lat = F.round(_uniform(s + 2, 21.0, 23.5), 6)
    device_idx = (F.col("id") % n_devices + 1).cast("int")

    return df.select(
        F.concat(F.lit("device-"), device_idx).alias("device_uuid"),
        (ts * 1000 + _rand_int(s + 17, 0, 999).cast("long")).alias("mqtt_sent_at_ms"),
        ts.alias("timestamp"),
        F.lit("1").alias("fix_quality"),
        F.round(_uniform(s + 18, 70.0, 90.0), 2).alias("temp_C"),
        F.round(_uniform(s + 19, -1.0, 5.0), 6).alias("accel_x"),
        accel_y.alias("accel_y"),
        F.round(F.lit(9.8) + _uniform(s + 20, -1.0, 2.0), 6).alias("accel_z"),
        F.round(_uniform(s + 21, -0.05, 0.05), 6).alias("gyro_x"),
        F.round(_uniform(s + 22, -0.05, 0.05), 6).alias("gyro_y"),
        F.round(_uniform(s + 23, -0.05, 0.05), 6).alias("gyro_z"),
        _rand_int(s + 24, 60, 80).alias("cpu_temp"),
        _rand_int(s + 25, 60, 80).alias("soc_temp"),
        F.round(_uniform(s + 26, 55.0, 75.0), 2).alias("main_board_temp"),
        F.concat(
            _rand_int(s + 27, 899198200, 899198299).cast("string"),
            _rand_int(s + 28, 1000000000, 2000000000).cast("string"),
        ).alias("sim_iccid"),
        F.concat(
            F.lit("40498"), _rand_int(s + 29, 1000000000, 2000000000).cast("string")
        ).alias("sim_imsi"),
        _rand_int(s + 30, 70, 100).alias("signal_strength_percent"),
        (_u(s + 31) < 0.1).alias("imu_is_stopped"),
        F.when(_u(s + 32) < BATTERY_PROB, "battery")
        .otherwise("external")
        .alias("dashcam_power_source"),
        _rand_int(s + 33, 60, 90).alias("battery_capacity"),
        F.lit("N").alias("lat_dir"),
        F.lit("E").alias("lon_dir"),
        # emitted as integer 1 despite documented bool (mqtt_publish.js:265)
        F.lit("1").alias("location_changed"),
        speed_kph.alias("speed_kph"),
        F.round(speed_kph * 0.621371, 6).alias("speed_mph"),
        F.lit(True).alias("ontrip"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(lon, lat).alias("coordinates"),
        ).alias("location"),
        _pool_pick(s + 34, s + 35, s + 36, 0.6, VEHICLE_POOL).alias("vehicle_id"),
        _pool_pick(s + 37, s + 38, s + 39, 0.7, ACCOUNT_POOL).alias("account_id"),
        violations.alias("violations"),
    )


def synthetic_telemetry(
    spark: SparkSession,
    n_rows: int,
    n_devices: int = 5,
    seed: int = 42,
    base_ts: int = 1_760_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Batch synthetic telemetry: ``n_rows`` deterministic rows."""
    base = spark.range(0, n_rows, numPartitions=num_partitions)
    return telemetry_columns(base, seed=seed, base_ts=base_ts, n_devices=n_devices)
