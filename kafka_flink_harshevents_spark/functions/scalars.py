"""Scalar column helpers (SURVEY.md §2.9) — all JVM-side expressions.

Each reproduces a precise reference behavior; none is a UDF, so they all
stay inside WholeStageCodegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MPH_PER_KPH = 0.621371  # mqtt_publish.js:178


def kph_to_mph(kph: Column) -> Column:
    """Unit conversion P6 (``mqtt_publish.js:177-178``)."""
    return kph * F.lit(MPH_PER_KPH)


def default_device_uuid(device_uuid: Column) -> Column:
    """Key defaulting P7: trim, and empty/absent → ``"unknown-device"``
    (``mqttToKafka.js:60-64``)."""
    trimmed = F.trim(device_uuid)
    return F.when(trimmed.isNotNull() & (F.length(trimmed) > 0), trimmed).otherwise(
        F.lit("unknown-device")
    )


def lenient_bool(col: Column) -> Column:
    """Dynamic-typing tolerance for fields documented bool but emitted as
    int (``location_changed``: README.md:463 vs mqtt_publish.js:265)."""
    s = F.lower(F.trim(col.cast("string")))
    return F.when(s.isin("true", "1"), F.lit(True)).when(
        s.isin("false", "0"), F.lit(False)
    )


def iso8601_ms(epoch_ms: Column) -> Column:
    """``new Date(ms).toISOString()`` equivalent (``kafkaConsumer.js:209``):
    UTC ISO-8601 with milliseconds and a ``Z`` suffix."""
    return F.date_format(
        F.timestamp_millis(epoch_ms), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    )


EARTH_RADIUS_KM = 6371.0088  # IUGG mean radius


def haversine_km(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance between two lon/lat points in km.

    The reference only *stores* GeoJSON points (2dsphere index,
    ``kafkaConsumer.js:148``) and never queries them; this is the
    geo-predicate building block SURVEY.md §2.9 scopes for when a query
    needs one. Pure trig expressions — codegen-friendly, no UDF.
    """
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))
