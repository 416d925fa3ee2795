"""Batch file sources and append sinks (S4, K7 in SURVEY.md §2.1-2.2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kafka_flink_harshevents_spark import schemas
from kafka_flink_harshevents_spark.functions.json_lenient import parse_telemetry


def read_latency_log(spark: SparkSession, path: str) -> DataFrame:
    """Load a ``latencies.json``-style whole-file JSON array (S4,
    visualization.py:11-15). ``multiLine`` because the file is one
    pretty-printed array, not JSONL."""
    return spark.read.schema(schemas.LATENCY_RECORD).option("multiLine", "true").json(path)


def read_telemetry_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """One raw telemetry JSON doc per line → parsed columns, through the
    same lenient parser as the Kafka path (so file-based tests exercise
    the production parse)."""
    return parse_telemetry(spark.read.text(path), value_col="value")
