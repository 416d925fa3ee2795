"""Streaming document-quality gate + router — the reference's
side-output split (kafkaConsumer.js topic routing / O2, see
`plans/pipeline.py::consumer_stage`) applied to the LLM-data ingest
path: a continuous crawl scores every arriving document with EXACTLY
the batch quality battery (`operators.text.quality_columns` — one
shared definition, so stream and batch can never drift) and routes it
keep / review / drop.

Scale shape: the scorer is a stateless narrow projection (array ops on
the row's own text — no shuffle, no state store); the split is the
standard multi-consumer filter over ONE scored stream, so the scan and
the scoring work are shared across all three sinks exactly like the
violations/status side-outputs. NULL text is dropped JVM-side before
scoring (the kmv/locf/dedup stream hygiene convention: a NULL would
score NULL and route nowhere, then poison downstream non-null
assumptions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.operators.text import (
    quality_columns,
    round_score,
)

# bucket → route: the ingest policy the reference's threshold-derivation
# operators (F10) use — promote/hold/discard tiers.
ROUTE_BY_BUCKET = {"high": "keep", "medium": "review", "low": "drop"}


def with_quality(docs: DataFrame) -> DataFrame:
    """Append ``quality_score`` / ``quality_bucket`` / ``route`` to the
    frame IN PLACE (all original columns kept) — the stateless
    projection both the router and composed ingest pipelines build on.
    The score/bucket expressions come from the ONE shared factory
    (`operators.text.quality_columns`), so drift from the batch
    entry is structurally impossible."""
    score, bucket = quality_columns()
    route = F.element_at(
        F.create_map(*[F.lit(x) for kv in ROUTE_BY_BUCKET.items() for x in kv]),
        bucket,
    )
    return (
        docs.filter(F.col("text").isNotNull())
        .withColumn("quality_score", round_score(score))
        .withColumn("quality_bucket", bucket)
        .withColumn("route", route)
    )


def quality_scored_stream(docs: DataFrame) -> DataFrame:
    """``(doc_id, text, …)`` stream → ``(doc_id, quality_score,
    quality_bucket, route)``: the shared scored stream every route
    consumer filters from."""
    return with_quality(docs).select(
        "doc_id", "quality_score", "quality_bucket", "route"
    )


def quality_route_streams(docs: DataFrame) -> dict[str, DataFrame]:
    """Side-output split: three filtered views over ONE scored stream
    (`consumer_stage` convention — the filter pushes into the shared
    scan, so scoring happens once however many sinks attach)."""
    scored = quality_scored_stream(docs)
    return {
        route: scored.filter(F.col("route") == route)
        for route in ROUTE_BY_BUCKET.values()
    }
