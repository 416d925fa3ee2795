"""Streaming KMV distinct sketch — the cardinality twin of the
Misra–Gries heavy-hitters stream (`streaming/heavyhitters.py`), and the
continuous form of the batch `ev_kmv_distinct` entry.

The reference consumer's Redis counters track frequencies; cardinality
("how many distinct users today") needs either an unbounded set or a
sketch. KMV (Bar-Yossef et al. 2002) keeps the k lexicographically
smallest hashes of the values seen — BOUNDED state per group, and a
merge that is just "union, sort, keep k", which is exactly the
micro-batch update below. Because the sketch state is a deterministic
function of the distinct VALUE SET (no randomness, no engine-specific
registers), the streaming snapshot after any ingest order equals the
batch query's sketch over the same data — pinned by
`test_streaming_kmv_matches_batch`.

Scale shape: state is ≤ k hash strings per group, emitted in update
mode with a per-group ``emit_seq`` so sinks keep the latest snapshot.
One shuffle on the group key; the per-batch work is batch-sized. The
estimator (k−1)/u(k) and the exact-when-undersized rule match the
batch entry exactly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_flink_harshevents_spark.operators.text import SAMPLE_FIXED_K, _md5_unit
from kafka_flink_harshevents_spark.queries.events import KMV_K

_OUT_SCHEMA = (
    "event_type string, n_in_sketch long, kth_hash string,"
    " est_distinct double, emit_seq long"
)
_STATE_SCHEMA = "arr array<string>, emit_seq long"


def _kmv_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    arr, seq = state.get if state.exists else ([], 0)
    merged = set(arr)
    for pdf in pdfs:
        merged.update(pdf["h"])
    arr = sorted(merged)[:KMV_K]
    seq += 1
    state.update((arr, seq))
    kth = arr[-1] if arr else None
    if not arr:
        est = 0.0
    elif len(arr) < KMV_K:
        est = float(len(arr))
    else:
        # round to 4dp AT EMIT, matching the batch twin ev_kmv_distinct:
        # live consumers see byte-identical snapshots, no test-side
        # rounding needed.
        est = round((KMV_K - 1) / (int(kth[:8], 16) / 2**32), 4)
    yield pd.DataFrame(
        [(str(key[0]), len(arr), kth, est, seq)],
        columns=[
            "event_type", "n_in_sketch", "kth_hash", "est_distinct", "emit_seq"
        ],
    )


def kmv_distinct_stream(
    events: DataFrame, key_col: str = "event_type", val_col: str = "user_id"
) -> DataFrame:
    """``events`` stream → update stream of per-group KMV snapshots
    ``(event_type, n_in_sketch, kth_hash, est_distinct, emit_seq)``.

    The hash is the SAME ``md5('kmv|' || value)`` construction as the
    batch entry, computed JVM-side in the stateless projection; the
    stateful stage only merges bounded string arrays."""
    hashed = events.select(
        F.col(key_col).alias("event_type"),
        F.md5(
            F.concat(F.lit("kmv|"), F.col(val_col).cast("string"))
        ).alias("h"),
        # NULL values hash to NULL; drop them HERE (JVM-side) — the batch
        # twin's collect_list skips NULLs, and a None reaching the pandas
        # sort would poison-pill the micro-batch forever (checkpoint
        # retries replay it).
    ).filter(F.col("h").isNotNull())
    return hashed.groupBy("event_type").applyInPandasWithState(
        _kmv_update,
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Sketch-store + query-time set algebra — the streaming half of the
# batch ev_kmv_set_ops entry.

_SK_OUT_SCHEMA = "event_type string, arr array<string>, emit_seq long"


def _kmv_sketch_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    arr, seq = state.get if state.exists else ([], 0)
    merged = set(arr)
    for pdf in pdfs:
        merged.update(pdf["h"])
    arr = sorted(merged)[:KMV_K]
    seq += 1
    state.update((arr, seq))
    yield pd.DataFrame(
        [(str(key[0]), arr, seq)], columns=["event_type", "arr", "emit_seq"]
    )


def kmv_sketch_stream(
    events: DataFrame, key_col: str = "event_type", val_col: str = "user_id"
) -> DataFrame:
    """``events`` stream → update stream of per-group FULL sketch
    snapshots ``(event_type, arr, emit_seq)`` — the sketch-STORE shape
    (Druid/DataSketches theta-sketch pattern): the stream maintains one
    bounded sketch per dimension value in parallel state (≤ k hash
    strings each, one shuffle on the group key), and set-algebra
    questions are answered at QUERY TIME by merging stored snapshots
    (`kmv_set_ops_snapshot`) — no cross-key state, no single-task
    bottleneck, and the same state bound as `kmv_distinct_stream`.

    The distinct-estimate stream above emits only the kth hash;
    this one emits the whole array because set algebra needs sketch
    MEMBERSHIP (ρ = |union-sketch ∩ A ∩ B| / k), not just the kth
    order statistic."""
    hashed = events.select(
        F.col(key_col).alias("event_type"),
        F.md5(
            F.concat(F.lit("kmv|"), F.col(val_col).cast("string"))
        ).alias("h"),
    ).filter(F.col("h").isNotNull())
    return hashed.groupBy("event_type").applyInPandasWithState(
        _kmv_sketch_update,
        _SK_OUT_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def kmv_set_ops_snapshot(latest: DataFrame) -> DataFrame:
    """Query-time set algebra over the latest stored sketch snapshots:
    ``(event_type, arr)`` → per unordered type pair ``(type_a, type_b,
    est_union, est_inter)``, 4dp-rounded exactly like the batch
    `ev_kmv_set_ops` emit. Delegates to the SHARED
    `queries.events.kmv_merge_pairs` expression tree, so stream-fed and
    batch-built sketches answer overlap questions with bit-identical
    arithmetic (pinned by
    tests/test_streaming.py::test_streaming_kmv_set_ops_matches_batch).
    """
    from kafka_flink_harshevents_spark.queries.events import kmv_merge_pairs

    merged = kmv_merge_pairs(latest.select("event_type", "arr"))
    return merged.select(
        "type_a",
        "type_b",
        F.round(F.col("est_u_raw"), 4).alias("est_union"),
        F.round(F.col("est_i_raw"), 4).alias("est_inter"),
    )


# ---------------------------------------------------------------------------
# Deterministic fixed-k reservoir — the streaming twin of
# queries.documents.doc_sample_fixed_k.

_RES_OUT_SCHEMA = "lang string, doc_id long, u double, emit_seq long"
_RES_STATE_SCHEMA = "us array<double>, ids array<long>, emit_seq long"


def _reservoir_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    us, ids, seq = state.get if state.exists else ([], [], 0)
    pool = {int(i): float(v) for v, i in zip(us, ids)}
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            pool[int(r.doc_id)] = float(r.u)
    keep = sorted(pool.items(), key=lambda kv: (kv[1], kv[0]))[:SAMPLE_FIXED_K]
    seq += 1
    state.update(([v for _, v in keep], [i for i, _ in keep], seq))
    yield pd.DataFrame(
        [(str(key[0]), i, v, seq) for i, v in keep],
        columns=["lang", "doc_id", "u", "emit_seq"],
    )


def sample_fixed_k_stream(docs: DataFrame) -> DataFrame:
    """``(doc_id, lang)`` stream → update stream of per-language
    reservoir snapshots (``emit_seq``-stamped; keep the latest batch's
    rows per lang). The reservoir is DETERMINISTIC — the k smallest
    md5-uniform keys with a doc_id tie-break — so unlike the classic
    randomized reservoir it is a pure function of the SET of documents
    seen: any arrival order, batching, or restart converges to the
    identical sample, byte-for-byte equal to the batch
    `doc_sample_fixed_k` over the same corpus (the parity test feeds
    two arbitrary waves). State is ≤ k (u, doc_id) pairs per stratum —
    the same bounded-merge shape as the KMV sketch above."""
    keyed = docs.select(
        "lang",
        "doc_id",
        _md5_unit(F.col("doc_id"), "fixk|").alias("u"),
    ).filter(F.col("doc_id").isNotNull() & F.col("lang").isNotNull())
    return keyed.groupBy("lang").applyInPandasWithState(
        _reservoir_update,
        _RES_OUT_SCHEMA,
        _RES_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
