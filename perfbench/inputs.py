"""Seeded inputs. Everything the system under test reads is made here,
from ``--seed`` alone, before the timed window: telemetry wire files
from ``sources.synthetic.synthetic_telemetry`` and the ``documents``,
``embeddings`` and ``orders`` tables the catalog entries scan."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from kafka_flink_harshevents_spark.sources.synthetic import synthetic_telemetry

N_DEVICES = 1000  # mqtt_publish.js NUM_DEVICES: one burst of 1,000 messages per second
DOUBLE_ENCODED_SHARE = 0.01
MALFORMED_SHARE = 0.005
# Placeholder for mqtt_sent_at_ms in paced payloads; the generator swaps
# in the message's due time (epoch ms) when it publishes the burst.
DUE_PLACEHOLDER = "9999999999999"


def wire_frame(spark, n_rows: int, seed: int, paced: bool, num_partitions: int):
    """``n_rows`` telemetry.raw payloads as one ``value`` string column,
    ~1% double-encoded and ~0.5% malformed (opening brace cut), plus an
    Observation that, once the frame is written, holds the event counts
    the topology must deliver from them. Row ``i`` is device
    ``i % 1000 + 1`` at second ``i // 1000``; ``spark.range`` partitions
    are contiguous, so partition order is message order."""
    tel = synthetic_telemetry(
        spark, n_rows, n_devices=N_DEVICES, seed=seed, num_partitions=num_partitions
    )
    if paced:
        tel = tel.withColumn("mqtt_sent_at_ms", F.lit(int(DUE_PLACEHOLDER)))
    u = F.pmod(F.xxhash64("device_uuid", "timestamp", F.lit(seed)), F.lit(100_000)) / 100_000.0
    body = F.to_json(F.struct(*tel.columns))
    escaped = F.regexp_replace(F.regexp_replace(body, r"\\", r"\\\\"), '"', r'\\"')
    kind = (
        F.when(u < MALFORMED_SHARE, "malformed")
        .when(u < MALFORMED_SHARE + DOUBLE_ENCODED_SHARE, "double")
        .otherwise("plain")
    )
    framed = tel.select(
        "*",
        kind.alias("kind"),
        # without its opening brace the payload is wholly unparseable
        F.when(kind == "malformed", body.substr(F.lit(2), F.length(body)))
        .when(kind == "double", F.concat(F.lit('"'), escaped, F.lit('"')))
        .otherwise(body)
        .alias("value"),
    )
    ok = F.col("kind") != "malformed"
    battery = F.lower("dashcam_power_source") == "battery"
    counted = Observation("expected")
    framed = framed.observe(
        counted,
        F.sum(F.when(ok, F.size("violations")).otherwise(0)).alias("violations"),
        F.sum(F.when(ok & battery, 1).otherwise(0)).alias("status"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("malformed"),
    )
    return framed.select("value"), counted


def _counts(counted) -> dict:
    return {k: int(v) for k, v in counted.get.items()}


def write_backlog(spark, out_dir: Path, n_rows: int, seed: int, n_files: int) -> dict:
    """Pre-stage a replay backlog: ``n_files`` text files of exactly
    ``n_rows / n_files`` messages each."""
    wire, counted = wire_frame(spark, n_rows, seed, paced=False, num_partitions=n_files)
    wire.write.mode("overwrite").text(str(out_dir))
    return _counts(counted)


def paced_bursts(spark, n_seconds: int, seed: int) -> tuple[list[list[str]], dict]:
    """One list of 1,000 payloads per second, due-time placeholder in."""
    wire, counted = wire_frame(spark, n_seconds * N_DEVICES, seed, paced=True, num_partitions=4)
    values = [r.value for r in wire.collect()]
    bursts = [values[i : i + N_DEVICES] for i in range(0, len(values), N_DEVICES)]
    return bursts, _counts(counted)


# -- catalog tables ----------------------------------------------------------
# Every shape below was measured on the sf0.01 fixture tables (500
# documents, 500 embeddings, 15,000 orders); perfbench/README.md lists
# the measurements. The fixtures hold the same shares at sf0.1.

# the fixture corpus's whole vocabulary, each word about equally frequent
_WORDS = (
    "a the data table row column key value part line order customer agg join "
    "scan sort hash merge filter group window batch stream query spark vector "
    "fast slow big small"
).split()
_WORDS_PER_DOC = (10, 99)  # uniform, inclusive
# near-duplicates: another document's text with " dup" appended; the
# fixtures hold no exact duplicates
_NEAR_DUP_SHARE = 0.05
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.436, 0.150, 0.146, 0.140, 0.128)
_N_SOURCES = 20  # source is src{doc_id % 20}
# unit-normalized isotropic Gaussian vectors; the label carries no
# signal (nearest-neighbour label agreement 0.096 against 0.1 by chance)
_DIM, _N_LABELS = 64, 10
_ORDER_DAY0, _ORDER_DAYS = dt.datetime(1995, 1, 1), 2405
_PRICE_RANGE = (1_000.0, 500_000.0)


def write_tables(out_dir: Path, seed: int, n_docs: int, n_vecs: int, n_orders: int) -> None:
    """``documents``, ``embeddings`` and ``orders`` parquet files with the
    fixture tables' measured shapes."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)

    lo, hi = _WORDS_PER_DOC
    texts = [
        " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), rng.integers(lo, hi + 1)))
        for _ in range(n_docs)
    ]
    # in order, so a copy can be of an earlier copy, as in the fixtures
    for i in rng.choice(n_docs, round(_NEAR_DUP_SHARE * n_docs), replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[j] for j in rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
            "source": [f"src{i % _N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        out_dir / "documents.parquet",
    )

    vecs = rng.normal(size=(n_vecs, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, _N_LABELS, n_vecs), pa.int32()),
        }),
        out_dir / "embeddings.parquet",
    )

    days = rng.integers(0, _ORDER_DAYS, n_orders)
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10), n_orders), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(*_PRICE_RANGE, n_orders), 2),
            "o_orderdate": pa.array(
                [_ORDER_DAY0 + dt.timedelta(days=int(d)) for d in days], pa.timestamp("us")
            ),
            "o_orderpriority": [
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[j]
                for j in rng.integers(0, 5, n_orders)
            ],
        }),
        out_dir / "orders.parquet",
    )
