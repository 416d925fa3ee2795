"""telemetry_paced and telemetry_replay: the reference topology
(``derive_stage`` → ``as_event_stream`` → ``run_consumer_stage``) over a
file-source stand-in for ``telemetry.raw``, with latency rows, counters
and sessions (TTL 300 s) on as-fast-as-possible triggers."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import threading
import time
from bisect import bisect_right
from collections import Counter
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_flink_harshevents_spark.functions.json_lenient import parse_telemetry
from kafka_flink_harshevents_spark.operators.violations import (
    device_status_from_telemetry,
    violations_from_telemetry,
)
from kafka_flink_harshevents_spark.plans.pipeline import (
    as_event_stream,
    consumer_stage,
    derive_stage,
    run_consumer_stage,
)
from kafka_flink_harshevents_spark.sources.kafka import (
    DEVICE_STATUS_TOPIC,
    VIOLATIONS_TOPIC,
    records_for_kafka,
)
from kafka_flink_harshevents_spark.streaming.consumer import (
    latency_records,
    route_device_status,
    route_violations,
    violation_type_counts,
)
from perfbench import inputs
from perfbench.common import StatusStore, median, percentile

SESSION_TTL_S = 300
# The backlog drains in three micro-batches per query, so the median
# message lands in the second batch and the 90th percentile in the third.
REPLAY_TRIGGERS = 3
# Backlog size per second of --seconds. Each trigger costs 5-9 s at any
# batch size, so per-trigger cost dominates here; README.md gives the
# backlog sizes at which the per-record kernels would, and why they do
# not fit the run budget.
REPLAY_MSGS_PER_S = 1_500
PACED_WARMUP_S = 4

KERNEL_SELF_TIMES = (
    "json_lenient.parse_s",
    "violations.derive_s",
    "kafka_wire.serialize_s",
    "consumer.route_s",
)

PHASES = {
    "trigger_ms": "triggerExecution",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def _event_stream(raw, received_at_ms=None):
    """``telemetry.raw`` lines (batch or stream) → the consumer's unioned
    event source: ``parse_telemetry`` → ``derive_stage`` → ``as_event_stream``."""
    v_wire, s_wire = derive_stage(parse_telemetry(raw))
    return as_event_stream(v_wire, VIOLATIONS_TOPIC, received_at_ms).unionByName(
        as_event_stream(s_wire, DEVICE_STATUS_TOPIC, received_at_ms)
    )


def _topology(spark, wire_dir: Path, root: Path, max_files: int | None):
    """Start every consumer-side query on one file-backed telemetry
    stream. Returns ``{name: StreamingQuery}``."""
    reader = spark.readStream.format("text")
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return run_consumer_stage(
        spark,
        _event_stream(reader.load(str(wire_dir))),
        str(root / "out"),
        str(root / "checkpoints"),
        latency_trigger_seconds=None,
        counter_trigger_seconds=None,
        session_ttl_seconds=SESSION_TTL_S,
    )


def _drain(queries: dict, timeout_s: float = 150.0) -> None:
    """Wait until every query has consumed every file present now, then
    stop them. The sessions query runs no-data batches back to back (its
    processing-time timers ask for them), so ``processAllAvailable``
    never returns for it; it is drained once a batch that started after
    this call read no input."""
    begin = time.time()
    deadline = begin + timeout_s
    for name, q in queries.items():
        if name != "sessions":
            q.processAllAvailable()
    ses = queries.get("sessions")
    while ses is not None and ses.exception() is None:
        p = ses.lastProgress
        if (
            p is not None
            and "addBatch" in p["durationMs"]
            and p["numInputRows"] == 0
            and _epoch_s(p["timestamp"]) > begin
        ):
            break
        if time.time() > deadline:
            raise RuntimeError("sessions query did not drain its input")
        time.sleep(0.05)
    for q in queries.values():
        q.stop()
    for name, q in queries.items():
        if q.exception() is not None:
            raise RuntimeError(f"query {name} failed: {q.exception()}")


def _last_commit(progress: dict[str, list[dict]]) -> float:
    """Epoch s at which the last batch that read input committed."""
    return max(
        _epoch_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
        for ps in progress.values()
        for p in _executed(ps)
        if p["numInputRows"] > 0
    )


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _executed(progress: list[dict]) -> list[dict]:
    return [p for p in progress if "addBatch" in p["durationMs"]]


def _delivered_at(latency_progress: list[dict], received_ms) -> list[float]:
    """Commit time (epoch s) of the latency-query batch that delivered
    each row. A row's ``kafka_received_at_ms`` is its batch's
    timestamp, which falls inside that batch's trigger."""
    spans = sorted(
        (_epoch_s(p["timestamp"]), p["durationMs"]["triggerExecution"] / 1e3)
        for p in _executed(latency_progress)
    )
    starts = [s for s, _ in spans]
    out = []
    for r in received_ms:
        start, took = spans[max(0, bisect_right(starts, r / 1e3 + 0.001) - 1)]
        out.append(start + took)
    return out


def _latency_rows(spark, out_dir: Path):
    schema = T.StructType([
        T.StructField("device_uuid", T.StringType()),
        T.StructField("mqtt_sent_at_ms", T.LongType()),
        T.StructField("kafka_received_at_ms", T.LongType()),
    ])
    df = spark.read.schema(schema).json(str(out_dir / "latencies"))
    return df.toPandas()


def _counters(spark, out_dir: Path) -> dict[str, int]:
    rows = spark.read.json(str(out_dir / "counters_current")).collect()
    return {r["violation_type"]: int(r["n"]) for r in rows}


def _batch_oracle(spark, wire_dir: Path):
    """``consumer_stage`` over ``spark.read`` of the same wire files."""
    events = _event_stream(spark.read.text(str(wire_dir)), 0)
    stage = consumer_stage(events.cache())
    keys = stage["latency"].select("device_uuid", "mqtt_sent_at_ms").toPandas()
    counters = {r["violation_type"]: int(r["n"]) for r in stage["counters"].collect()}
    n_status = stage["status"].count()
    events.unpersist()
    return keys, counters, n_status


def _check(spark, wire_dir: Path, out_dir: Path, expected: dict, streamed, drop_one: bool) -> int:
    """Failed messages: each expected event missing from, or repeated
    in, the streamed latency rows; each counter that differs from the
    batch oracle; each batch-oracle count that differs from what the
    generator made."""
    if drop_one:
        streamed = streamed.iloc[1:]
    keys, counters, n_status = _batch_oracle(spark, wire_dir)
    want = Counter(zip(keys.device_uuid, keys.mqtt_sent_at_ms))
    got = Counter(zip(streamed.device_uuid, streamed.mqtt_sent_at_ms))
    failed = sum(((want - got) + (got - want)).values())
    failed += sum(n > 1 for n in want.values())
    stream_counters = _counters(spark, out_dir)
    failed += sum(
        stream_counters.get(k) != counters.get(k) for k in set(counters) | set(stream_counters)
    )
    failed += abs(len(keys) - expected["violations"]) + abs(n_status - expected["status"])
    return failed


def _stream_layers(progress: dict[str, list[dict]], messages: int, ctx, wall: float) -> dict:
    """Per-layer numbers from StreamingQueryProgress and the status
    store, with a span per query, micro-batch and Spark job."""
    for name, ps in progress.items():
        runs = _executed(ps)
        if not runs:
            continue
        first = _epoch_s(runs[0]["timestamp"])
        last = _epoch_s(runs[-1]["timestamp"]) + runs[-1]["durationMs"]["triggerExecution"] / 1e3
        q = ctx.tracer.add("query", first, last, query=name)
        for p in runs:
            start = _epoch_s(p["timestamp"])
            ctx.tracer.add("batch", start, start + p["durationMs"]["triggerExecution"] / 1e3, q,
                           batch_id=p["batchId"], rows=p["numInputRows"], duration_ms=p["durationMs"])
    executed = [p for ps in progress.values() for p in _executed(ps)]
    out = {
        f"microbatch.{k}": median([p["durationMs"].get(v, 0) for p in executed])
        for k, v in PHASES.items()
    }
    out["microbatch.batches"] = len(executed)
    out["microbatch.empty_batch_ratio"] = sum(p["numInputRows"] == 0 for p in executed) / len(executed)
    out["microbatch.scan_amplification"] = sum(p["numInputRows"] for p in executed) / messages
    ses = _executed(progress["sessions"])
    ops = [p["stateOperators"][0] for p in ses if p.get("stateOperators")]
    out["sessions.state_rows"] = ops[-1]["numRowsTotal"] if ops else 0
    out["sessions.state_memory_mb"] = ops[-1]["memoryUsedBytes"] / 1e6 if ops else 0.0
    out["sessions.commit_ms"] = median([o["commitTimeMs"] for o in ops]) if ops else 0.0
    out["sessions.rows_updated"] = sum(o["numRowsUpdated"] for o in ops)
    store = StatusStore(ctx.spark)
    spark_m = store.groups((ps[0]["runId"] for ps in progress.values() if ps), ctx.tracer)
    out.update({f"spark.{k}": v for k, v in spark_m.items() if k != "job_busy_s"})
    out["spark.driver_only_s"] = max(0.0, wall - spark_m["job_busy_s"])
    out["spark.cpu_utilization"] = spark_m["executor_cpu_s"] / (wall * ctx.cores)
    return out


def _kernel_layers(spark, wire_dir: Path) -> dict:
    """Kernel self time by prefix: materialize each public-function
    prefix to ``noop`` over the same wire files and take differences."""

    def timed(*frames, metric) -> tuple[float, list]:
        """Wall of writing every frame to ``noop``, and ``metric``
        observed on each during that same write."""
        seen, t0 = [], time.perf_counter()
        for df in frames:
            seen.append(Observation())
            df.observe(seen[-1], metric).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, [next(iter(o.get.values())) for o in seen]

    count = F.count(F.lit(1)).alias("n")
    raw = spark.read.text(str(wire_dir))
    parsed = parse_telemetry(raw)
    viol, status = violations_from_telemetry(parsed), device_status_from_telemetry(parsed)
    v_wire, s_wire = records_for_kafka(viol), records_for_kafka(status)
    events = _event_stream(raw, 0)
    routed_v, routed_s = route_violations(events), route_device_status(events)

    mb = (F.sum(F.length("value")) / 1e6).alias("mb")
    t_scan, (records_in,) = timed(raw, metric=count)
    t_parse, (parsed_n,) = timed(parsed, metric=count)
    t_derive, (events_out, status_out) = timed(viol, status, metric=count)
    t_wire, wire_mb = timed(v_wire, s_wire, metric=mb)
    t_events, _ = timed(events, metric=count)
    t_route, (valid_v, valid_s) = timed(routed_v, routed_s, metric=count)
    latency_n = latency_records(routed_v).count()
    counted = violation_type_counts(routed_v).agg(F.sum("n")).first()[0] or 0
    return {
        "json_lenient.parse_s": t_parse - t_scan,
        "json_lenient.records_in": records_in,
        "json_lenient.dropped": records_in - parsed_n,
        "violations.derive_s": t_derive - 2 * t_parse,
        "violations.events_out": events_out,
        "violations.status_out": status_out,
        "kafka_wire.serialize_s": t_wire - t_derive,
        "kafka_wire.mb_out": sum(wire_mb),
        "consumer.route_s": t_route - 2 * t_events,
        "consumer.valid_violations": valid_v,
        "consumer.valid_status": valid_s,
        "consumer.dropped": events_out + status_out - valid_v - valid_s,
        "consumer.latency_rows": latency_n,
        "consumer.counter_rows": int(counted),
    }


class _Publisher(threading.Thread):
    """Open-loop generator: burst ``k`` is due at ``t0 + k`` seconds and is
    published then, whatever the system is doing. Each burst is written
    beside the watched directory and renamed in, so the file source never
    sees a partial file."""

    def __init__(self, bursts, wire_dir: Path, stage_dir: Path, t0: float) -> None:
        super().__init__(daemon=True)
        self.bursts, self.wire_dir, self.stage_dir, self.t0 = bursts, wire_dir, stage_dir, t0
        self.lateness: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for k, burst in enumerate(self.bursts):
                due = self.t0 + k
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                due_ms = str(int(round(due * 1000)))
                text = "\n".join(v.replace(inputs.DUE_PLACEHOLDER, due_ms) for v in burst)
                staged = self.stage_dir / f"burst-{k:05d}.json"
                staged.write_text(text + "\n")
                os.rename(staged, self.wire_dir / staged.name)
                self.lateness.append(time.time() - due)
        except BaseException as exc:  # surfaced by the caller after join
            self.error = exc


def run_paced(ctx) -> dict:
    spark, root = ctx.spark, ctx.root
    seconds = ctx.seconds
    t0 = time.perf_counter()
    bursts, expected = inputs.paced_bursts(spark, PACED_WARMUP_S + seconds, ctx.seed)
    ctx.setup["inputs_s"] = time.perf_counter() - t0
    wire_dir, stage_dir = root.sub("paced/wire"), root.sub("paced/stage")
    run_dir = root.sub("paced/run")
    t0 = time.perf_counter()
    queries = _topology(spark, wire_dir, run_dir, None)
    start = time.time() + 0.5
    pub = _Publisher(bursts, wire_dir, stage_dir, start)
    pub.start()
    # the first PACED_WARMUP_S bursts warm the queries; timing starts after
    warm_end = start + PACED_WARMUP_S
    time.sleep(max(0.0, warm_end - time.time()))
    ctx.setup["warmup_s"] = time.perf_counter() - t0
    with ctx.window():
        pub.join()
        if pub.error is not None:
            raise pub.error
        _drain(queries)
        progress = {n: _progress(q) for n, q in queries.items()}

    out_dir = run_dir / "out"
    all_rows = _latency_rows(spark, out_dir)
    rows = all_rows[all_rows.mqtt_sent_at_ms >= int(warm_end * 1000) - 10]
    commits = _delivered_at(progress["latency"], rows.kafka_received_at_ms)
    lat_ms = [(c - d / 1e3) * 1e3 for c, d in zip(commits, rows.mqtt_sent_at_ms)]
    n_timed = seconds * inputs.N_DEVICES
    wall = max(commits) - warm_end
    attempted = (PACED_WARMUP_S + seconds) * inputs.N_DEVICES
    failed = _check(spark, wire_dir, out_dir, expected, all_rows, ctx.inject_drop)
    result = {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "latency_p50_ms": percentile(lat_ms, 50),
            "latency_p90_ms": percentile(lat_ms, 90),
            "throughput_msgs_per_s": (n_timed - failed) / wall,
            "wall_s": wall,
        },
        "diag": {
            "generator_max_lateness_ms": max(pub.lateness) * 1e3,
            "latency_samples": len(lat_ms),
            "latency_batches": len(set(commits)),
            "timed_messages_offered": n_timed,
        },
    }
    if ctx.trace:
        result["layers"] = _stream_layers(progress, attempted, ctx, wall)
        result["layers"].update(_kernel_layers(spark, wire_dir))
    return result


def _replay_once(spark, root: Path, wire_dir: Path, files_per_trigger: int):
    """Drain a pre-staged backlog; returns (wall s, start epoch s, progress)."""
    root.mkdir(parents=True, exist_ok=True)
    start = time.time()
    queries = _topology(spark, wire_dir, root, files_per_trigger)
    _drain(queries)
    progress = {n: _progress(q) for n, q in queries.items()}
    return _last_commit(progress) - start, start, progress


def run_replay(ctx) -> dict:
    spark, root, cores = ctx.spark, ctx.root, ctx.cores
    n_msgs = ctx.scale(REPLAY_MSGS_PER_S) * ctx.seconds
    n_files = REPLAY_TRIGGERS * cores
    n_msgs -= n_msgs % n_files
    t0 = time.perf_counter()
    backlog = root.sub("replay/backlog")
    expected = inputs.write_backlog(spark, backlog, n_msgs, ctx.seed, n_files)
    ctx.setup["inputs_s"] = time.perf_counter() - t0
    ctx.setup["warmup_s"] = 0.0

    run_dir = root.path / "replay/run"
    with ctx.window():
        wall, start, progress = _replay_once(spark, run_dir, backlog, cores)

    out_dir = run_dir / "out"
    rows = _latency_rows(spark, out_dir)
    commits = _delivered_at(progress["latency"], rows.kafka_received_at_ms)
    lat_ms = [(c - start) * 1e3 for c in commits]
    failed = _check(spark, backlog, out_dir, expected, rows, ctx.inject_drop)
    result = {
        "attempted": n_msgs,
        "failed": failed,
        "e2e": {
            "latency_p50_ms": percentile(lat_ms, 50),
            "latency_p90_ms": percentile(lat_ms, 90),
            "throughput_msgs_per_s": n_msgs / wall,
            "wall_s": wall,
        },
        "diag": {
            "latency_samples": len(lat_ms),
            "latency_batches": len(set(commits)),
            "backlog_messages": n_msgs,
            "max_messages_per_trigger": n_msgs // REPLAY_TRIGGERS,
        },
    }
    if ctx.trace:
        layers = _stream_layers(progress, n_msgs, ctx, wall)
        layers.update(_kernel_layers(spark, backlog))
        # how much of the drain the per-record kernels could account for
        layers["kernels.share_of_wall"] = sum(layers[k] for k in KERNEL_SELF_TIMES) / wall
        # single-threaded baseline: the same drain on local[1] over the
        # first REPLAY_TRIGGERS backlog files, one file per trigger, so
        # both drains run REPLAY_TRIGGERS triggers
        part = root.sub("replay/local1-backlog")
        files = sorted(p for p in backlog.iterdir() if p.name.startswith("part-"))
        n_part = 0
        for p in files[:REPLAY_TRIGGERS]:
            shutil.copy(p, part / p.name)
            n_part += p.read_bytes().count(b"\n")
        ctx.end_calibration()
        spark1 = ctx.restart_session(1)
        wall1, _, _ = _replay_once(spark1, root.path / "replay/local1", part, 1)
        rate1 = n_part / wall1
        layers["engine.local1_msgs_per_s"] = rate1
        layers["engine.scaling_efficiency"] = (n_msgs / wall) / (cores * rate1)
        result["layers"] = layers
    return result
