#!/usr/bin/env python3
"""Repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload telemetry_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones; both print
host-noise diagnostics on the line before the result. See
perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.common import (  # noqa: E402
    CHECKOUT,
    RssSampler,
    RunRoot,
    Tracer,
    calibration_s,
    log,
    start_session,
    stop_spark,
)


def _workloads():
    from perfbench import catalog, telemetry

    return {
        "telemetry_paced": telemetry.run_paced,
        "telemetry_replay": telemetry.run_replay,
        "catalog_batch": catalog.run_batch,
    }


class Context:
    """What a workload needs from the run: inputs, the session, and
    places to record set-up phases and the timed window."""

    def __init__(self, args, root: RunRoot, tracer: Tracer) -> None:
        self.seed, self.seconds, self.size = args.seed, args.seconds, args.size
        self.trace, self.inject_drop = bool(args.trace), args.inject_drop
        self.cores = len(os.sched_getaffinity(0))
        self.root, self.tracer = root, tracer
        self.setup: dict[str, float] = {}
        self.spark = None
        self.cal_end: float | None = None

    def scale(self, n: int) -> int:
        return n if self.size == "full" else max(1, n // 25)

    def start(self, cores: int):
        t0 = time.perf_counter()
        self.spark = start_session(self.root, cores)
        return time.perf_counter() - t0

    def end_calibration(self) -> None:
        """The closing host-noise reading, on the run's own session. A
        workload that restarts the session takes it before the restart."""
        if self.cal_end is None:
            self.cal_end = calibration_s(self.spark)

    def restart_session(self, cores: int):
        self.spark.stop()
        self.start(cores)
        return self.spark

    @contextlib.contextmanager
    def window(self):
        """The timed window."""
        log("timed window starts")
        with self.tracer.span("window"):
            yield
        log("timed window ends")


def main(argv=None) -> int:
    spec = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    # telemetry_paced runs on request only: see README.md for why it is
    # not among the benchmark's workloads
    names = [w["name"] for w in spec["workloads"]] + ["telemetry_paced"]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy shrinks every input, for the self-test")
    ap.add_argument("--inject-drop", action="store_true",
                    help="drop one output record before the checks (self-test)")
    args = ap.parse_args(argv)
    try:
        import kafka_flink_harshevents_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is missing: {exc}", file=sys.stderr)
        return 2

    # a terminated run still deletes its run root on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_start = time.time()
    tracer = Tracer(bool(args.trace))
    root = RunRoot()
    ctx = Context(args, root, tracer)
    try:
        with RssSampler() as rss, tracer.span("run", workload=args.workload, seed=args.seed):
            ctx.setup["session_s"] = ctx.start(ctx.cores)
            log("session up")
            cal_start = calibration_s(ctx.spark)
            log("calibration done")
            with tracer.span("workload", workload=args.workload):
                result = _workloads()[args.workload](ctx)
            log("workload done")
            ctx.end_calibration()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        # the run root goes even when Spark cannot be stopped cleanly
        try:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
        finally:
            root.close()

    values = dict(result.get("layers", {}) if args.trace else result["e2e"])
    values["setup_s"] = ctx.setup["session_s"] + ctx.setup["inputs_s"] + ctx.setup["warmup_s"]
    values["process.peak_rss_mb"] = rss.peak_mb
    if args.trace:
        values["trace.wall_s"] = result["e2e"]["wall_s"]
    declared = spec["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        # a layer this workload never reaches did no work: it reads 0
        for m in declared:
            values.setdefault(m["name"], 0)
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": ctx.cores,
        "calibration_start_s": cal_start,
        "calibration_end_s": ctx.cal_end,
        "failed_ratio": result["failed"] / result["attempted"],
        "peak_rss_mb": rss.peak_mb,
        "setup_phases_s": ctx.setup,
        "run_s": time.time() - run_start,
        **result["diag"],
    }
    if args.trace:
        out = CHECKOUT / ".perfbench" / "traces"
        out.mkdir(parents=True, exist_ok=True)
        path = out / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        path.write_text(json.dumps({"diagnostics": diag, "spans": tracer.spans}))
        diag["trace_file"] = str(path.relative_to(CHECKOUT))
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
