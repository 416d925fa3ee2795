"""Run plumbing shared by every workload: a fresh run root, the Spark
session, the host-noise sentinel, memory sampling, spans, and the
Spark status-store reader behind the ``spark.*`` per-layer metrics."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result lines."""
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


class RunRoot:
    """One throwaway directory per run for TMPDIR, checkpoints, wire
    files, outputs and the warehouse. A reused checkpoint would replay
    stale offsets, so nothing is shared between runs; ``close`` deletes
    the whole tree."""

    def __init__(self) -> None:
        base = CHECKOUT / ".perfbench"
        base.mkdir(exist_ok=True)
        self.path = Path(tempfile.mkdtemp(prefix="run-", dir=base))
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = str(self.tmp)
        tempfile.tempdir = str(self.tmp)

    def sub(self, name: str) -> Path:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return p

    def close(self) -> None:
        tempfile.tempdir = None
        shutil.rmtree(self.path, ignore_errors=True)


def start_session(root: RunRoot, cores: int):
    """The engine's own session factory on ``local[cores]``, with every
    on-disk location pointed into the run root."""
    # the factory's 16g default is sized for the catalog sweep; these
    # inputs need far less, and on 16g one replay run held 11.8 GB
    # resident against 4.0 GB on 2g (README.md)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    paths = [str(CHECKOUT), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    from kafka_flink_harshevents_spark.session import get_spark

    extra = {
        "spark.local.dir": str(root.sub("spark-local")),
        "spark.sql.warehouse.dir": str(root.sub("warehouse")),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root.tmp}",
        # every batch's progress and every job of the window stay
        # readable until the run reports
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=extra,
    )


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for every child
    process (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while _children().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def calibration_s(spark, runs: int = 2) -> float:
    """``bench.py``'s calibration sentinel: a data-independent codegen
    sum plus one tiny fixed shuffle, min of ``runs``. It reads the host,
    not the code, so it is reported beside the metrics, never in them."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id * 2 + 1)").collect()
        spark.range(100_000).selectExpr("id % 97 AS g", "id").groupBy(
            "g"
        ).count().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of every process this run started (the
    driver JVM and its Python workers), sampled every ``period`` s."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        tree, total = _children(), 0
        todo = list(tree.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(tree.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Tracer:
    """Spans kept in memory and written once at the end. Disabled, every
    ``span`` is a null context, so the untraced run pays nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> int:
        """Record a finished span measured elsewhere (Spark job, stage,
        streaming batch phase)."""
        rec = {"id": len(self.spans), "parent": parent, "name": name,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec["id"]


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


def median(values) -> float:
    return float(statistics.median(values))


SPARK_LAYER = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s",
)


class StatusStore:
    """Per-job-group job and stage metrics from Spark's status store
    (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def groups(self, names, tracer: Tracer | None = None, parent=None) -> dict:
        """Summed metrics of every job whose group is in ``names``, plus
        ``job_busy_s``: the time at least one of those jobs ran."""
        names = set(names)
        out = dict.fromkeys(SPARK_LAYER, 0.0)
        intervals = []
        for job in self._conv.asJava(self._store.jobsList(None)):
            g = job.jobGroup()
            if not g.isDefined() or g.get() not in names:
                continue
            start = job.submissionTime().get().getTime() / 1000.0
            done = job.completionTime()
            end = done.get().getTime() / 1000.0 if done.isDefined() else start
            intervals.append((start, end))
            out["jobs"] += 1
            job_span = tracer.add("job", start, end, parent, job_id=job.jobId()) if tracer else None
            for sid in self._conv.asJava(job.stageIds()):
                for st in self._conv.asJava(
                    self._store.stageData(sid, False, None, False, self._quantiles)
                ):
                    if str(st.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    out["executor_run_s"] += st.executorRunTime() / 1e3
                    out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                    out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                    out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
                    out["gc_s"] += st.jvmGcTime() / 1e3
                    if tracer:
                        tracer.add("stage", _ms(st.submissionTime(), start),
                                   _ms(st.completionTime(), end), job_span,
                                   stage_id=sid, tasks=st.numTasks())
        out["job_busy_s"] = _union_length(intervals)
        return out


def _ms(opt, default: float) -> float:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else default


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
