"""catalog_batch: one closed-loop client runs a fixed list of catalog
entries back to back, each materialized to the ``noop`` sink like
``bench.py`` does. Results are checked against their DuckDB oracle in
the untimed warm-up pass."""

from __future__ import annotations

import shutil
import sys
import time
import traceback
from pathlib import Path

import duckdb

from kafka_flink_harshevents_spark.queries import all_oracles, all_queries
from perfbench import inputs
from perfbench.common import StatusStore, median, percentile
from tools.oracle_audit import values_equal

# One entry per read family, then one transactional-table gate. The
# reads are scan, shuffle and pandas-heavy and commit nothing: the
# MinHash-LSH near-dup path, pHash media near-dup pairs and the PQ
# recall gate. The gate is the write path: append, DELETE, MERGE and
# RESTORE, every commit through sources.txlog. Every run pays a cold
# pass first, so the list is short.
CATALOG_BATCH = (
    "doc_neardup_clusters",
    "mm_phash_pairs",
    "emb_knn_pq_recall",
    "q_txlog_restore_gate",
)
FAMILIES = {"doc_": "documents", "mm_": "multimodal", "emb_": "embeddings"}
TABLE_SIZES = {"full": (500, 500, 15_000), "toy": (120, 120, 2_500)}
# One warm pass fills the window: the cold pass before it already takes
# most of a run's time budget (README.md).
MIN_PASSES = 1


def _same(actual, expected) -> bool:
    """``tools/oracle_audit``'s comparison: same columns and row count,
    rows sorted, values equal cell by cell."""
    cols = sorted(actual.columns)
    if cols != sorted(expected.columns) or len(actual) != len(expected):
        return False
    a = actual[cols].sort_values(cols, ignore_index=True)
    b = expected[cols].sort_values(cols, ignore_index=True)
    return all(
        values_equal(x, y) for c in cols for x, y in zip(a[c], b[c])
    )


def _txlog_counts(tmp: Path) -> dict:
    commits = checkpoints = data_files = 0
    size = 0
    for p in tmp.rglob("*"):
        if not p.is_file():
            continue
        size += p.stat().st_size
        if p.parent.name == "_txlog":
            if p.name.startswith("chk-"):
                checkpoints += 1
            elif p.name[:1].isdigit() and p.suffix == ".json":
                commits += 1
        elif p.suffix == ".parquet":
            data_files += 1
    return {
        "txlog.commits": commits,
        "txlog.checkpoints": checkpoints,
        "txlog.data_files": data_files,
        "txlog.mb_written": size / 1e6,
    }


def _clear(tmp: Path) -> None:
    for p in tmp.iterdir():
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.unlink(missing_ok=True)


def _timed(spark, group: str, query, sf_dir: str) -> tuple[float, bool]:
    """Wall of one entry to the ``noop`` sink, its jobs tagged ``group``."""
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(group, group)
    t = time.perf_counter()
    try:
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()
        ok = True
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    return time.perf_counter() - t, ok


def run_batch(ctx) -> dict:
    spark, root, names = ctx.spark, ctx.root, CATALOG_BATCH
    sc = spark.sparkContext
    t0 = time.perf_counter()
    tables = root.sub("tables")
    inputs.write_tables(tables, ctx.seed, *TABLE_SIZES[ctx.size])
    sf_dir = str(tables)
    ctx.setup["inputs_s"] = time.perf_counter() - t0

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    for t in ("documents", "embeddings", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables / t}.parquet'")

    # warm-up pass: the first run of each entry pays JIT, codegen and
    # Python-worker start; its result is the one checked against DuckDB
    t0 = time.perf_counter()
    failed = attempted = 0
    for i, name in enumerate(names):
        attempted += 1
        try:
            actual = queries[name](spark, sf_dir).toPandas()
            if ctx.inject_drop and i == 0:
                actual = actual.iloc[1:]
            ok = _same(actual, con.execute(oracles[name]).fetchdf())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {name} does not match its oracle", file=sys.stderr)
            failed += 1
    con.close()
    _clear(root.tmp)
    ctx.setup["warmup_s"] = time.perf_counter() - t0

    walls: dict[str, list[float]] = {n: [] for n in names}
    pass_walls: list[float] = []
    groups: list[str] = []
    with ctx.window():
        window_t0 = time.perf_counter()
        while len(pass_walls) < MIN_PASSES or time.perf_counter() - window_t0 < ctx.seconds:
            with ctx.tracer.span("pass", index=len(pass_walls)):
                for name in names:
                    attempted += 1
                    groups.append(f"{name}#{len(pass_walls)}")
                    with ctx.tracer.span("entry", entry=name):
                        wall, ok = _timed(spark, groups[-1], queries[name], sf_dir)
                    walls[name].append(wall)
                    failed += not ok
            pass_walls.append(sum(walls[n][-1] for n in names))
            txlog = _txlog_counts(root.tmp)
            _clear(root.tmp)
        window = time.perf_counter() - window_t0
    sc._jsc.sc().clearJobGroup()

    entry_ms = [w * 1e3 for ws in walls.values() for w in ws]
    n_exec = sum(len(ws) for ws in walls.values())
    result = {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "latency_p50_ms": percentile(entry_ms, 50),
            "latency_p90_ms": percentile(entry_ms, 90),
            "throughput_msgs_per_s": n_exec / window,
            "wall_s": median(pass_walls),
        },
        "diag": {"passes": len(pass_walls), "latency_samples": len(entry_ms)},
    }
    if ctx.trace:
        passes = len(pass_walls)
        store = StatusStore(spark)
        spark_m = store.groups(groups, ctx.tracer)
        layers = {f"spark.{k}": v / passes for k, v in spark_m.items() if k != "job_busy_s"}
        busy = sum(pass_walls)
        layers["spark.driver_only_s"] = max(0.0, busy - spark_m["job_busy_s"]) / passes
        layers["spark.cpu_utilization"] = spark_m["executor_cpu_s"] / (busy * ctx.cores)
        for prefix, family in FAMILIES.items():
            layers[f"{family}.wall_s"] = sum(
                median(walls[n]) for n in names if n.startswith(prefix)
            )
        layers.update({f"entry.{n}.wall_s": median(walls[n]) for n in names})
        layers.update(txlog)
        result["layers"] = layers
    return result
